"""Read Spark's own metrics for one job group from the status REST API.

Only stdlib ``urllib``: the benchmark asks the driver's UI server
(``sparkContext.uiWebUrl``) for the jobs, stages and SQL executions that
a job group ran, and sums them. SQL metrics arrive as display strings
such as ``"total (min, med, max (stageId: taskId))\\n12.3 s (1.0 s, 2.0 s,
3.1 s (stage 4.0: task 17))"``; `parse_metric` turns them into numbers.
"""

from __future__ import annotations

import datetime
import json
import re
import time
import urllib.parse
import urllib.request

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30,
    "TiB": 2.0**40, "PiB": 2.0**50,
}
_VALUE = re.compile(r"(-?\d[\d,]*(?:\.\d+)?)\s*([A-Za-z]+)?")
_MAX_AT = re.compile(r"\(stage (\d+)\.(\d+): task \d+\)")


def parse_metric(text: str) -> dict:
    """Parse one SQL metric display string into seconds, bytes or a count.

    Returns ``{"total": float, "min"/"med"/"max": float (when shown),
    "max_stage": (stage_id, attempt) or None}``. Times come back in
    seconds and sizes in bytes."""
    body = text.split("\n", 1)[1] if text.startswith("total (") else text
    values = []
    for num, unit in _VALUE.findall(body.split("(stage", 1)[0]):
        if unit and unit not in _UNITS:
            continue
        values.append(float(num.replace(",", "")) * _UNITS.get(unit, 1.0))
    if not values:
        raise ValueError(f"unparsable metric value: {text!r}")
    out = {"total": values[0], "max_stage": None}
    if len(values) >= 4:
        out.update(min=values[1], med=values[2], max=values[3])
    m = _MAX_AT.search(body)
    if m:
        out["max_stage"] = (int(m.group(1)), int(m.group(2)))
    return out


def _epoch(stamp: str) -> float:
    """Seconds since the epoch of a REST timestamp (``...T12:00:01.123GMT``)."""
    dt = datetime.datetime.strptime(stamp.removesuffix("GMT"), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=datetime.timezone.utc).timestamp()


class SparkRest:
    """Status REST API of one running application."""

    def __init__(self, spark):
        sc = spark.sparkContext
        url = urllib.parse.urlparse(sc.uiWebUrl)
        # the UI server listens on every interface; ask it on loopback
        self.base = f"http://127.0.0.1:{url.port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def _group_jobs(self, group: str, timeout_s: float) -> list[dict]:
        """Jobs of `group`, once the listener has recorded them all as
        finished (the status store is updated asynchronously)."""
        deadline = time.monotonic() + timeout_s
        while True:
            jobs = [j for j in self.get("/jobs") if j.get("jobGroup") == group]
            if jobs and all(j["status"] != "RUNNING" for j in jobs):
                return jobs
            if time.monotonic() > deadline:
                raise TimeoutError(f"jobs of group {group!r} still running")
            time.sleep(0.2)

    def group_metrics(self, group: str, timeout_s: float = 30.0) -> tuple[dict, list]:
        """Totals over every job of `group`, plus the Python-node metrics
        of its MapInPandas nodes and the task spread of the busiest one.
        Also returns the group's stages, each with ``wall_s`` added."""
        jobs = self._group_jobs(group, timeout_s)
        job_ids = {j["jobId"] for j in jobs}
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        deadline = time.monotonic() + timeout_s
        while True:
            stages = [
                s for s in self.get("/stages")
                if s["stageId"] in stage_ids and s["status"] in ("COMPLETE", "FAILED")
            ]
            if all(s["numCompleteTasks"] + s["numFailedTasks"] >= s["numTasks"]
                   for s in stages):
                break
            if time.monotonic() > deadline:
                raise TimeoutError(f"stages of group {group!r} not complete")
            time.sleep(0.2)
        for s in stages:
            s["wall_s"] = _epoch(s["completionTime"]) - _epoch(s["submissionTime"])
        mb = 1.0 / 2**20
        out = {
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(s["numCompleteTasks"] for s in stages),
            "spark.single_task_stages": sum(1 for s in stages if s["numTasks"] == 1),
            "spark.executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "spark.executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "spark.jvm_gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "spark.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) * mb,
            "spark.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) * mb,
            "spark.spill_mb": sum(s["diskBytesSpilled"] for s in stages) * mb,
        }
        out.update(self._python_nodes(job_ids, stages, timeout_s))
        return out, stages

    def _python_nodes(self, job_ids: set, stages: list[dict], timeout_s: float) -> dict:
        deadline = time.monotonic() + timeout_s
        while True:
            execs = [
                e for e in self.get("/sql?details=true&planDescription=false&length=100000")
                if job_ids & set(e.get("successJobIds", []) + e.get("failedJobIds", []))
            ]
            nodes = [n for e in execs for n in e["nodes"] if n["nodeName"] == "MapInPandas"]
            if all(e["status"] != "RUNNING" for e in execs) and all(
                n["metrics"] for n in nodes
            ):
                break
            if time.monotonic() > deadline:
                raise TimeoutError("SQL executions still running")
            time.sleep(0.2)
        names = {
            "time to run Python workers": "extract.python_run_s",
            "time to start Python workers": "extract.python_start_s",
            "time to initialize Python workers": "extract.python_init_s",
            "data sent to Python workers": "extract.arrow_sent_mb",
            "data returned from Python workers": "extract.arrow_returned_mb",
        }
        out = {v: 0.0 for v in names.values()}
        busiest, busiest_run = None, -1.0
        for n in nodes:
            for m in n["metrics"]:
                key = names.get(m["name"])
                if key is None:
                    continue
                p = parse_metric(m["value"])
                out[key] += p["total"] / 2**20 if key.endswith("_mb") else p["total"]
                if key == "extract.python_run_s" and p["total"] > busiest_run:
                    busiest, busiest_run = p["max_stage"], p["total"]
        if not nodes:
            raise ValueError("no MapInPandas node with Python metrics in this run")
        # a one-task stage shows no "(stage s.a: task t)" annotation
        stage = next(
            (s for s in stages if (s["stageId"], s["attemptId"]) == busiest),
            max(stages, key=lambda s: s["executorRunTime"]),
        )
        busiest = (stage["stageId"], stage["attemptId"])
        q = self.get(
            f"/stages/{busiest[0]}/{busiest[1]}/taskSummary?quantiles=0.5,1.0"
        )
        out.update({
            "extract.tasks": stage["numCompleteTasks"],
            "extract.task_median_s": q["duration"][0] / 1e3,
            "extract.task_max_s": q["duration"][1] / 1e3,
            # the exchange feeding the extraction stage writes exactly the
            # bytes that stage reads (0 when it reads its input files)
            "extract.shuffle_write_mb": stage["shuffleReadBytes"] / 2**20,
        })
        return out
