#!/usr/bin/env python3
"""Seeded extraction benchmark for smartreader_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload web_pages --seed 1 --seconds 10 --trace 0

Workloads (workloads.py): web_pages, training_pipeline.
The seed generates every input; the package sees only the generated
files, through its public entry points, at ``local[nproc]`` from this one
process. ``setup_s`` times the one cold set-up: input generation, JVM
launch and session start, Python worker warm-up. After an untimed
prepare step, the timed runs share that session (see README.md for the steadiness study behind that choice) and
repeat until ``--seconds`` of measured time and at least MIN_RUNS runs.
Every run's output is checked.

``--trace 1`` makes one timed run, one traced run, and then the
per-layer probes (layers.py). Both modes print a table of every metric
with its unit, then one JSON line ``{"correct", "attempted", "failed",
"metrics"}`` whose metrics are BENCHMARK.json's ``end_to_end`` list
(``--trace 0``) or ``per_layer`` list (``--trace 1``). The exit code is
non-zero if a check fails or the package cannot be found. Every process
the invocation starts (the JVM, the Python workers, the oracle's pool)
has ended before it prints its result or exits (procs.py).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time

import procs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_RUNS = 3
TRACE_MIN_RUNS = 1

#: units of the printed metrics that BENCHMARK.json does not list
OTHER_UNITS = {"failed_doc_ratio": "ratio", "output_mismatches": "count",
               "article_recall": "ratio", "boilerplate_leak": "ratio"}


def unit_of(name: str, units: dict) -> str:
    if name in units:
        return units[name]
    return "s" if name.endswith("_s") else "MB" if name.endswith("_mb") else "count"


class RssMonitor:
    """Peak resident memory of this process and its descendants (the JVM,
    the Python daemon and workers), sampled from /proc: of the whole tree,
    of the JVM, and of the Python processes.

    Of the JVM's children only Python processes count: the JVM shells out
    (chmod, ls) through spawned children that share its address space
    until they exec, and counting one of those would count the JVM twice."""

    KINDS = ("total", "jvm", "python")

    PERIOD_S = 0.05

    def __init__(self):
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._peak = dict.fromkeys(self.KINDS, 0)
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def tree_rss(self) -> dict:
        children, comm, _ = procs.proc_table()
        rss, todo = dict.fromkeys(self.KINDS, 0), [os.getpid()]
        while todo:
            pid = todo.pop()
            for child in children.get(pid, ()):
                if comm[pid] != "java" or comm[child].startswith("python"):
                    todo.append(child)
            try:
                with open(f"/proc/{pid}/statm") as f:
                    size = int(f.read().split()[1]) * self._page
            except OSError:
                continue
            rss["total"] += size
            rss["jvm" if comm[pid] == "java" else "python"] += size
        return rss

    def _loop(self) -> None:
        while not self._stop.wait(self.PERIOD_S):
            rss = self.tree_rss()
            with self._lock:
                for kind in self.KINDS:
                    self._peak[kind] = max(self._peak[kind], rss[kind])

    def start(self) -> "RssMonitor":
        self._thread.start()
        return self

    def take_peak_mb(self) -> dict:
        """Peaks since the previous call, in MB, by kind."""
        rss = self.tree_rss()
        with self._lock:
            peak = {k: max(self._peak[k], rss[k]) / 2**20 for k in self.KINDS}
            self._peak = dict.fromkeys(self.KINDS, 0)
        return peak

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return ticks[7], sum(ticks[:8])


def steal_share(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    """Share of the CPU time between two `cpu_ticks` readings that the
    hypervisor gave to other guests."""
    return (t1[0] - t0[0]) / max(1, t1[1] - t0[1])


def environment(nproc: int) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": nproc,
        "sched_getaffinity": sorted(os.sched_getaffinity(0)),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
    }


def scaling_ratio(value: float, cores: int) -> float:
    """Refuse a per-core ratio for more cores than this process may use."""
    if cores > len(os.sched_getaffinity(0)):
        raise ValueError(f"{cores} cores requested, "
                         f"{len(os.sched_getaffinity(0))} available: no scaling ratio")
    return value / cores


def start_session(nproc: int):
    from smartreader_spark.pipeline.session import make_session, warm_python_workers

    t0 = time.perf_counter()
    spark = make_session(master=f"local[{nproc}]", app_name="perfbench",
                         shuffle_partitions=nproc)
    t1 = time.perf_counter()
    warm_python_workers(spark, nproc)
    return spark, t1 - t0, time.perf_counter() - t1


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside `work`, and
    make the package importable in the Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    sys.path[:0] = [ROOT, HERE]


def set_up(wl, nproc: int, rec: dict, spark=None):
    """One timed set-up: input generation, session start (and JVM launch
    when none runs), worker warm-up. Stops `spark` first (untimed)."""
    if spark is not None:
        spark.stop()
    t0 = time.perf_counter()
    wl.generate()
    spark, start_s, warm_s = start_session(nproc)
    rec["setup_s"].append(time.perf_counter() - t0)
    rec["start_s"].append(start_s)
    rec["warm_s"].append(warm_s)
    return spark


def timed_runs(wl, nproc: int, seconds: float, mon: RssMonitor,
               min_runs: int = MIN_RUNS, fresh: bool = False) -> dict:
    """The cold set-up, then checked runs in its session until `seconds`
    of measured time and `min_runs` runs, each with the share of the
    machine's CPU time the hypervisor stole while it ran. Returns that
    session still open, for the traced run. ``fresh=True`` gives every
    run after the first a new session in the same JVM (steadiness.py
    compares the two)."""
    rec = {"setup_s": [], "start_s": [], "warm_s": [], "wall_s": [], "steal": [], "rss_mb": [],
           "attempted": 0, "failed": 0, "mismatches": 0, "extra": []}
    spark = set_up(wl, nproc, rec)
    t0 = time.perf_counter()
    wl.begin()
    rec["mismatches"] += wl.prepare(spark)
    rec["prepare_s"] = time.perf_counter() - t0
    while len(rec["wall_s"]) < min_runs or sum(rec["wall_s"]) < seconds:
        if fresh and rec["wall_s"]:
            spark = set_up(wl, nproc, rec, spark)
        mon.take_peak_mb()
        ticks = cpu_ticks()
        res, wall = one_run(wl, spark, len(rec["wall_s"]))
        rec["steal"].append(steal_share(ticks, cpu_ticks()))
        rec["wall_s"].append(wall)
        rec["rss_mb"].append(mon.take_peak_mb())
        rec["mismatches"] += wl.check(spark, res)
        rec["attempted"] += res["attempted"]
        rec["failed"] += res["failed"]
        rec["extra"].append(res)
    rec["spark"] = spark
    return rec


def one_run(wl, spark, k: int):
    wl.reset(spark)
    t0 = time.perf_counter()
    res = wl.run(spark, k)
    return res, time.perf_counter() - t0


def traced_run(wl, rec: dict, nproc: int, seed: int, trace_dir: str) -> dict:
    """One more run with spans around the layer calls, then the layer
    probes. Returns the per-layer metrics."""
    import layers
    from sparkrest import SparkRest

    spark = rec["spark"]
    sc = spark.sparkContext
    tracer = layers.Tracer(f"{wl.name}-seed{seed}-traced")
    k = len(rec["wall_s"])
    sc.setJobGroup("traced", f"{wl.name} traced run")
    with tracer.wrapping(wl.traced_calls):
        with tracer.span(f"{wl.name}.run"):
            res, _ = one_run(wl, spark, k)
    sc.setJobGroup("probes", f"{wl.name} layer probes")
    with tracer.span(f"{wl.name}.check"):
        rec["mismatches"] += wl.check(spark, res)
    rec["attempted"] += res["attempted"]
    rec["failed"] += res["failed"]
    rest = SparkRest(spark)
    m, stages = rest.group_metrics("traced")

    m["session.start_s"] = rec["start_s"][0]
    m["session.warm_workers_s"] = rec["warm_s"][0]

    sample = layers.kernel_sample(wl.htmls())
    with tracer.span("kernel.probe"):
        m.update(layers.kernel_metrics(sample))
    with tracer.span("extract.batch_probe"):
        total, inner = layers.batch_overhead_s(sample)
    # scaled by bytes from the sample to the HTML of one run
    scale = wl.run_html_mb() / m["kernel.input_mb"]
    m["extract.batch_overhead_s"] = (total - inner) * scale
    m["extract.kernel_share"] = m["kernel.extract_html_s"] * scale / m["extract.python_run_s"]
    with tracer.span("extract.reassemble_probe"):
        m["extract.reassemble_s"] = layers.reassemble_s(spark, wl.input_df(spark))
    docs_per_s = wl.n_docs / statistics.median(rec["wall_s"])
    m["extract.parallel_efficiency"] = scaling_ratio(
        docs_per_s / m["kernel.docs_per_s_single"], nproc)
    m.update(wl.layer_metrics(spark, tracer, stages, res))
    # the tracer's own bookkeeping, over the traced run and the probes
    m["trace.overhead_s"] = tracer.overhead_s

    os.makedirs(trace_dir, exist_ok=True)
    with open(os.path.join(trace_dir, f"{tracer.run_id}.json"), "w") as f:
        json.dump({"spans": tracer.spans, "metrics": m}, f, indent=1)
    return m


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=5.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "smartreader_spark", "__init__.py")):
        print(f"perfbench: no smartreader_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    prepare_env(work)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    wl = WORKLOADS[args.workload](work, args.seed, nproc)
    procs.become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    mon = RssMonitor().start()
    try:
        # a traced invocation: one timed run, then the traced run
        rec = (timed_runs(wl, nproc, 0.0, mon, min_runs=TRACE_MIN_RUNS) if args.trace
               else timed_runs(wl, nproc, args.seconds, mon))
        layer = (traced_run(wl, rec, nproc, args.seed, os.path.join(work_root, "traces"))
                 if args.trace else {})
    finally:
        mon.stop()
        try:
            wl.close()
        finally:
            # the JVM, its Python workers and any process pool: all ended
            # and waited for before this process prints or exits
            procs.stop_all()
            shutil.rmtree(work, ignore_errors=True)

    wall = statistics.median(rec["wall_s"])
    e2e = {
        "setup_s": rec["setup_s"][0],
        "wall_s": wall,
        "docs_per_s": wl.n_docs / wall,
        "failed_doc_ratio": rec["failed"] / rec["attempted"],
        "peak_rss_mb": max(r["total"] for r in rec["rss_mb"]),
        "python_peak_rss_mb": max(r["python"] for r in rec["rss_mb"]),
        "output_mismatches": rec["mismatches"],
    }
    layer["spark.jvm_peak_rss_mb"] = max(r["jvm"] for r in rec["rss_mb"])
    if wl.name == "web_pages":
        for key in ("article_recall", "boilerplate_leak"):
            e2e[key] = statistics.median(r[key] for r in rec["extra"])

    print(json.dumps({"workload": wl.name, "seed": args.seed, "runs": len(rec["wall_s"]),
                      "env": environment(nproc),
                      "walls_s": [round(w, 4) for w in rec["wall_s"]],
                      "steal": [round(x, 4) for x in rec["steal"]],
                      "setup_s": round(rec["setup_s"][0], 4),
                      "session_start_s": round(rec["start_s"][0], 4),
                      "warm_workers_s": round(rec["warm_s"][0], 4),
                      "prepare_s": round(rec["prepare_s"], 4),
                      "rss_mb": [{k: round(v) for k, v in r.items()} for r in rec["rss_mb"]]}))
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    units.update(OTHER_UNITS)
    for name, value in list(e2e.items()) + sorted(layer.items()):
        print(f"{wl.name:18s} {name:32s} {value:14.4f} {unit_of(name, units)}")
    values = {**e2e, **layer}
    listed = spec["per_layer" if args.trace else "end_to_end"]
    correct = rec["mismatches"] == 0
    print(json.dumps({
        "correct": correct,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in listed},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
