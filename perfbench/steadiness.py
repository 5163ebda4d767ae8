#!/usr/bin/env python3
"""Steadiness study: a fresh SparkSession per timed run against one
shared session for all runs, on the same workload and seed.

    python3 perfbench/steadiness.py --workload web_pages --seed 1 --runs 6 --session fresh
    python3 perfbench/steadiness.py --workload web_pages --seed 1 --runs 6 --session shared

One mode per process, so each starts from a cold JVM. Prints the wall
time of every run, in run order, as one JSON line. README.md records the
results and the choice made.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil

import procs
import run


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--runs", type=int, default=6)
    p.add_argument("--session", choices=("fresh", "shared"), required=True)
    args = p.parse_args()
    work = os.path.join(run.ROOT, ".perfbench_work", f"steadiness-{os.getpid()}")
    run.prepare_env(work)
    from workloads import WORKLOADS

    nproc = len(os.sched_getaffinity(0))
    wl = WORKLOADS[args.workload](work, args.seed, nproc)
    procs.become_subreaper()
    mon = run.RssMonitor().start()
    try:
        rec = run.timed_runs(wl, nproc, 0.0, mon, min_runs=args.runs,
                             fresh=args.session == "fresh")
        print(json.dumps({
            "workload": args.workload, "seed": args.seed, "session": args.session,
            "walls_s": [round(w, 3) for w in rec["wall_s"]],
            "setups_s": [round(s, 3) for s in rec["setup_s"]],
            "mismatches": rec["mismatches"],
        }), flush=True)
    finally:
        mon.stop()
        try:
            wl.close()
        finally:
            procs.stop_all()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
