#!/usr/bin/env python
"""Dump the physical plan of every driver query to PLANS.md with the
scale-relevant properties called out (pushed filters, read schema,
join strategies, exchanges, Python nodes, codegen coverage), and print
one ``name sha256`` line per query: the digest of its executed plan
with run-specific tokens masked (`mask_plan`), so two commits' plans
compare with one `diff` of the printed lines. PLANS.md holds the same
masked plans, so a run at an unchanged commit leaves it as it was.

Usage: python tools/plan_audit.py   (writes PLANS.md at repo root)
"""

from __future__ import annotations

import hashlib
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")


def strip_initial_plans(plan: str) -> str:
    """Drop every AQE '== Initial Plan ==' section (at any nesting depth,
    incl. inside InMemoryRelation cached plans) so the audit counts only
    operators that actually run. An Initial section's lines are indented
    deeper than its marker; the section ends at the first line back at
    the marker's indentation or shallower."""
    out = []
    skip_indent = None
    for line in plan.splitlines():
        indent = len(line) - len(line.rstrip("\n").lstrip())
        if skip_indent is not None:
            if line.strip() and indent <= skip_indent:
                skip_indent = None  # block ended; reprocess this line
            else:
                continue
        if "== Initial Plan ==" in line:
            skip_indent = indent
            continue
        out.append(line)
    return "\n".join(out)


def _distinct(plan: str, pattern: str) -> int:
    """Count DISTINCT physical operator instances: a cached relation's
    build subplan (and any shared subtree) is textually reprinted at
    every reference, but reprints of the same node are byte-identical
    (same expression ids / plan_id), while genuinely distinct instances
    differ — so set-of-lines counts executions, not mentions. Without
    this the composed pipeline reads as '80 MapInPandas' where the
    physical execution builds the cache with exactly 2."""
    return len({m.strip() for m in re.findall(pattern, plan)})


def mask_plan(plan: str) -> str:
    """`plan` with what differs between two runs of the same plan
    masked: expression ids (``#123``), ``plan_id=``, PySpark's
    lambda-variable counters (``x_125`` → ``x_K``), the checkout's root
    path, and the numbers of AQE query stages and whole-stage-codegen
    stages (``ShuffleQueryStage 15``, ``*(8)``), which follow the order
    in which concurrent stages finish."""
    plan = plan.replace(REPO, "<repo>")
    plan = re.sub(r"#\d+", "#N", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    plan = re.sub(r"\b(lambda \w+?)_\d+\b", r"\1_K", plan)
    plan = re.sub(r"(QueryStage) \d+", r"\1 K", plan)
    plan = re.sub(r"\*\(\d+\)", "*(K)", plan)
    return plan


def audit(plan: str) -> dict:
    plan = strip_initial_plans(plan)
    return {
        "exchanges": _distinct(plan, r"\bExchange [^\n]*"),
        "broadcast_joins": _distinct(plan, r"BroadcastHashJoin [^\n]*"),
        "sortmerge_joins": _distinct(plan, r"SortMergeJoin [^\n]*"),
        "shuffledhash_joins": _distinct(plan, r"ShuffledHashJoin [^\n]*"),
        "nested_loop": _distinct(plan, r"BroadcastNestedLoopJoin[^\n]*")
        + _distinct(plan, r"CartesianProduct[^\n]*"),
        "python_nodes": _distinct(plan, r"(?:BatchEvalPython|ArrowEvalPython)[^\n]*"),
        "map_in_pandas": _distinct(plan, r"MapInPandas [^\n]*"),
        "codegen_stages": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "pushed_filters": bool(re.search(r"PushedFilters: \[[^\]]", plan)),
    }


def main() -> None:
    import __spark_entry__ as entrymod
    from smartreader_spark.pipeline.session import make_session

    spark = make_session(app_name="plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    lines = [
        "# PLANS — physical-plan audit of every driver query",
        "",
        "Generated by `python tools/plan_audit.py` (executedPlan at sf0.01).",
        "Properties the engine promises: no row-wise Python nodes anywhere,",
        "no cartesian/nested-loop joins (exception: ann_brute_force's",
        "broadcast-tiny-query-set vs corpus theta-join IS the exact-baseline",
        "design — the scale path is ann_lsh_bucketed's equi-join), broadcast",
        "for small dims, filters pushed to the parquet scan, extraction as",
        "MapInPandas only. Plans are AQE-finalized (queries executed first);",
        "operator counts are DISTINCT physical instances (reprints of a",
        "cached build subplan at each InMemoryTableScan reference collapse,",
        "so the composed pipeline's extraction shows its true single",
        "execution: one MapInPandas per leg).",
        "",
        "| query | exchanges | joins (bcast/smj/shj) | nested-loop | python nodes | MapInPandas | codegen stages | pushed filters |",
        "|---|---|---|---|---|---|---|---|",
    ]
    details = []
    for name, fn in entrymod.queries().items():
        df = fn(spark, SF_DIR)
        df.collect()  # execute so AQE finalizes (real join picks, codegen)
        plan = df._jdf.queryExecution().executedPlan().toString()
        a = audit(plan)  # the raw plan: its ids tell operator instances apart
        masked = mask_plan(plan)
        print(f"{name} {hashlib.sha256(masked.encode('utf-8')).hexdigest()}", flush=True)
        lines.append(
            f"| {name} | {a['exchanges']} | "
            f"{a['broadcast_joins']}/{a['sortmerge_joins']}/{a['shuffledhash_joins']} | "
            f"{a['nested_loop']} | {a['python_nodes']} | {a['map_in_pandas']} | "
            f"{a['codegen_stages']} | {'yes' if a['pushed_filters'] else '-'} |"
        )
        # keep the first 60 masked lines of each plan for inspection: an
        # unchanged plan rewrites the same lines
        head = "\n".join(masked.splitlines()[:60])
        details.append(f"## {name}\n\n```\n{head}\n```\n")

    out = "\n".join(lines) + "\n\n" + "\n".join(details)
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write(out)
    print(f"wrote PLANS.md ({len(details)} queries)")
    spark.stop()


if __name__ == "__main__":
    main()
