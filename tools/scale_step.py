#!/usr/bin/env python
"""Scale step: one operator at ×1 and on ×K replicas of its input, timed
in one Spark session.

Usage:
  python tools/scale_step.py OP [--sf DIR] [--replicas K] [--attempts N]

OP is one of the keys of OPS: pipeline, components, decon, seqpack,
unigram, bpe, events, stream, semdedup, ann_pq, bm25, dsir, extract.

The ×1 side reads the sf directory (``--sf``, default
``$SPARK_GRAFT_SF_DIR``) as it is; ``extract`` reads PAGES seeded
Readability-shaped pages from ``perfbench/pages.py`` instead. The ×K side
reads a replica of the op's input table, written fresh on every call into
a temporary directory that is removed when the step ends, so no replica
is ever served for another input. Replica ``rep`` (0..K-1) of a row:

  documents   doc_id*K+rep with identical text, or for pipeline and
              components text + " rev{rep}" when rep > 0: the replicas
              then survive exact dedup and form simhash near-dup families
  events      event_id*K+rep and user_id + rep*USER_STRIDE: K× the users,
              each with the same history, so sessions, as-of matches and
              window aggregates scale exactly K×
  embeddings  vec_id + rep*n_base: block offsets keep the low ids (the
              codebook, query and training slots) on the original vectors
  pages       doc_id + "-r{rep}"

Each side is the best of N attempts; the session memos and the Spark
cache are cleared before every attempt, so no attempt is served by an
earlier one. Noise is reported as the share of the machine's CPU time
that the hypervisor stole while each side ran. Prints one JSON line: each
side's result fields, wall and steal, the wall ratios and the op's
invariants. The exit code is 1 when an invariant fails. Every process the
tool starts (the JVM and its Python workers) has ended before it exits,
also on SIGTERM.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
from dataclasses import dataclass, field
from typing import Callable

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import procs
from pages import generate_pages
from pyspark.sql import functions as F
from run import cpu_ticks, steal_share

USER_STRIDE = 1_000_000
#: the extract op's ×1 input: this many pages of this seed
PAGES = 24
PAGES_SEED = 7


def _agg(df, **cols) -> dict:
    """One row of named aggregates over `df`, as a dict."""
    return df.agg(*[c.alias(n) for n, c in cols.items()]).collect()[0].asDict()


def _scaled(x1: dict, xk: dict, k: int, *names: str) -> bool:
    return all(xk[n] == k * x1[n] for n in names)


# -- run functions: (spark, input dir) -> the op's result fields ----------

def run_pipeline(spark, d):
    from smartreader_spark.pipeline.training import training_funnel, training_pipeline

    survivors = training_pipeline(spark, d).count()
    funnel = {r["stage"]: r["n_rows"] for r in training_funnel(spark, d).collect()}
    return {"survivors": survivors, "funnel": funnel}


def input_docs(spark, d):
    return {"input_docs": spark.read.parquet(os.path.join(d, "documents.parquet")).count()}


def run_components(spark, d):
    from smartreader_spark.functions import components as C

    out = _agg(C.dedup_components(spark, d), docs=F.count("*"),
               components=F.sum(F.col("is_canonical").cast("int")))
    return {**out, "rounds": C.LAST_ROUNDS}


def run_decon(spark, d):
    from smartreader_spark.functions.curation import decontaminate_ngrams

    return _agg(decontaminate_ngrams(spark, d), docs=F.count("*"),
                grams=F.sum("n_grams"), overlap=F.sum("n_overlap"),
                contaminated=F.sum(F.col("contaminated").cast("int")))


def decon_slice(spark, d):
    from smartreader_spark.functions.curation import DECON_BENCH_MOD

    docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
    return {"slice_docs": docs.filter(F.col("doc_id") % DECON_BENCH_MOD == 0).count()}


def run_seqpack(spark, d):
    from smartreader_spark.functions.curation import sequence_pack

    per_source = sequence_pack(spark, d).groupBy("source").agg(
        F.count("*").alias("docs"),
        F.sum("n_tokens").alias("tokens"),
        (F.max(F.col("seq_first") + F.col("n_seqs")) - 1).alias("last_seq"),
        F.max("n_seqs").alias("max_span"),
    )
    return _agg(per_source, docs=F.sum("docs"), tokens=F.sum("tokens"),
                sequences=F.sum("last_seq") + F.count("*"),
                max_span=F.max("max_span"), sources=F.count("*"))


def run_unigram(spark, d):
    from smartreader_spark.functions.textqa import unigram_surprisal

    return _agg(unigram_surprisal(spark, d), docs=F.count("*"),
                tokens=F.sum("n_tokens"),
                passed=F.sum(F.col("passes_lm").cast("long")),
                avg_nats=F.round(F.avg("mean_surprisal_nats"), 4))


def unigram_vocab(spark, d):
    from smartreader_spark.functions.textqa import _norm, load_documents

    toks = load_documents(spark, d).select(F.explode(F.split(_norm(F.col("text")), " ")).alias("t"))
    return _agg(toks.where(F.col("t") != ""), vocab=F.countDistinct("t"))


def run_bpe(spark, d):
    from smartreader_spark.functions import bpe

    merges = [(r["merge_rank"], r["lhs"], r["rhs"], r["pair_count"])
              for r in bpe.learn_bpe_merges(spark, d).collect()]
    return {"n_merges": len(merges), "merges": merges}


def run_events(spark, d):
    from smartreader_spark.functions.events import event_sessions, events_asof_error

    sessions = _agg(event_sessions(spark, d), sessions=F.count("*"),
                    events=F.sum("n_events"), cents=F.sum("value_cents"))
    asof = _agg(events_asof_error(spark, d), asof_rows=F.count("*"),
                asof_matched=F.sum(F.col("last_error_id").isNotNull().cast("long")),
                asof_age_sum=F.sum("micros_since_error"))
    return {**sessions, **asof}


def run_stream(spark, d):
    from smartreader_spark.streaming.window_stream import stream_event_windows_bounded

    return _agg(stream_event_windows_bounded(spark, d), windows=F.count("*"),
                events=F.sum("n_events"), cents=F.sum("value_cents"))


def run_semdedup(spark, d, n_cells=16):
    from smartreader_spark.functions.similarity import semantic_dedup

    out = _agg(semantic_dedup(spark, d, n_cells=n_cells), vecs=F.count("*"),
               removed=F.sum((~F.col("is_kept")).cast("int")))
    return {**out, "n_cells": n_cells}


def run_ann_pq(spark, d):
    from smartreader_spark.functions.similarity import ann_pq

    out = _agg(ann_pq(spark, d), hits=F.count("*"), top_score=F.max("score"))
    return {**out, "top_score": float(out["top_score"])}


def run_bm25(spark, d):
    from smartreader_spark.functions.retrieval import bm25_search

    return _agg(bm25_search(spark, d), hits=F.count("*"),
                matched=F.sum("n_terms_matched"))


def run_dsir(spark, d):
    from smartreader_spark.functions.curation import dsir_importance

    return _agg(dsir_importance(spark, d), docs=F.count("*"),
                selected=F.sum(F.col("selected").cast("int")),
                feats=F.sum("n_feats"))


def run_extract(spark, d):
    from smartreader_spark.pipeline.extract import extract_articles

    pages = spark.read.parquet(os.path.join(d, "pages.parquet"))
    out = extract_articles(pages, num_partitions=spark.sparkContext.defaultParallelism)
    return _agg(out, docs=F.count("*"), errors=F.count("error"),
                chars_retained=F.sum("metrics.chars_retained"))


@dataclass(frozen=True)
class Op:
    """One scale step: the input table its replicas rewrite, the timed run
    function, and the invariants that relate the ×1 and ×K results."""

    table: str
    run: Callable[..., dict]
    invariants: Callable[[dict, dict, int], dict]
    perturb: bool = False
    #: untimed fields added to each side's result
    untimed: Callable[..., dict] | None = None
    #: further timed runs on the ×K side only, by output key
    xk_variants: dict = field(default_factory=dict)


OPS = {
    # extracted = the input docs plus the same PDF docs on both sides
    "pipeline": Op("documents", run_pipeline, perturb=True, untimed=input_docs,
                   invariants=lambda a, b, k: {"extracted_exactly_scaled": (
                       b["input_docs"] == k * a["input_docs"]
                       and b["funnel"]["00_extracted"] - b["input_docs"]
                       == a["funnel"]["00_extracted"] - a["input_docs"])}),
    "components": Op("documents", run_components, perturb=True, invariants=lambda a, b, k: {
        "docs_exactly_scaled": _scaled(a, b, k, "docs")}),
    # decon emits the docs outside its benchmark slice; with K >= 2 every
    # slice doc has K-1 identical twins outside it
    "decon": Op("documents", run_decon, untimed=decon_slice, invariants=lambda a, b, k: {
        "docs_exactly_scaled": b["docs"] + b["slice_docs"] == k * (a["docs"] + a["slice_docs"]),
        "twins_contaminated": k == 1 or b["contaminated"] > 0}),
    "seqpack": Op("documents", run_seqpack, invariants=lambda a, b, k: {
        "tokens_exactly_scaled": _scaled(a, b, k, "docs", "tokens"),
        "sources_identical": a["sources"] == b["sources"]}),
    "unigram": Op("documents", run_unigram, untimed=unigram_vocab, invariants=lambda a, b, k: {
        "tokens_exactly_scaled": _scaled(a, b, k, "docs", "tokens"),
        "vocab_volume_invariant": a["vocab"] == b["vocab"]}),
    "bpe": Op("documents", run_bpe, invariants=lambda a, b, k: {
        "merge_rules_identical":
            [m[:3] for m in a["merges"]] == [m[:3] for m in b["merges"]],
        "pair_counts_exactly_scaled": a["n_merges"] == b["n_merges"] and all(
            mb[3] == k * ma[3] for ma, mb in zip(a["merges"], b["merges"]))}),
    "events": Op("events", run_events, invariants=lambda a, b, k: {
        "sessions_exactly_scaled": _scaled(a, b, k, "sessions", "cents"),
        "asof_exactly_scaled": _scaled(a, b, k, "asof_rows", "asof_matched", "asof_age_sum")}),
    "stream": Op("events", run_stream, invariants=lambda a, b, k: {
        "window_count_volume_invariant": a["windows"] == b["windows"],
        "aggregates_exactly_scaled": _scaled(a, b, k, "events", "cents")}),
    # every replica is an exact duplicate of a lower-id original in its cell
    "semdedup": Op("embeddings", run_semdedup, invariants=lambda a, b, k: {
        "vecs_exactly_scaled": _scaled(a, b, k, "vecs"),
        "kept_volume_invariant": a["vecs"] - a["removed"] == b["vecs"] - b["removed"]},
        xk_variants={"xk_scaled_codebook": lambda s, d: run_semdedup(s, d, n_cells=64)}),
    # replicas only add candidates (a query's own copy among them), so no
    # top-k list gets shorter and the best score cannot drop
    "ann_pq": Op("embeddings", run_ann_pq, invariants=lambda a, b, k: {
        "hits_not_fewer": b["hits"] >= a["hits"],
        "top_score_not_lower": b["top_score"] >= a["top_score"]}),
    "bm25": Op("documents", run_bm25, invariants=lambda a, b, k: {
        "hits_not_fewer": b["hits"] >= a["hits"]}),
    "dsir": Op("documents", run_dsir, invariants=lambda a, b, k: {
        "feats_exactly_scaled": _scaled(a, b, k, "docs", "feats")}),
    "extract": Op("pages", run_extract, invariants=lambda a, b, k: {
        "no_errors": a["errors"] == b["errors"] == 0,
        "chars_exactly_scaled": _scaled(a, b, k, "docs", "chars_retained")}),
}


def write_pages(spark, out_dir: str) -> None:
    """The extract op's ×1 input: PAGES pages as a (doc_id, spans) table."""
    from smartreader_spark.kernel.serializer import html_to_input_spans
    from smartreader_spark.localrel import local_frame
    from smartreader_spark.pipeline.extract import INPUT_SCHEMA

    rows = [(p.doc_id, html_to_input_spans(p.html))
            for p in generate_pages(PAGES_SEED, PAGES)]
    local_frame(spark, rows, INPUT_SCHEMA).write.parquet(
        os.path.join(out_dir, "pages.parquet"))


def build_replicas(spark, src_dir: str, out_dir: str, table: str, k: int,
                   perturb: bool = False) -> None:
    """Write ×`k` replicas of `src_dir`'s `table` into `out_dir` (module
    docstring: how each table's ids are rewritten)."""
    base = spark.read.parquet(os.path.join(src_dir, f"{table}.parquet"))
    rep = F.col("rep")
    if table == "documents":
        cols = {"doc_id": F.col("doc_id") * k + rep}
        if perturb:
            cols["text"] = F.when(rep == 0, F.col("text")).otherwise(
                F.concat(F.col("text"), F.lit(" rev"), rep))
    elif table == "events":
        cols = {"event_id": F.col("event_id") * k + rep,
                "user_id": F.col("user_id") + rep * USER_STRIDE}
    elif table == "embeddings":
        cols = {"vec_id": F.col("vec_id") + rep * base.count()}
    else:
        cols = {"doc_id": F.concat(F.col("doc_id"), F.lit("-r"), rep)}
    scaled = base.withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(k - 1))))
    scaled.withColumns(cols).drop("rep").repartition(
        spark.sparkContext.defaultParallelism
    ).write.parquet(os.path.join(out_dir, f"{table}.parquet"))


def reset(spark) -> None:
    """Drop every result an earlier attempt left: the session memos and
    the Spark cache."""
    from smartreader_spark.functions import bpe, curation, dedup
    from smartreader_spark.pipeline import training

    for memo in (training._STAGES_CACHE, curation._GATES_CACHE,
                 dedup._PAIRS_CACHE, bpe._TRAIN_CACHE):
        memo.clear()
    spark.catalog.clearCache()


def best_of(spark, run, d: str, attempts: int) -> dict:
    """`run(spark, d)`'s fields from its fastest of `attempts` runs, with
    that run's wall and the steal share over all of them."""
    best, t0 = None, cpu_ticks()
    for _ in range(attempts):
        reset(spark)
        start = time.perf_counter()
        res = run(spark, d)
        wall = time.perf_counter() - start
        if best is None or wall < best["wall_s"]:
            best = {**res, "wall_s": round(wall, 2)}
    best["steal"] = round(steal_share(t0, cpu_ticks()), 4)
    return best


def step(spark, name: str, sf_dir: str | None, k: int, attempts: int = 2) -> dict:
    """Run op `name` on `sf_dir` and on ×`k` replicas of it; the JSON
    record main prints."""
    op = OPS[name]
    work = tempfile.mkdtemp(prefix="smartreader_scale_step_")
    try:
        if op.table == "pages":
            sf_dir = os.path.join(work, "x1")
            write_pages(spark, sf_dir)
        xk_dir = os.path.join(work, f"x{k}")
        build_replicas(spark, sf_dir, xk_dir, op.table, k, op.perturb)
        sides = {}
        for side, d in (("x1", sf_dir), ("xk", xk_dir)):
            sides[side] = best_of(spark, op.run, d, attempts)
            if op.untimed:
                sides[side].update(op.untimed(spark, d))
        variants = {key: best_of(spark, run, xk_dir, attempts)
                    for key, run in op.xk_variants.items()}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    x1, xk = sides["x1"], sides["xk"]
    ratio = xk["wall_s"] / max(x1["wall_s"], 0.01)
    invariants = op.invariants(x1, xk, k)
    return {
        "op": name, "sf_dir": None if op.table == "pages" else sf_dir,
        "replicas": k, "attempts": attempts, "x1": x1, "xk": xk, **variants,
        "wall_ratio": round(ratio, 2), "wall_ratio_vs_linear": round(ratio / k, 2),
        "invariants": invariants, "ok": all(invariants.values()),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("op", choices=sorted(OPS))
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    ap.add_argument("--replicas", type=int, default=10)
    ap.add_argument("--attempts", type=int, default=2)
    args = ap.parse_args(argv)
    if args.sf is None and OPS[args.op].table != "pages":
        ap.error("--sf DIR is required (or set SPARK_GRAFT_SF_DIR)")
    if args.replicas < 1 or args.attempts < 1:
        ap.error("--replicas and --attempts must be at least 1")

    # the Python workers import the package from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    procs.become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        from smartreader_spark.pipeline.session import make_session, warm_python_workers

        spark = make_session(app_name="scale-step")
        spark.sparkContext.setLogLevel("ERROR")
        warm_python_workers(spark, spark.sparkContext.defaultParallelism)
        rec = step(spark, args.op, args.sf, args.replicas, args.attempts)
    finally:
        procs.stop_all()
    print(json.dumps(rec))
    return 0 if rec["ok"] else 1


if __name__ == "__main__":
    sys.exit(main())
