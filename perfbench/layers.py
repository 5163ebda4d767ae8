"""Per-layer measurements for the traced run.

Everything here sits outside the program: spans are recorded around
calls into each layer's public functions (by wrapping module attributes
for the duration of one call), the kernel is timed single-threaded on a
sample of the workload's own inputs, and Spark's stage and Python-node
metrics are read from the status REST API (sparkrest.py).
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import math
import os
import time


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory.
    `overhead_s` sums the time spent keeping them."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        t_in = time.perf_counter()
        idx = len(self.spans)
        rec = {"name": name, "start": None, "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id}
        self.spans.append(rec)
        self._stack.append(idx)
        rec["start"] = time.perf_counter()
        self.overhead_s += rec["start"] - t_in
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - rec["end"]

    @contextlib.contextmanager
    def wrapping(self, targets: list[str]):
        """Record a span around every call of each ``module:function`` in
        `targets` while the block runs; the originals are restored after."""
        saved = []
        for target in targets:
            mod_name, fn_name = target.split(":")
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, fn_name)

            def wrapper(*a, __fn=fn, __name=f"{fn.__module__.rsplit('.', 1)[-1]}.{fn_name}",
                        **kw):
                with self.span(__name):
                    return __fn(*a, **kw)

            functools.update_wrapper(wrapper, fn)
            saved.append((mod, fn_name, fn))
            setattr(mod, fn_name, wrapper)
        try:
            yield
        finally:
            for mod, fn_name, fn in reversed(saved):
                setattr(mod, fn_name, fn)


KERNEL_SAMPLE_MB = 4.0
KERNEL_SAMPLE_DOCS = 300


def kernel_sample(htmls: list[str]) -> list[str]:
    """A size-stratified sample: every k-th document in size order from the
    largest down, so the sample has the workload's size mix and always
    holds its largest document."""
    total_mb = sum(map(len, htmls)) / 1e6
    k = max(1, math.ceil(max(len(htmls) / KERNEL_SAMPLE_DOCS, total_mb / KERNEL_SAMPLE_MB)))
    return sorted(htmls, key=len, reverse=True)[::k]


def kernel_metrics(htmls: list[str]) -> dict:
    """Single-threaded, Spark-free timings of the kernel's public calls."""
    from smartreader_spark.kernel import dom, metadata, reader, serializer, textkit
    from smartreader_spark.kernel.extractor import Extractor
    from smartreader_spark.kernel.urikit import PageUri

    uri = reader.DEFAULT_URI
    t = dict.fromkeys(("parse", "meta", "grab", "ser", "plain", "full"), 0.0)
    counts = dict.fromkeys(("candidates_scored", "nodes_stripped",
                            "chars_retained", "grab_retries"), 0)
    clock = time.perf_counter
    for html in htmls:
        t0 = clock()
        doc = dom.parse_html(html)
        t1 = clock()
        jsonld = metadata.get_jsonld(doc)
        t2 = clock()
        metadata.get_article_metadata(doc, PageUri(uri), None, jsonld)
        t["parse"] += t1 - t0
        t["meta"] += clock() - t2

        ex = Extractor(uri, html)
        t0 = clock()
        res = ex.parse()
        t["grab"] += clock() - t0
        counts["grab_retries"] += len(ex.attempts)
        if res.content is not None:
            t0 = clock()
            serializer.dom_to_output_spans(res.content)
            t1 = clock()
            textkit.convert_to_plaintext(res.content)
            t["ser"] += t1 - t0
            t["plain"] += clock() - t1

        t0 = clock()
        r = reader.extract_html(html, uri=uri)
        t["full"] += clock() - t0
        for key in ("candidates_scored", "nodes_stripped", "chars_retained"):
            counts[key] += r["metrics"][key]
    out = {
        "kernel.parse_html_s": t["parse"],
        "kernel.metadata_s": t["meta"],
        "kernel.extractor_parse_s": t["grab"],
        "kernel.serialize_s": t["ser"],
        "kernel.plaintext_s": t["plain"],
        "kernel.extract_html_s": t["full"],
        "kernel.docs_per_s_single": len(htmls) / t["full"],
        "kernel.input_mb": sum(map(len, htmls)) / 1e6,
    }
    out.update({f"kernel.{k}": v for k, v in counts.items()})
    return out


def batch_overhead_s(htmls: list[str]) -> tuple[float, float]:
    """Time the extraction operator's mapInPandas batch function on pandas
    batches of the session's Arrow batch size. Returns (total seconds,
    seconds inside its extract_html calls)."""
    import pandas as pd

    from smartreader_spark.kernel import reader
    from smartreader_spark.pipeline import extract
    from smartreader_spark.pipeline.session import ARROW_MAX_RECORDS

    inner = [0.0]
    real = reader.extract_html

    def timed(*a, **kw):
        t0 = time.perf_counter()
        try:
            return real(*a, **kw)
        finally:
            inner[0] += time.perf_counter() - t0

    n = ARROW_MAX_RECORDS
    batches = [
        pd.DataFrame({"doc_id": [str(i) for i in range(j, j + len(htmls[j:j + n]))],
                      "html": htmls[j:j + n]})
        for j in range(0, len(htmls), n)
    ]
    fn = extract._make_extract_batch(None, "https://localhost/")
    reader.extract_html = timed
    try:
        t0 = time.perf_counter()
        for _ in fn(iter(batches)):
            pass
        total = time.perf_counter() - t0
    finally:
        reader.extract_html = real
    return total, inner[0]


def reassemble_s(spark, input_df) -> float:
    """A job that sinks only the JVM-side HTML reassembly."""
    from pyspark.sql import functions as F

    from smartreader_spark.pipeline.extract import reassemble_html_expr

    t0 = time.perf_counter()
    input_df.select(F.sum(F.length(reassemble_html_expr()))).collect()
    return time.perf_counter() - t0


def dir_stats(path: str) -> tuple[float, int]:
    """(MB, parquet files) under `path`."""
    size, files = 0, 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += n.endswith(".parquet")
    return size / 2**20, files


def checkpoint_metrics(spark, wl, rest_stages: list[dict], run_id: str) -> dict:
    """The ledger anti-join on the prior-run state, and what the traced
    run's append wrote."""
    from smartreader_spark.pipeline.checkpoint import load_ledger, remaining_input

    mb, files = dir_stats(os.path.join(wl.out, f"run_id={run_id}"))
    wl.reset(spark)
    t0 = time.perf_counter()
    remaining = remaining_input(wl.input_df(spark), load_ledger(spark, wl.out)).count()
    ledger = time.perf_counter() - t0
    write = sum(s["wall_s"] for s in rest_stages if s["outputBytes"] > 0)
    return {
        "checkpoint.ledger_s": ledger,
        "checkpoint.remaining_docs": remaining,
        "checkpoint.write_stage_s": write,
        "checkpoint.output_mb": mb,
        "checkpoint.output_files": files,
    }


def training_metrics(spark, wl, tracer: Tracer) -> dict:
    """Funnel counts (served from the memo the traced run just built),
    then each stage timed on its own after the caches are cleared."""
    from smartreader_spark.functions.dedup import simhash_pairs_for_docs
    from smartreader_spark.pipeline.pdf_ingest import pdf_to_span_table
    from smartreader_spark.pipeline.training import (
        PDF_DOCS, training_funnel, unified_doc_table)
    from smartreader_spark.sources.pdf_corpus import pdf_corpus_rows

    with tracer.span("training.training_funnel") as s:
        funnel = dict(training_funnel(spark, wl.many_files).collect())
    out = {
        "training.funnel_s": s["end"] - s["start"],
        "training.extracted": funnel["00_extracted"],
        "training.exact_kept": funnel["10_exact_deduped"],
        "training.near_dup_pairs": funnel["15_near_dup_pairs"],
        "training.dropped_buckets": funnel["16_simhash_dropped_buckets"],
        "training.quality_passed": funnel["30_quality_passed"],
    }
    wl.reset(spark)
    with tracer.span("training.unified_doc_table") as s:
        docs = unified_doc_table(spark, wl.many_files).cache()
        docs.count()
    out["training.unified_docs_s"] = s["end"] - s["start"]
    with tracer.span("training.pdf_to_span_table") as s:
        pdf = spark.createDataFrame(pdf_corpus_rows(PDF_DOCS), "doc_id long, pdf binary")
        pdf_to_span_table(pdf, num_partitions=2).count()
    out["training.pdf_leg_s"] = s["end"] - s["start"]
    with tracer.span("training.simhash_pairs_for_docs") as s:
        simhash_pairs_for_docs(docs.select("doc_id", "text")).count()
    out["training.simhash_pairs_s"] = s["end"] - s["start"]
    docs.unpersist()
    return out
