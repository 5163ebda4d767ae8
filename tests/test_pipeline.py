"""Spark-tier tests: extraction operator, spread balance, checkpoint/resume,
span reassembly."""

import os
import shutil
import sys
import tempfile

import pytest
from pyspark.sql import functions as F

from smartreader_spark.kernel.serializer import html_to_input_spans
from smartreader_spark.layout import spread
from smartreader_spark.pipeline.checkpoint import (
    lineage_metrics,
    load_ledger,
    remaining_input,
    run_resumable_extraction,
)
from smartreader_spark.pipeline.corpus import (
    build_fixture_corpus,
    load_corpus,
    scale_corpus,
)
from smartreader_spark.pipeline.extract import (
    INPUT_SCHEMA,
    extract_articles,
    reassemble_html_expr,
)

sys.path.append(
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
)
from pages import generate_pages  # noqa: E402  (perfbench/, read-only)
from workloads import WEB_PAGES  # noqa: E402


@pytest.fixture(scope="module")
def corpus(spark):
    return load_corpus(spark).cache()


def test_corpus_builds(spark, corpus):
    assert corpus.count() == 142
    assert set(corpus.columns) == {"doc_id", "spans"}


def test_reassembly_is_lossless(spark, corpus):
    """JVM-side ordered-concat must reproduce the exact source HTML."""
    from smartreader_spark.kernel.serializer import html_to_input_spans

    sample = corpus.limit(20).select(
        "doc_id", reassemble_html_expr().alias("html")
    ).collect()
    pages = "/root/reference/src/SmartReaderTests/test-pages"
    for row in sample:
        src = open(f"{pages}/{row.doc_id}/source.html", encoding="utf-8",
                   errors="replace").read()
        # the codec strips nothing; reassembly must be byte-identical
        assert row.html == src, row.doc_id


def test_extract_articles_on_corpus(spark, corpus):
    out = extract_articles(corpus, num_partitions=4).cache()
    n = out.count()
    assert n == 142
    errors = out.filter(F.col("error").isNotNull()).count()
    assert errors == 0
    readable = out.filter("is_readable").count()
    assert readable == 135  # 142 − 7 known non-readerable fixtures
    # spot-check one known result
    row = out.filter(F.col("doc_id") == "001").collect()[0]
    assert row.title == "Get your Frontend JavaScript Code Covered | Code"
    assert row.byline == "Nicolas Perriault"
    assert row.language == "en"
    assert row.reading_time_sec == 180
    assert len(row.spans) == 24
    out.unpersist()


def _partition_bytes(df):
    return (
        df.withColumn("p", F.spark_partition_id())
        .groupBy("p")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.aggregate("spans", F.lit(0).cast("long"),
                              lambda a, s: a + F.length(s["text"]))).alias("bytes"),
        )
        .collect()
    )


def _web_pages(spark):
    """The benchmark's `web_pages` input for seed 7 (80 pages whose sizes
    follow the reference test pages' log-normal law), as a spans table."""
    rows = [(p.doc_id, html_to_input_spans(p.html)) for p in generate_pages(7, WEB_PAGES)]
    return spark.createDataFrame(rows, INPUT_SCHEMA)


@pytest.mark.parametrize("source", ["corpus", "web_pages"])
def test_spread_balances_bytes(spark, request, source):
    """×4 re-keyed copies spread over 8 partitions: ≥40 documents per
    partition, enough for round-robin to even out the bytes."""
    docs = request.getfixturevalue("corpus") if source == "corpus" else _web_pages(spark)
    sizes = _partition_bytes(spread(scale_corpus(docs, 4), 8))
    assert len(sizes) > 1
    byte_counts = [r["bytes"] for r in sizes]
    mean = sum(byte_counts) / len(byte_counts)
    # skew bound: no partition may exceed 1.5x the mean bytes
    assert max(byte_counts) <= mean * 1.5, byte_counts


def test_resume_skips_done_docs(spark, corpus):
    tmp = tempfile.mkdtemp(prefix="smartreader_ckpt_")
    out_path = os.path.join(tmp, "out.parquet")
    try:
        small = corpus.limit(30).cache()
        first_half = small.limit(15)
        # run 1: extract first 15 docs
        run_resumable_extraction(spark, first_half, out_path, num_partitions=2)
        n1 = spark.read.parquet(out_path).count()
        assert n1 == 15
        # run 2 over the FULL 30: must only extract the remaining 15
        ledger = load_ledger(spark, out_path)
        todo = remaining_input(small, ledger)
        assert todo.count() == 15
        run_resumable_extraction(spark, small, out_path, num_partitions=2)
        out = spark.read.parquet(out_path)
        assert out.count() == 30
        # no duplicates
        assert out.select("doc_id").distinct().count() == 30
        # lineage is per-run (computed from each run's delta, never a
        # rescan of the output table): the two runs' docs sum to exactly
        # the corpus size — no double counting after resume
        lin = spark.read.parquet(out_path.rstrip("/") + "_lineage")
        assert lin.agg(F.sum("docs")).collect()[0][0] == 30
        assert lin.select("run_id").distinct().count() == 2
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_read_extracted_collapses_retry_duplicates(spark):
    """The retry policy leaves both the errored row and the retried clean
    row in the append-only output; the canonical reader keeps exactly one
    row per doc_id, preferring error-free then latest run."""
    from smartreader_spark.pipeline.checkpoint import read_extracted

    tmp = tempfile.mkdtemp(prefix="smartreader_reread_")
    out_path = os.path.join(tmp, "out.parquet")
    try:
        rows = [
            # doc 1: errored in run-a, retried clean in run-b → keep run-b
            (1, None, "boom", "run-a"),
            (1, "fixed text", None, "run-b"),
            # doc 2: clean twice (crash between write and ledger read is
            # the only path here) → keep the LATEST run
            (2, "old", None, "run-a"),
            (2, "new", None, "run-b"),
            # doc 3: still erroring after retry → keep latest errored row
            (3, None, "boom1", "run-a"),
            (3, None, "boom2", "run-b"),
            # doc 4: single clean row passes through
            (4, "only", None, "run-a"),
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, error string, run_id string"
        )
        df.write.mode("overwrite").partitionBy("run_id").parquet(out_path)

        got = {r.doc_id: r for r in read_extracted(spark, out_path).collect()}
        assert len(got) == 4
        assert got[1].error is None and got[1].text == "fixed text"
        assert got[2].text == "new"
        assert got[3].error == "boom2"
        assert got[4].text == "only"
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_language_hook_ships_through_spark_options(spark, corpus):
    """Options hooks (Article.cs plug points) must survive the closure
    pickle into executors: language_identification overrides the metadata
    language on real extraction output."""
    from smartreader_spark.kernel.langid import stopword_language

    out = extract_articles(
        corpus.filter(F.col("doc_id") == "001"),
        num_partitions=1,
        options={"language_identification": stopword_language},
    )
    row = out.select("doc_id", "language").collect()[0]
    assert row.language == "en"


def test_spark_submit_py_files_job(spark, corpus):
    """The north_rule's literal launch shape: spark-submit --py-files
    <pkg.zip> tools/submit_extract.py — the package must import on
    executors from the zip (no repo cwd assumption) and the job must
    produce extraction output + lineage."""
    import json
    import shutil as _shutil
    import subprocess

    from smartreader_spark.pipeline.session import package_zip

    spark_submit = _shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    tmp = tempfile.mkdtemp(prefix="submit_")
    try:
        src = os.path.join(tmp, "in.parquet")
        out_path = os.path.join(tmp, "out.parquet")
        corpus.limit(6).write.parquet(src)
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        cmd = [
            spark_submit,
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--py-files", package_zip(),
            os.path.join(repo, "tools", "submit_extract.py"),
            src, out_path, "2",
        ]
        env = {k: v for k, v in os.environ.items()}
        # run from a NEUTRAL cwd so only --py-files provides the package
        res = subprocess.run(cmd, capture_output=True, text=True, cwd=tmp,
                             env=env, timeout=240)
        assert res.returncode == 0, res.stderr[-1500:]
        summary = json.loads(res.stdout.strip().splitlines()[-1])
        assert summary["run_docs"] == 6
        out = spark.read.parquet(out_path)
        assert out.count() == 6
        lin = spark.read.parquet(out_path.rstrip("/") + "_lineage")
        assert lin.agg(F.sum("docs")).collect()[0][0] == 6
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_lineage_metrics_shape(spark, corpus):
    out = extract_articles(corpus.limit(10), num_partitions=2)
    lm = lineage_metrics(out)
    cols = set(lm.columns)
    assert {"partition_id", "docs", "errors", "readable",
            "candidates_scored", "nodes_stripped", "chars_retained"} <= cols


def test_scale_corpus_rekeying(spark, corpus):
    scaled = scale_corpus(corpus.limit(5), 3)
    rows = scaled.select("doc_id").collect()
    assert len(rows) == 15
    ids = [r.doc_id for r in rows]
    assert len(set(ids)) == 15
    assert any("#000002" in i for i in ids)
