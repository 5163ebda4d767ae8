"""Checkpoint/resume over a small synthetic spans table (no fixture
corpus needed): the ledger anti-join, per-run lineage, the run's doc
count observed on the lineage write, the job count of one resumed run,
and the ledger's behaviour on empty and unreadable output directories,
and on an output named by its ``file://`` URI."""

import os

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from smartreader_spark import observed
from smartreader_spark.kernel.serializer import html_to_input_spans
from smartreader_spark.pipeline import checkpoint
from smartreader_spark.pipeline.checkpoint import (
    load_ledger,
    remaining_input,
    run_resumable_extraction,
)
from smartreader_spark.pipeline.extract import INPUT_SCHEMA

N_DOCS = 12
N_PRIOR = 5


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("smartreader-checkpoint-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _page(i: int) -> str:
    para = " ".join(f"Paragraph {k} of story {i} tells a long, plain tale." for k in range(12))
    return (
        f"<html><head><title>Story {i}</title></head><body>"
        "<nav><a href='/'>Home</a> <a href='/a'>About</a></nav>"
        f"<article><h1>Story {i}</h1><p>{para}</p><p>{para}</p></article>"
        "<footer>Copyright</footer></body></html>"
    )


@pytest.fixture(scope="module")
def spans(spark):
    rows = [(f"d{i:02d}", html_to_input_spans(_page(i))) for i in range(N_DOCS)]
    return spark.createDataFrame(rows, INPUT_SCHEMA).cache()


def _prior(spark, spans, out):
    """Run 1 over the first N_PRIOR docs."""
    ids = [f"d{i:02d}" for i in range(N_PRIOR)]
    return run_resumable_extraction(
        spark, spans.filter(F.col("doc_id").isin(ids)), out, run_id="prior"
    )


def _lineage_docs(spark, out, run_id):
    return (
        spark.read.parquet(out + "_lineage")
        .filter(F.col("run_id") == run_id)
        .agg(F.sum("docs"))
        .collect()[0][0]
    )


@pytest.mark.parametrize("form", ["path", "uri"])
def test_resume_extracts_only_the_remainder(spark, spans, tmp_path, form):
    """`form` is how the output is named: a bare local path, or the
    ``file://`` URI of the same directory (a URI output must be found as
    the ledger too, or the resume extracts and appends every doc again)."""
    out = str(tmp_path / "out") if form == "path" else (tmp_path / "out").as_uri()
    assert _prior(spark, spans, out)["run_docs"] == N_PRIOR

    sc = spark.sparkContext
    group = f"resume-under-test-{form}"
    sc.setJobGroup(group, "one resumed run")
    try:
        r = run_resumable_extraction(spark, spans, out, run_id="resume")
    finally:
        sc.setJobGroup("after-resume", "")
    jobs = sc.statusTracker().getJobIdsForGroup(group)

    written = spark.read.parquet(out)
    assert written.filter(F.col("run_id") == "resume").count() == N_DOCS - N_PRIOR
    assert written.count() == N_DOCS
    assert written.select("doc_id").distinct().count() == N_DOCS
    assert r["run_docs"] == N_DOCS - N_PRIOR == _lineage_docs(spark, out, "resume")
    # ledger broadcast + extraction write + the lineage's aggregate and
    # write: no schema-inference, distinct or lineage read-back jobs
    assert len(jobs) <= 4, sorted(jobs)


def test_run_docs_falls_back_when_metrics_never_arrive(spark, spans, tmp_path, monkeypatch):
    """An observation whose metrics are never posted must not hang the
    run: the bounded wait runs the lineage aggregate instead."""
    out = str(tmp_path / "out")
    _prior(spark, spans, out)
    monkeypatch.setattr(checkpoint, "Observation", NeverPosted)
    monkeypatch.setattr(observed, "OBSERVED_WAIT_S", 0.2)
    r = run_resumable_extraction(spark, spans, out, run_id="resume")
    assert r["run_docs"] == N_DOCS - N_PRIOR == _lineage_docs(spark, out, "resume")


def test_empty_output_dir_is_an_empty_ledger(spark, spans, tmp_path):
    out = tmp_path / "out"
    assert load_ledger(spark, str(out)) is None
    out.mkdir()
    ledger = load_ledger(spark, str(out))
    assert ledger is not None and ledger.count() == 0
    assert remaining_input(spans, ledger).count() == N_DOCS
    assert run_resumable_extraction(spark, spans, str(out))["run_docs"] == N_DOCS


def test_unreadable_ledger_raises_instead_of_reextracting(spark, spans, tmp_path):
    out = str(tmp_path / "out")
    _prior(spark, spans, out)
    part_dir = os.path.join(out, "run_id=prior")
    for name in os.listdir(part_dir):
        if name.endswith(".parquet"):
            with open(os.path.join(part_dir, name), "wb") as f:
                f.write(b"not a parquet file")
    with pytest.raises(Exception, match="parquet"):
        run_resumable_extraction(spark, spans, out, run_id="resume")
    # nothing was appended for the failed run
    assert not os.path.exists(os.path.join(out, "run_id=resume"))


class NeverPosted(Observation):
    """An Observation its action never posts to: it is left out of the
    plan, so its ``get`` would block forever."""

    def _on(self, df, *exprs):
        self._jvm = df._sc._jvm
        self._jo = getattr(self._jvm, "org.apache.spark.sql.Observation")()
        return df
