"""Deterministic corpus builders (FIXTURES.md §1/§5).

The golden corpus = the reference's 142 test pages encoded as interleaved
(doc_id, spans) rows. Scale-up replicates fixtures with re-keyed doc_ids
(`{name}#{i:06d}`) — content untouched so expected outputs replicate
identically; no RNG anywhere.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.textqa import load_documents
from ..localrel import local_frame
from .extract import INPUT_SCHEMA

FIXTURE_PAGES = "/root/reference/src/SmartReaderTests/test-pages"
DEFAULT_CORPUS_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))), "fixtures", "corpus.parquet")


def fixture_rows() -> list[tuple]:
    """(doc_id, spans) for each golden fixture — pure Python, driver-side
    (32 MB total; the scale path replicates distributed, see scale_corpus)."""
    from smartreader_spark.kernel.serializer import html_to_input_spans

    rows = []
    for path in sorted(glob.glob(os.path.join(FIXTURE_PAGES, "*", "source.html"))):
        name = os.path.basename(os.path.dirname(path))
        html = open(path, encoding="utf-8", errors="replace").read()
        spans = [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in html_to_input_spans(html)
        ]
        rows.append((name, spans))
    return rows


def build_fixture_corpus(spark: SparkSession) -> str:
    """Materialize the 142-fixture span corpus as parquet at
    DEFAULT_CORPUS_DIR (idempotent)."""
    if os.path.exists(DEFAULT_CORPUS_DIR):
        return DEFAULT_CORPUS_DIR
    df = local_frame(spark, fixture_rows(), INPUT_SCHEMA)
    df.repartition(4).write.mode("overwrite").parquet(DEFAULT_CORPUS_DIR)
    return DEFAULT_CORPUS_DIR


def load_corpus(spark: SparkSession) -> DataFrame:
    build_fixture_corpus(spark)
    return spark.read.parquet(DEFAULT_CORPUS_DIR)


def wrap_plain_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wrap the driver's plain-text `documents` table into one-span
    interleaved docs (kind='html') — built-ins only, so the scan + wrap
    stays JVM-side. Mirrored byte-for-byte by
    tools/build_expected.py::extract_testdata_rows."""
    docs = load_documents(spark, sf_dir)
    html = F.concat(
        F.lit("<html><head><title>doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title></head><body><article><p>"),
        F.col("text"),
        F.lit("</p></article></body></html>"),
    )
    span = F.struct(
        F.lit("html").alias("kind"),
        html.alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(0).alias("offset"),
    )
    return docs.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(span).alias("spans"),
    )


def scale_corpus(df: DataFrame, replicas: int) -> DataFrame:
    """Replicate each document `replicas` times with re-keyed doc_ids —
    distributed (explode of a range literal; no driver materialization),
    deterministic (keyed off name + replica index)."""
    if replicas <= 1:
        return df
    return (
        df.withColumn("_r", F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))))
        .withColumn(
            "doc_id",
            F.concat(F.col("doc_id"), F.lit("#"), F.lpad(F.col("_r").cast("string"), 6, "0")),
        )
        .drop("_r")
    )
