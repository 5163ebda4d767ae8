"""Streaming extraction: a file stream over a span-table directory →
mapInPandas kernel → parquet file sink.

The reference has no streaming surface (SURVEY.md §2.12: "reference has
none") and the north_rule is batch, but the engine's operators compose
directly with Structured Streaming because the extraction stage is a
stateless per-row map: the SAME `extract_articles` plan fragment runs
under a streaming scan. No watermark is needed for extraction itself
(stateless); `window_stream.py` shows the stateful, watermarked pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..pipeline.extract import INPUT_SCHEMA, extract_articles
from .replay import drain, read_files


def extraction_query(spark: SparkSession, source_dir: str, sink_dir: str,
                     checkpoint_dir: str):
    """Start the end-to-end streaming job: the extraction operator,
    reused verbatim over a files-arrival stream of the span-table
    directory (stateless maps are streaming-safe; swap for Kafka by
    changing the reader), appended to a parquet sink with exactly-once
    file-sink semantics (checkpointed offsets + file manifest). No
    repartition inside the streaming plan: micro-batches bound the
    per-trigger volume."""
    out = extract_articles(read_files(spark, source_dir, INPUT_SCHEMA, 8))
    return (
        out.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def stream_extract_bounded(spark: SparkSession, source_dir: str) -> DataFrame:
    """Bounded replay of an existing span-table directory through the
    STREAMING plan: `replay.drain` empties the directory as
    rate-limited micro-batches through the exactly-once file sink, then
    stops. Returns the materialized result — the driver gate compares it
    value-for-value against the same expected table as the batch
    `extract_corpus` query, proving batch/stream parity of the
    extraction tier (stateless maps are trigger-partitioning-invariant).
    """
    return drain(spark, extract_articles(read_files(spark, source_dir, INPUT_SCHEMA, 2)))
