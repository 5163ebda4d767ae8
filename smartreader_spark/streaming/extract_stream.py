"""Streaming extraction: readStream over a span-table directory →
mapInPandas kernel → writeStream sink.

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


def stream_extract(spark: SparkSession, source_dir: str,
                   options: dict | None = None,
                   max_files_per_trigger: int = 8) -> DataFrame:
    """Streaming DataFrame of extracted articles from a parquet directory
    source (files-arrival stream; swap for Kafka by changing the reader).
    The extraction operator is reused verbatim — stateless maps are
    streaming-safe."""
    stream = (
        spark.readStream.schema(INPUT_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(source_dir)
    )
    # no repartition inside a streaming plan (round-robin on a stream
    # needs no skew salt: micro-batches bound the per-trigger volume)
    return extract_articles(stream, options=options)


def extraction_query(spark: SparkSession, source_dir: str, sink_dir: str,
                     checkpoint_dir: str, options: dict | None = None):
    """Start the end-to-end streaming job: extracted articles appended to
    a parquet sink with exactly-once file-sink semantics (checkpointed
    offsets + file manifest)."""
    out = stream_extract(spark, source_dir, options=options)
    return (
        out.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def run_bounded_to_df(out_stream: DataFrame, spark: SparkSession) -> DataFrame:
    """Drain a streaming DataFrame with `trigger(availableNow=True)`
    through the exactly-once parquet file sink and return the result as
    a MATERIALIZED batch DataFrame. The temp sink + checkpoint dirs are
    removed after the rows are collected (ADVICE r4: mkdtemp per gate
    invocation leaked the full sink output under /tmp) — the returned
    DataFrame is rebuilt from driver rows, fine at gate size."""
    import shutil
    import tempfile

    sink = tempfile.mkdtemp(prefix="smartreader_stream_sink_")
    ckpt = tempfile.mkdtemp(prefix="smartreader_stream_ckpt_")
    try:
        q = (
            out_stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # Rebuild from driver-side rows so the returned DataFrame has NO
        # lineage to the sink files (ADVICE r5: a cache()d partition that
        # is later evicted would recompute against the deleted sink and
        # fail with FileNotFoundException; gate-sized data makes the
        # collect cheap and the detachment total).
        read = spark.read.parquet(sink)
        return spark.createDataFrame(read.collect(), read.schema)
    finally:
        shutil.rmtree(sink, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def stream_extract_bounded(spark: SparkSession, source_dir: str,
                           options: dict | None = None,
                           max_files_per_trigger: int = 2) -> DataFrame:
    """Bounded replay of an existing span-table directory through the
    STREAMING plan: `trigger(availableNow=True)` drains the directory as
    rate-limited micro-batches with the exactly-once file sink, then
    stops. Returns the materialized result — the driver gate compares it
    value-for-value against the same expected table as the batch
    `extract_corpus` query, proving batch/stream parity of the
    extraction tier (stateless maps are trigger-partitioning-invariant).
    """
    stream = (
        spark.readStream.schema(INPUT_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(source_dir)
    )
    return run_bounded_to_df(extract_articles(stream, options=options), spark)
