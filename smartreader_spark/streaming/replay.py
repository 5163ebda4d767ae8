"""Bounded replay: the one path by which the streaming operators turn a
table into a micro-batched file stream and drain it back to a batch
DataFrame.

Three pieces, each written once:

- `read_files` — the rationed file-stream reader. `per_trigger` files
  per micro-batch is what makes state genuinely cross batch boundaries
  (each operator passes its count as a literal at its one call).
- `drain` — an availableNow trigger through the exactly-once parquet
  file sink, then the rows are collected on the driver as an Arrow
  table and rebuilt as a local relation, so the returned DataFrame
  has NO lineage to the sink (a cached partition evicted later would
  otherwise recompute against the deleted sink and fail with
  FileNotFoundException; gate-sized data makes the collect cheap).
  Sink and checkpoint live in one temporary directory that is removed
  whether or not the query fails.
- `time_ordered_events` — the events table laid out so that nothing is
  ever late. The file source advances the watermark from each batch's
  max event time, and a window evicted at batch N's commit silently
  DROPS rows for it arriving in batch N+1. A hash-partitioned layout
  puts near-max timestamps in every file, so the first batch hoists
  the watermark over the whole stream. Here the table is
  `repartitionByRange(ts)` with strictly increasing file mtimes (the
  source lists files in mtime order): ranges are disjoint and
  time-ordered, so every row of batch N+1 is >= batch N's max for ANY
  file count and any per-trigger ration. A far-future FLUSH sentinel
  row arrives last and drives the final watermark past every real
  window and session; operators exclude its output by event_type or
  user_id -1.
"""

from __future__ import annotations

import contextlib
import glob
import os
import tempfile
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.events import _events
from ..localrel import local_frame

FLUSH_TYPE = "__flush__"
#: far-future sentinel (2100-01-01T00:00:00) — past every real event,
#: so the final watermark closes every real window
FLUSH_TS = "2100-01-01 00:00:00"

EVENTS_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, "
    "event_type string, value double, props string"
)


def read_files(spark: SparkSession, path: str, schema: str,
               per_trigger: int) -> DataFrame:
    """Streaming DataFrame over the parquet files under `path`, at most
    `per_trigger` files per micro-batch."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(per_trigger))
        .parquet(path)
    )


def drain(spark: SparkSession, stream: DataFrame) -> DataFrame:
    """Run `stream` to completion with an availableNow trigger and
    return its output as a batch DataFrame rebuilt from driver rows
    (a local relation)."""
    with tempfile.TemporaryDirectory(prefix="smartreader_stream_",
                                     ignore_cleanup_errors=True) as tmp:
        (
            stream.writeStream.format("parquet")
            .option("path", f"{tmp}/sink")
            .option("checkpointLocation", f"{tmp}/ckpt")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        read = spark.read.parquet(f"{tmp}/sink")
        # an Arrow collect rebuilt as a local relation: every drained
        # operator's columns (timestamps, nested span arrays) come back
        # as equal rows, and no Python worker unpickles them
        return local_frame(spark, read.toArrow(), read.schema)


@contextlib.contextmanager
def time_ordered_events(spark: SparkSession, sf_dir: str) -> Iterator[str]:
    """Yield a directory holding `{sf_dir}/events.parquet` as a
    time-ordered multi-file stream source plus the flush sentinel as the
    last-arriving file; the directory is removed on exit. Reading
    through `functions.events._events` pins the session timezone to UTC,
    which the operators' NTZ->TIMESTAMP casts rely on."""
    with tempfile.TemporaryDirectory(prefix="smartreader_eventstream_src_",
                                     ignore_cleanup_errors=True) as src:
        (
            _events(spark, sf_dir).drop("micros")
            .repartitionByRange(4, "ts")
            .write.mode("append")
            .parquet(src)
        )
        # range partition k holds the k-th time slice and the writer
        # names it part-0000k — mtime-order the files to match, so the
        # mtime-ordered stream listing replays the log in time order
        t0 = os.path.getmtime(src)
        real = sorted(glob.glob(f"{src}/part-*.parquet"))
        for i, p in enumerate(real):
            os.utime(p, (t0 + 2 * i, t0 + 2 * i))
        local_frame(
            spark,
            [(-1, FLUSH_TS, -1, FLUSH_TYPE, 0.0, "{}")],
            "event_id long, ts_s string, user_id long, "
            "event_type string, value double, props string",
        ).select(
            "event_id",
            F.col("ts_s").cast("timestamp_ntz").alias("ts"),
            "user_id", "event_type", "value", "props",
        ).coalesce(1).write.mode("append").parquet(src)
        for p in glob.glob(f"{src}/part-*.parquet"):
            if p not in real:
                os.utime(p, (t0 + 1000, t0 + 1000))
        yield src
