"""Stream-stream interval join: clicks joined to the same user's error
events from the preceding hour — the fourth stateful Structured
Streaming shape in this repo (after tumbling windows, session windows,
and the custom applyInPandasWithState gate), and the one whose state
story is the subtlest: BOTH sides buffer rows in the state store, and
the event-time range condition plus the two watermarks are what lets
Spark evict them (a click can stop waiting for errors once the error
watermark passes click_ts; an error once the click watermark passes
error_ts + 1 h).

Semantics under the value oracle: INNER equi+interval join — pairs
(click c, error e) with c.user_id = e.user_id and
e.ts ∈ [c.ts - 1 h, c.ts], both bounds inclusive. Inner stream-stream
joins emit eagerly on match (no watermark-close needed for output), so
with the time-ordered replay of `replay.time_ordered_events` — where
nothing is ever late — the emitted set is exactly the batch join,
independent of how the two sources' micro-batches interleave. The flush sentinel still matters: it advances both
watermarks so the final state is evicted rather than carried.

Scale shape: state is bounded by (events within the interval width per
user) × open watermark span — the interval condition IS the state-TTL
contract; the join itself shuffles both sides on user_id, the same
entity-key discipline as the batch event operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .replay import EVENTS_SCHEMA, drain, read_files, time_ordered_events
from .window_stream import WATERMARK_SPEC


def interval_join_clicks_errors(clicks: DataFrame,
                                errors: DataFrame) -> DataFrame:
    """The streaming plan fragment: both sides watermarked, equi-join on
    user_id with the event-time range condition. Callers pass two
    STREAMING DataFrames of the events schema (NTZ ts is cast here;
    session timezone must be UTC, as `replay.time_ordered_events`
    pins it)."""
    c = (
        clicks.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", WATERMARK_SPEC)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
    )
    e = (
        errors.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", WATERMARK_SPEC)
        .where(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("err_user"),
            F.col("ts").alias("error_ts"),
        )
    )
    return c.join(
        e,
        (c["user_id"] == e["err_user"])
        & (e["error_ts"] >= c["click_ts"] - F.expr("INTERVAL 1 HOUR"))
        & (e["error_ts"] <= c["click_ts"]),
        "inner",
    )


def stream_interval_join_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded replay of the events table through the stream-stream
    interval join: the two sides are two independent streaming readers
    of the same time-ordered source (their micro-batch interleaving is
    NOT synchronized — the state store is what makes the result exact),
    drained through the exactly-once file sink."""
    with time_ordered_events(spark, sf_dir) as src:
        events = lambda: read_files(spark, src, EVENTS_SCHEMA, 1)  # noqa: E731
        out = drain(spark, interval_join_clicks_errors(events(), events()))

    return (
        out.select(
            "user_id",
            "click_id",
            "error_id",
            (F.unix_micros("click_ts") - F.unix_micros("error_ts")).alias(
                "lag_micros"
            ),
        )
        .orderBy("click_id", "error_id")
    )
