"""Watermarked event-time windowed aggregation over the events stream —
the classic Structured Streaming stateful shape the engine had not yet
put under the value oracle (extract_stream is stateless; dedup_stream is
custom-stateful via applyInPandasWithState; this is the BUILT-IN
watermark + tumbling-window aggregation path, state managed by Spark's
streaming aggregation operator).

Reference parity: SmartReader has no streaming surface (SURVEY §2.12);
this serves the pipeline-telemetry tier (events-per-window rollups of
crawl/ingest streams).

Semantics proven by the gate: append-mode windowed aggregation emits a
window exactly once, when the event-time watermark passes its end. The
bounded replay rations files into micro-batches (so windows genuinely
close across batch boundaries, not in one degenerate batch), and a
far-future FLUSH sentinel row drives the final watermark past every
real window — with the default no-data micro-batch, every real window
is emitted exactly once. The sentinel's own (still-open) window is
excluded by its event_type.

Replay-order discipline: the events are replayed through
`replay.time_ordered_events`, the layout under which nothing is ever
late (see replay.py for the measured pitfall it avoids).

Determinism discipline: event-time arithmetic in integer epoch micros
(tumbling windows are epoch-aligned, so the DuckDB oracle restates the
window as floor-division on epoch_us); money as integer cents.

At scale: state is one row per (open window × event_type) per
partition — bounded by the watermark delay, not the stream length; the
shuffle key is the group key, and late data beyond the 1 h watermark is
dropped by contract (the knob a real deployment tunes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .replay import (
    EVENTS_SCHEMA,
    FLUSH_TYPE,
    drain,
    read_files,
    time_ordered_events,
)

#: tumbling window width (6 h) and allowed lateness (1 h)
WINDOW_MICROS = 6 * 3600 * 1_000_000
WINDOW_SPEC = "6 hours"
WATERMARK_SPEC = "1 hour"

#: session-window gap — same 12 h the batch sessionizer uses
#: (functions/events.SESSION_GAP_MICROS). Probed: Spark merges TOUCHING
#: session windows, so an exactly-12 h gap stays in-session — the gap
#: rule is the identical strict-> of the batch operator
SESSION_WINDOW_SPEC = "12 hours"


def windowed_event_counts(events_stream: DataFrame) -> DataFrame:
    """The streaming plan fragment: watermark on event time, tumbling
    6 h windows per event_type, integer-exact aggregates. Spark's
    watermark machinery requires TIMESTAMP (not NTZ) — the session
    timezone must be UTC (`replay.time_ordered_events` pins it) so the
    cast is the identity wall-clock mapping."""
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", WATERMARK_SPEC)
        .groupBy(F.window("ts", WINDOW_SPEC), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(cents).alias("value_cents"),
        )
    )


def stream_event_windows_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded replay of the events table through the WATERMARKED
    windowed aggregation: the batch table is re-laid-out as a multi-file
    stream source plus the flush sentinel, drained with
    an availableNow trigger through the exactly-once file sink, and
    returned as a batch DataFrame of closed windows (epoch-micro bounds,
    sentinel rows excluded)."""
    with time_ordered_events(spark, sf_dir) as src:
        out = drain(spark, windowed_event_counts(
            read_files(spark, src, EVENTS_SCHEMA, 1)))

    micros = lambda c: F.unix_micros(F.col(c))  # noqa: E731
    return (
        out.where(F.col("event_type") != FLUSH_TYPE)
        .select(
            micros("window.start").alias("window_start_micros"),
            micros("window.end").alias("window_end_micros"),
            "event_type",
            "n_events",
            "value_cents",
        )
        .orderBy("window_start_micros", "event_type")
    )


def session_event_windows(events_stream: DataFrame) -> DataFrame:
    """SESSION-window streaming aggregation: per user, events merge into
    one session while each arrives less than SESSION_WINDOW_SPEC after
    the previous (Spark's session_window — dynamic merging windows, the
    third stateful streaming shape here next to tumbling windows and the
    custom applyInPandasWithState gate). Boundary semantics PROBED, not
    assumed: Spark merges touching windows, so an event exactly gap
    after its predecessor stays in-session — the same strict-> rule as
    the batch `functions/events.event_sessions`, and the streaming and
    batch sessionizations therefore agree except that this one reports
    session end as last-event + gap."""
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", WATERMARK_SPEC)
        .groupBy(F.session_window("ts", SESSION_WINDOW_SPEC), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(cents).alias("value_cents"),
            F.sum(
                F.when(F.col("event_type") == "error", 1).otherwise(0)
            ).alias("n_errors"),
        )
    )


def stream_event_sessions_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded replay through the session-window aggregation; a session
    is emitted exactly once, when the watermark passes its end (last
    event + gap) — the flush sentinel closes every real session. The
    sentinel's own session is keyed by user_id -1 and excluded."""
    with time_ordered_events(spark, sf_dir) as src:
        out = drain(spark, session_event_windows(
            read_files(spark, src, EVENTS_SCHEMA, 1)))

    micros = lambda c: F.unix_micros(F.col(c))  # noqa: E731
    return (
        out.where(F.col("user_id") >= 0)
        .select(
            "user_id",
            micros("session_window.start").alias("session_start_micros"),
            micros("session_window.end").alias("session_end_micros"),
            "n_events",
            "value_cents",
            "n_errors",
        )
        .orderBy("user_id", "session_start_micros")
    )
