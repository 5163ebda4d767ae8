"""Event operators: gap sessionization, as-of error join, watermarked
streaming windows. Handcrafted corpora pin the boundary semantics the
sf-scale oracle can't isolate (exact-gap ties, same-microsecond error
ties, strict as-of inequality); the streaming gate is checked for
batch/stream parity at sf0.001.
"""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module", autouse=True)
def utc_session(spark):
    """The event tests read and compare their timestamps in UTC."""
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    yield
    spark.conf.set("spark.sql.session.timeZone", old)


def _write_events(spark, tmp, rows):
    """rows: (event_id, iso_ts, user_id, event_type, value)"""
    (
        spark.createDataFrame(
            [(i, t, u, k, v, "{}") for i, t, u, k, v in rows],
            "event_id long, ts_s string, user_id long, event_type string,"
            " value double, props string",
        )
        .select(
            "event_id",
            F.col("ts_s").cast("timestamp_ntz").alias("ts"),
            "user_id", "event_type", "value", "props",
        )
        .coalesce(1)
        .write.parquet(f"{tmp}/events.parquet")
    )


def test_sessions_exact_gap_stays_in_session(spark):
    from smartreader_spark.functions.events import event_sessions

    tmp = tempfile.mkdtemp(prefix="sess_")
    try:
        rows = [
            # user 1: 3 events; the second is EXACTLY 12 h after the
            # first (strict > means same session), the third 12 h +1 µs
            # after the second (new session)
            (0, "2024-01-01 00:00:00", 1, "view", 1.0),
            (1, "2024-01-01 12:00:00", 1, "click", 2.0),
            (2, "2024-01-02 00:00:00.000001", 1, "error", 3.0),
            # user 2: single event
            (3, "2024-01-05 08:00:00", 2, "view", 0.5),
        ]
        _write_events(spark, tmp, rows)
        got = {
            (r["user_id"], r["session_seq"]): (
                r["n_events"], r["duration_micros"], r["value_cents"],
                r["n_errors"],
            )
            for r in event_sessions(spark, tmp).collect()
        }
        assert got == {
            (1, 1): (2, 12 * 3600 * 1_000_000, 300, 0),
            (1, 2): (1, 0, 300, 1),
            (2, 1): (1, 0, 50, 0),
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_asof_strict_and_same_microsecond_tie(spark):
    from smartreader_spark.functions.events import events_asof_error

    tmp = tempfile.mkdtemp(prefix="asof_")
    try:
        rows = [
            # two errors at the SAME microsecond: later events must
            # attach to the larger event_id deterministically
            (0, "2024-01-01 00:00:00", 1, "error", 0.0),
            (1, "2024-01-01 00:00:00", 1, "error", 0.0),
            # a view at the exact error microsecond: STRICTLY-earlier
            # semantics -> no match
            (2, "2024-01-01 00:00:00", 1, "view", 1.0),
            (3, "2024-01-01 00:00:01", 1, "view", 1.0),
            # a later error, then an event after it
            (4, "2024-01-01 00:01:00", 1, "error", 0.0),
            (5, "2024-01-01 00:02:00", 1, "view", 1.0),
            # other user: never any error
            (6, "2024-01-01 00:00:30", 2, "view", 1.0),
        ]
        _write_events(spark, tmp, rows)
        got = {
            r["event_id"]: (r["last_error_id"], r["micros_since_error"])
            for r in events_asof_error(spark, tmp).collect()
        }
        assert got == {
            0: (None, None),
            1: (None, None),
            2: (None, None),
            3: (1, 1_000_000),
            4: (1, 60_000_000),
            5: (4, 60_000_000),
            6: (None, None),
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_session_windows_agree_with_batch_sessionizer(spark):
    """The streaming session_window gap rule was PROBED to be the same
    strict-> as the batch operator: on the exact-boundary corpus the
    streaming sessions must be the batch sessions, with end reported as
    last event + gap."""
    from smartreader_spark.functions.events import (
        SESSION_GAP_MICROS,
        event_sessions,
    )
    from smartreader_spark.streaming.window_stream import (
        stream_event_sessions_bounded,
    )

    tmp = tempfile.mkdtemp(prefix="sessstream_")
    try:
        rows = [
            (0, "2024-01-01 00:00:00", 1, "view", 1.0),
            # EXACTLY 12 h later: stays in-session in BOTH engines
            (1, "2024-01-01 12:00:00", 1, "click", 2.0),
            (2, "2024-01-02 00:00:00.000001", 1, "error", 3.0),
            (3, "2024-01-05 08:00:00", 2, "view", 0.5),
        ]
        _write_events(spark, tmp, rows)
        got = {
            (r["user_id"], r["session_start_micros"]): (
                r["session_end_micros"], r["n_events"], r["value_cents"],
                r["n_errors"],
            )
            for r in stream_event_sessions_bounded(spark, tmp).collect()
        }
        want = {
            (r["user_id"], r["start_micros"]): (
                r["end_micros"] + SESSION_GAP_MICROS, r["n_events"],
                r["value_cents"], r["n_errors"],
            )
            for r in event_sessions(spark, tmp).collect()
        }
        assert got == want
        assert len(got) == 3
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_asof_matches_batch_including_ties(spark):
    """Batch/stream parity of the custom-stateful as-of gate on the
    tie-heavy handcrafted corpus AND on sf0.001: same-microsecond error
    ties break to max id, exact-microsecond events excluded, state
    carried across micro-batches."""
    from smartreader_spark.functions.events import events_asof_error
    from smartreader_spark.streaming.asof_stream import (
        stream_asof_error_bounded,
    )

    tmp = tempfile.mkdtemp(prefix="asofstream_")
    try:
        rows = [
            (0, "2024-01-01 00:00:00", 1, "error", 0.0),
            (1, "2024-01-01 00:00:00", 1, "error", 0.0),
            (2, "2024-01-01 00:00:00", 1, "view", 1.0),
            (3, "2024-01-01 00:00:01", 1, "view", 1.0),
            (4, "2024-01-01 00:01:00", 1, "error", 0.0),
            (5, "2024-01-01 00:02:00", 1, "view", 1.0),
            (6, "2024-01-01 00:00:30", 2, "view", 1.0),
        ]
        _write_events(spark, tmp, rows)
        for sf in (tmp, SF):
            got = {
                r["event_id"]: (r["last_error_id"], r["micros_since_error"])
                for r in stream_asof_error_bounded(spark, sf).collect()
            }
            want = {
                r["event_id"]: (r["last_error_id"], r["micros_since_error"])
                for r in events_asof_error(spark, sf).collect()
            }
            assert got == want and len(got) > 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_interval_join_inclusive_bounds(spark):
    """Pins the interval join's boundary semantics: errors exactly 1 h
    before and exactly AT the click are both matched (inclusive bounds);
    1 h + 1 µs before and any time after are not."""
    from smartreader_spark.streaming.join_stream import (
        stream_interval_join_bounded,
    )

    tmp = tempfile.mkdtemp(prefix="ivjoin_")
    try:
        rows = [
            (0, "2024-01-01 11:59:59.999999", 1, "error", 0.0),  # 1h+1µs: out
            (1, "2024-01-01 12:00:00", 1, "error", 0.0),         # exactly 1h: in
            (2, "2024-01-01 12:30:00", 1, "error", 0.0),         # in
            (3, "2024-01-01 13:00:00", 1, "error", 0.0),         # at click: in
            (4, "2024-01-01 13:00:00", 1, "click", 1.0),
            (5, "2024-01-01 13:00:00.000001", 1, "error", 0.0),  # after: out
            (6, "2024-01-01 12:30:00", 2, "error", 0.0),         # other user
        ]
        _write_events(spark, tmp, rows)
        got = {
            (r["click_id"], r["error_id"]): r["lag_micros"]
            for r in stream_interval_join_bounded(spark, tmp).collect()
        }
        assert got == {
            (4, 1): 3600 * 1_000_000,
            (4, 2): 1800 * 1_000_000,
            (4, 3): 0,
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_source_length_stats_interpolation(spark):
    """Pins the continuous-quantile interpolation on a handcrafted
    4-value group: p25 of [10, 20, 30, 100] is 17.5, p50 is 25, p75 is
    47.5, p95 is 89.5 ((1-g)*x[f] + g*x[f+1] at rank p*(n-1))."""
    from smartreader_spark.functions.stats import source_length_stats

    tmp = tempfile.mkdtemp(prefix="stats_")
    try:
        rows = [(i, "x", "a", n) for i, n in enumerate((10, 20, 30, 100))]
        spark.createDataFrame(
            rows, "doc_id long, text string, source string, n_chars long"
        ).coalesce(1).write.parquet(f"{tmp}/documents.parquet")
        r = source_length_stats(spark, tmp).collect()[0]
        assert (r["p25_chars"], r["p50_chars"], r["p75_chars"],
                r["p95_chars"]) == (17.5, 25.0, 47.5, 89.5)
        assert (r["n_docs"], r["total_chars"], r["min_chars"],
                r["max_chars"], r["mean_chars"]) == (4, 160, 10, 100, 40.0)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_windows_span_batches_with_zero_drops(spark):
    """Pins the replay-order guarantee structurally: the bounded replay
    processes the real events across MULTIPLE micro-batches (the
    watermark genuinely advances between them) and the state operator
    reports zero rows dropped by watermark — the property the
    time-ordered source layout exists to provide."""
    from smartreader_spark.streaming.replay import (
        EVENTS_SCHEMA,
        read_files,
        time_ordered_events,
    )
    from smartreader_spark.streaming.window_stream import windowed_event_counts

    sink = tempfile.mkdtemp(prefix="wsink_")
    ckpt = tempfile.mkdtemp(prefix="wckpt_")
    try:
        with time_ordered_events(spark, SF) as src:
            stream = read_files(spark, src, EVENTS_SCHEMA, 1)
            q = (
                windowed_event_counts(stream)
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        progress = q.recentProgress
        data_batches = [p for p in progress if p["numInputRows"] > 0]
        assert len(data_batches) >= 3  # 4 range files + flush
        drops = sum(
            op.get("numRowsDroppedByWatermark", 0)
            for p in progress
            for op in p.get("stateOperators", [])
        )
        assert drops == 0
        # the watermark must genuinely advance across the replay
        wms = [
            p["eventTime"]["watermark"]
            for p in progress
            if p.get("eventTime", {}).get("watermark")
        ]
        assert len(set(wms)) >= 3
    finally:
        shutil.rmtree(sink, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_stream_windows_match_batch_restatement(spark):
    """Batch/stream parity: the bounded watermarked replay must emit
    exactly the tumbling windows the batch plan computes — every window
    exactly once, none dropped by watermark, sentinel excluded."""
    from smartreader_spark.functions.events import _events
    from smartreader_spark.streaming.window_stream import (
        WINDOW_MICROS,
        stream_event_windows_bounded,
    )

    got = [
        tuple(r)
        for r in stream_event_windows_bounded(spark, SF).collect()
    ]
    ev = _events(spark, SF)
    bucket = (F.col("micros") - F.col("micros") % WINDOW_MICROS)
    want = [
        tuple(r)
        for r in (
            ev.groupBy(
                bucket.alias("window_start_micros"),
                (bucket + WINDOW_MICROS).alias("window_end_micros"),
                "event_type",
            )
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                    "value_cents"
                ),
            )
            .orderBy("window_start_micros", "event_type")
            .collect()
        )
    ]
    assert len(got) > 0
    assert got == want
