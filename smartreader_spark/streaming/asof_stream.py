"""Custom-stateful streaming as-of enrichment: annotate every event with
the most recent strictly-earlier error of the same user, carried in the
streaming STATE STORE — the streaming twin of the batch
`functions/events.events_asof_error`.

Why this exists as a second `applyInPandasWithState` operator (next to
the dedup gate): stream-stream joins cannot express as-of semantics
(their state buffers BOTH sides within a time interval; as-of needs
"the single latest left-row forever"), and the built-in window
aggregations cannot either — per-key custom state is the right tool,
exactly as on a real ingest pipeline where every document event should
carry "time since this host last errored". State per user is ONE
(micros, event_id) pair — fixed-width, unbounded lifetime, the same
entity-key shuffle discipline as the batch operator.

Correctness contract (the oracle is the SAME DuckDB ASOF JOIN as the
batch op): each batch's Arrow chunks are concatenated and sorted ONCE
by (micros, event_id), then annotated with a vectorized prefix-scan
(`maximum.accumulate` + `searchsorted` — no per-row Python); the state
update keeps the MAX (micros, event_id) error, which is commutative,
and the strictly-earlier boundary excludes same-microsecond errors
regardless of which side of a micro-batch (or range-partition file)
boundary they landed on. The time-ordered replay guarantees batch N+1
rows are >= batch N's max, so state never has to "look ahead"."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .replay import EVENTS_SCHEMA, drain, read_files, time_ordered_events

ASOF_OUT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("last_error_id", T.LongType()),
        T.StructField("micros_since_error", T.LongType()),
    ]
)

#: state: the max (micros, event_id) error seen for this user
ASOF_STATE_SCHEMA = T.StructType(
    [
        T.StructField("err_micros", T.LongType()),
        T.StructField("err_id", T.LongType()),
    ]
)


def _asof_group(key, pdfs, state):
    """Vectorized: the batch's chunks are CONCATENATED before
    processing (Arrow may split one group's batch rows into several
    feeds whose relative order is partition order, not time order — a
    per-chunk state fold would let a later-fed earlier-time error leak
    backwards), then sorted once by (micros, event_id). The prior state
    is a virtual row 0; `maximum.accumulate` over error positions gives
    "latest error at-or-before", and a left `searchsorted` gives the
    boundary below which errors are STRICTLY earlier — same-microsecond
    errors are excluded structurally, and the last error at a given
    microsecond is the max event_id because of the sort. No per-row
    Python."""
    import numpy as np
    import pandas as pd

    (user_id,) = key
    err_m, err_i = state.get if state.exists else (None, None)

    chunks = [pdf for pdf in pdfs if len(pdf)]
    if not chunks:
        yield pd.DataFrame(
            columns=[
                "event_id", "user_id", "event_type",
                "last_error_id", "micros_since_error",
            ]
        )
        return

    pdf = (
        pd.concat(chunks, ignore_index=True)
        .sort_values(["micros", "event_id"], kind="mergesort")
        .reset_index(drop=True)
    )
    micros = pdf["micros"].to_numpy(dtype="int64")
    ids = pdf["event_id"].to_numpy(dtype="int64")
    is_err = (pdf["event_type"] == "error").to_numpy()
    n = len(micros)

    # virtual index space: 0 = carried state, j = row j-1
    last_err_pos = np.maximum.accumulate(
        np.where(np.concatenate(([err_m is not None], is_err)),
                 np.arange(n + 1), -1)
    )
    # rows strictly earlier than row i occupy virtual indices
    # 1..searchsorted(left); the state (virtual 0) is always earlier by
    # the time-ordered replay contract
    pos = last_err_pos[np.searchsorted(micros, micros, side="left")]
    m_all = np.concatenate(([err_m if err_m is not None else 0], micros))
    i_all = np.concatenate(([err_i if err_i is not None else 0], ids))
    matched = pos >= 0
    safe = np.maximum(pos, 0)
    out_err = pd.Series(i_all[safe], dtype="Int64").mask(~matched)
    out_age = pd.Series(micros - m_all[safe], dtype="Int64").mask(~matched)

    # fold this batch's errors into state: max (micros, id) error —
    # with the sort, that is simply the LAST error row
    if is_err.any():
        k = np.flatnonzero(is_err)[-1]
        cand = (int(micros[k]), int(ids[k]))
        if err_m is None or cand > (err_m, err_i):
            err_m, err_i = cand

    frames = [
        pd.DataFrame(
            {
                "event_id": ids,
                "user_id": user_id,
                "event_type": pdf["event_type"].to_numpy(),
                "last_error_id": out_err,
                "micros_since_error": out_age,
            }
        )
    ]
    if err_m is not None:
        state.update((err_m, err_i))
    yield from frames


def stream_asof_error(events_stream: DataFrame) -> DataFrame:
    """(events schema) stream → every row annotated with the most recent
    strictly-earlier same-user error from the state store."""
    keyed = events_stream.withColumn(
        "micros", F.unix_micros(F.col("ts").cast("timestamp"))
    ).select("event_id", "user_id", "event_type", "micros")
    return keyed.groupBy("user_id").applyInPandasWithState(
        _asof_group,
        outputStructType=ASOF_OUT_SCHEMA,
        stateStructType=ASOF_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def stream_asof_error_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded time-ordered replay through the stateful as-of gate —
    value-compared by the driver against the SAME DuckDB ASOF JOIN
    oracle as the batch operator (batch/stream parity for custom
    state). The flush sentinel row is excluded by user_id."""
    with time_ordered_events(spark, sf_dir) as src:
        out = drain(spark, stream_asof_error(
            read_files(spark, src, EVENTS_SCHEMA, 1)))

    return (
        out.where(F.col("user_id") >= 0)
        .select(
            "event_id", "user_id", "event_type",
            "last_error_id", "micros_since_error",
        )
        .orderBy("event_id")
    )
