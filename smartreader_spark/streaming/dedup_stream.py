"""Stateful streaming dedup: emit only the FIRST document per content
fingerprint across the whole stream (a training-data ingest gate).

This is the custom-stateful-operator pattern the batch engine cannot
express with plain windowed aggregation: state = "have I ever seen this
fingerprint", keyed by the fingerprint, unbounded lifetime (optionally
TTL'd via timeouts). Implemented with ``applyInPandasWithState`` —
Arrow-batched per group, state stored in the streaming state store
(RocksDB/HDFS-backed on a real cluster, checkpointed exactly-once).

Scale shape: the stream shuffles by fingerprint (fixed-width md5 — the
same key discipline as the batch dedup in functions/dedup.py), so state
is partitioned across executors and each key's state is a single byte.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.textqa import _norm
from .replay import drain, read_files

DEDUP_OUT_SCHEMA = T.StructType(
    [
        T.StructField("fp", T.StringType(), False),
        T.StructField("doc_id", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("is_first", T.BooleanType()),
    ]
)

# state: number of docs seen for this fingerprint so far
DEDUP_STATE_SCHEMA = T.StructType([T.StructField("seen", T.LongType())])


def _dedup_group(key, pdfs, state):
    """Emit rows of a fingerprint group; only rows arriving while the
    fingerprint was unseen get is_first=True (at most one per key per
    micro-batch feed order; exactly one across the stream). Vectorized:
    a row is first iff its cumulative position across the stream —
    prior `seen` count plus offset within this feed — is zero."""
    import numpy as np
    import pandas as pd

    (fp,) = key
    seen = state.get[0] if state.exists else 0
    frames = []
    for pdf in pdfs:
        n = len(pdf)
        if not n:
            continue
        frames.append(
            pd.DataFrame(
                {
                    "fp": fp,
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "text": pdf["text"].to_numpy(),
                    "is_first": np.arange(seen, seen + n) == 0,
                }
            )
        )
        seen += n
    state.update((seen,))
    if not frames:
        frames.append(
            pd.DataFrame(columns=["fp", "doc_id", "text", "is_first"])
        )
    yield from frames


def stream_dedup_bounded(spark, source_dir: str) -> DataFrame:
    """Bounded availableNow replay of a (doc_id, text) parquet directory
    through the STATEFUL dedup gate — the driver-gate twin of
    extract_stream.stream_extract_bounded, proving the
    applyInPandasWithState operator against a value oracle: state spans
    micro-batches (2 files per trigger), and exactly one row per
    fingerprint comes back is_first across the whole run. Returns the
    materialized annotated output (fp, doc_id, text, is_first)."""
    return drain(spark, stream_dedup_exact(
        read_files(spark, source_dir, "doc_id string, text string", 2)))


def stream_dedup_exact(docs_stream: DataFrame) -> DataFrame:
    """(doc_id, text) stream → annotated stream where `is_first` marks the
    first-ever occurrence of each normalized-content fingerprint; filter
    on it to get the deduplicated stream. The fingerprint matches the
    batch operator (functions/dedup.exact_dedup_groups) so a batch
    backfill and the streaming gate agree."""
    fp = F.md5(_norm(F.col("text")))
    keyed = docs_stream.withColumn("fp", fp)
    return (
        keyed.groupBy("fp")
        .applyInPandasWithState(
            _dedup_group,
            outputStructType=DEDUP_OUT_SCHEMA,
            stateStructType=DEDUP_STATE_SCHEMA,
            outputMode="append",
            timeoutConf="NoTimeout",
        )
    )
