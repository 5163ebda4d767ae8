"""Sources / sinks.

Production target (BASELINE.json input_hint): an Iceberg table of
(doc_id, spans). Iceberg gives the engine partition/predicate pushdown
for free through Catalyst plus ACID appends for the resume ledger
(SURVEY.md §2.12). The Iceberg runtime jar is not present in this
sandbox, so every entry point takes either a table identifier (routed to
``format("iceberg")``) or a path (parquet) — the plan shape downstream is
identical, which is the part that matters for the engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def _iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.source.SparkTable"
        )
        return True
    except Exception:
        return False


def write_articles(df: DataFrame, target: str, mode: str = "append") -> None:
    """Append extraction output. On Iceberg: snapshot-isolated append
    (safe concurrent with readers); on parquet: directory append.
    Mirrors the read path's routing: a '/'-less target is only treated
    as an Iceberg identifier when the runtime is actually loadable —
    otherwise (e.g. a relative parquet filename, or Iceberg-without-jar)
    it falls back to a parquet write instead of failing analysis."""
    if "/" not in target and _iceberg_available(df.sparkSession):
        df.writeTo(target).append()
    else:
        df.write.mode(mode).parquet(target)


def merge_upsert_sql(target: str, source_view: str, key: str = "doc_id") -> str:
    """The upsert statement `write_ledgered` runs on an Iceberg target:
    retried docs REPLACE their earlier (errored) row instead of appending
    a duplicate — Iceberg executes this as a copy-on-write/merge-on-read
    row-level operation under snapshot isolation. Split out as a pure
    builder so the statement's plan shape is testable without the
    runtime jar (tests/test_plans.py::test_iceberg_merge_plan_shape)."""
    return (
        f"MERGE INTO {target} t USING {source_view} s ON t.{key} = s.{key} "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )


def write_ledgered(df: DataFrame, target: str) -> None:
    """Idempotent-by-doc_id write used by the resume loop. On an Iceberg
    table identifier: MERGE INTO (upsert by doc_id) so a retry replaces
    the errored row. On a parquet path: append — idempotence then relies
    on the caller anti-joining against the ledger first
    (pipeline.checkpoint.remaining_input) and readers collapsing retry
    duplicates (pipeline.checkpoint.read_extracted)."""
    if "/" not in target and _iceberg_available(df.sparkSession):
        view = "_smartreader_upsert_src"
        df.createOrReplaceTempView(view)
        df.sparkSession.sql(merge_upsert_sql(target, view))
    else:
        write_articles(df, target, mode="append")
