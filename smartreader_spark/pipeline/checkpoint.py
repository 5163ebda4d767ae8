"""Checkpoint / resume: the one resumable run, its done-ledger and the
extraction leg's per-partition lineage (north_rule).

Pattern (SURVEY.md §2.12, §4.2): the output table itself is the ledger —
every successfully written doc_id is done. Resume = left-anti join the
input against the ledger's doc_id projection (broadcast when small, AQE
otherwise) and append only the remainder under the run's own ``run_id=``
partition directory. `run_resumable` is that loop for any leg: the HTML
extraction (`run_resumable_extraction`) and the PDF ingest
(`pdf_ingest.pdf_to_span_table` with `pdf_ingest.pdf_done_predicate`).

Lineage/metrics: one row per (run_id, partition) with document counts and
aggregated extraction metrics, appended alongside the extraction output
so a failed run is diagnosable and a resumed run auditable.
"""

from __future__ import annotations

import time
from typing import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from smartreader_spark.memo import hadoop_path
from smartreader_spark.observed import observed_value

#: the ledger columns of the extraction output (`run_resumable` derives
#: its leg's doc_id type from the input instead). Reading with an
#: explicit schema skips the footer-inference job, and an existing output
#: directory with no files yet reads as an empty ledger.
LEDGER_SCHEMA = "doc_id string, error string"


def remaining_input(input_df: DataFrame, ledger_df: DataFrame | None) -> DataFrame:
    """Anti-join input against the done-ledger. No distinct: a left-anti
    join keeps an input row once however many ledger rows match it, so a
    doc with several output rows (retried after an error) costs nothing
    and there is no extra shuffle. The planner broadcasts a ledger whose
    estimated size is under spark.sql.autoBroadcastJoinThreshold; AQE can
    still switch a larger one to a broadcast at run time."""
    if ledger_df is None:
        return input_df
    return input_df.join(ledger_df.select("doc_id"), "doc_id", "left_anti")


def load_ledger(
    spark: SparkSession,
    output_path: str,
    done_predicate: "F.Column | None" = None,
    schema: str = LEDGER_SCHEMA,
) -> DataFrame | None:
    """The output table IS the ledger (doc_id projection → column-pruned,
    predicate-pushed scan). None only when `output_path` does not exist
    yet (asked through Hadoop's FileSystem, so a ``file://``, ``hdfs://``
    or ``s3a://`` output is found too); an unreadable ledger fails the
    job that scans it (answering "nothing done" would extract every
    document again and append duplicate rows).

    `done_predicate` marks rows a resume should NOT retry; the default
    (`error IS NULL`) retries every errored doc — right for the HTML leg
    where failures are transient. Legs with a permanent-error taxonomy
    pass a wider predicate: the PDF leg uses
    `pdf_ingest.pdf_done_predicate()` (= error IS NULL OR
    is_permanent_error()) so permanently-bad blobs are ledgered as done
    instead of being re-parsed on every resume. `schema` is the ledger
    columns' DDL (`run_resumable` passes the input's doc_id type)."""
    fs, path = hadoop_path(spark, output_path)
    if not fs.exists(path):
        return None
    pred = done_predicate if done_predicate is not None else F.col("error").isNull()
    return spark.read.schema(schema).parquet(output_path).filter(pred).select("doc_id")


def read_extracted(spark: SparkSession, output_path: str) -> DataFrame:
    """Canonical read of the extraction output: exactly one row per doc_id.

    The retry policy (load_ledger excludes errored docs from the ledger)
    means a document that errored in run K and succeeded in run K+1 has
    TWO rows in the output, under different run_id= partitions: the
    runner only appends (no upsert), and this reader collapses the
    duplicate — error-free row preferred, then the latest run.

    Cost note for 100-TB reads: the window shuffles on doc_id. Pay it
    only when retries actually happened (any lineage row with errors >
    0); a clean history has no duplicates and the table can be read
    directly."""
    from pyspark.sql.window import Window

    df = spark.read.parquet(output_path)
    w = Window.partitionBy("doc_id").orderBy(
        F.col("error").isNotNull().cast("int"), F.col("run_id").desc()
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )


def lineage_metrics(extracted: DataFrame, key: "F.Column | None" = None) -> DataFrame:
    """Per-partition lineage + metrics aggregation — runs as a second,
    cheap aggregation over the extraction output (map-side partial agg;
    the shuffle moves only counters).

    `key` defaults to the physical spark_partition_id (per-task lineage,
    the production shape). Pass a deterministic content-derived key (e.g.
    an md5 bucket of doc_id) when the rollup must be reproducible across
    cluster topologies — the correctness-gate query does this so the same
    rollup is restatable in plain SQL on any engine."""
    key = F.spark_partition_id() if key is None else key
    return (
        extracted.withColumn("_part", key)
        .groupBy("_part")
        .agg(
            F.count("*").alias("docs"),
            F.count(F.col("error")).alias("errors"),
            F.sum(F.when(F.col("is_readable"), 1).otherwise(0)).alias("readable"),
            F.sum("metrics.candidates_scored").alias("candidates_scored"),
            F.sum("metrics.nodes_stripped").alias("nodes_stripped"),
            F.sum("metrics.chars_retained").alias("chars_retained"),
        )
        .withColumnRenamed("_part", "partition_id")
    )


def run_resumable(
    spark: SparkSession,
    input_df: DataFrame,
    output_path: str,
    leg: Callable[[DataFrame], DataFrame],
    *,
    done_predicate: "F.Column | None" = None,
    run_id: str | None = None,
) -> dict:
    """One resumable run: anti-join `input_df` against the output's
    ledger, apply `leg` to the remainder, and append the result under
    ``run_id=`` in `output_path`. Returns ``{run_id, output_path,
    run_docs}``. Idempotent across restarts: rerunning after a crash
    processes only the documents missing from the output (and those
    `done_predicate` leaves retryable, see `load_ledger`).

    The ledger's doc_id type is `input_df`'s. `leg` maps the remaining
    input rows to output rows with ``doc_id`` and ``error`` columns. The
    run's doc count is observed on the data write; a read-back of the
    run's partition stands in if the metrics never arrive.

    Duplicate-row consequence of the retry policy: a doc that errored in
    an earlier run and succeeded on retry has BOTH rows in the raw
    output. Consumers must read through `read_extracted` (error-free row
    wins, then latest run) or filter ``error IS NULL``."""
    run_id = run_id or f"run-{time.time_ns()}"
    ledger_ddl = f"doc_id {input_df.schema['doc_id'].dataType.simpleString()}, error string"
    ledger = load_ledger(spark, output_path, done_predicate, ledger_ddl)
    obs = Observation()
    # run_id is added above the observation: the planner drops the write's
    # sort on the partition column only when it can see that column is a
    # literal, and it cannot see through the observation node
    out = (
        leg(remaining_input(input_df, ledger))
        .observe(obs, F.count("*").alias("docs"))
        .withColumn("run_id", F.lit(run_id))
    )
    # each run appends under its own run_id= partition directory (the
    # plain-parquet analog of an Iceberg snapshot: on Iceberg this would
    # be df.writeTo(table).append() and the snapshot id would scope the run)
    out.write.mode("append").partitionBy("run_id").parquet(output_path)
    run_docs = observed_value(
        obs, "docs", lambda: _run_delta(spark, output_path, out.schema, run_id).count()
    )
    return {"run_id": run_id, "output_path": output_path, "run_docs": int(run_docs)}


def _run_delta(
    spark: SparkSession, output_path: str, schema: T.StructType, run_id: str
) -> DataFrame:
    """The rows one run appended: partition pruning on ``run_id=`` scans
    exactly the files that run wrote (the output table is never
    rescanned), read with the explicit `schema` (no footer-inference
    job)."""
    return spark.read.schema(schema).parquet(output_path).filter(F.col("run_id") == run_id)


def run_resumable_extraction(
    spark: SparkSession,
    input_df: DataFrame,
    output_path: str,
    *,
    num_partitions: int | None = None,
    run_id: str | None = None,
) -> dict:
    """`run_resumable` with the extraction leg, then the run's lineage:
    one row per partition of the run's own delta, appended to
    ``<output_path>_lineage``. Re-reading the committed files (instead of
    a cached plan) is immune to the ledger anti-join now seeing this
    run's own output."""
    from .extract import EXTRACT_SCHEMA, extract_articles

    summary = run_resumable(
        spark, input_df, output_path,
        lambda todo: extract_articles(todo, num_partitions=num_partitions),
        run_id=run_id,
    )
    run_id = summary["run_id"]
    delta = _run_delta(
        spark, output_path,
        T.StructType(EXTRACT_SCHEMA.fields + [T.StructField("run_id", T.StringType())]),
        run_id,
    )
    lineage = lineage_metrics(delta.drop("run_id")).withColumn("run_id", F.lit(run_id))
    lineage.write.mode("append").parquet(output_path.rstrip("/") + "_lineage")
    return summary
