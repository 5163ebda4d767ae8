"""Checkpoint / resume: per-partition lineage + done-ledger (north_rule).

Pattern (SURVEY.md §2.12, §4.2): the output table itself is the ledger —
every successfully written doc_id is done. Resume = left-anti join the
input against the ledger's doc_id projection (broadcast when small, AQE
otherwise) and append only the remainder. Appends are atomic per job on
Iceberg (snapshot isolation); on plain parquet we emulate with directory
-per-run appends, which is what this sandbox exercises.

Lineage/metrics: one row per (run_id, partition) with document counts and
aggregated extraction metrics, appended alongside the data so a failed run
is diagnosable and a resumed run auditable.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from smartreader_spark.memo import hadoop_path
from smartreader_spark.observed import observed_value

#: the ledger columns of the extraction output. Reading with an explicit
#: schema skips the footer-inference job, and an existing output
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
    columns' DDL; the PDF leg's doc_id is a long."""
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
    runner always appends parquet (it does not go through
    sources/io.write_ledgered, whose MERGE INTO would upsert on an
    Iceberg table), and this reader collapses the duplicate — error-free
    row preferred, then the latest run.

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


def run_resumable_extraction(
    spark: SparkSession,
    input_df: DataFrame,
    output_path: str,
    *,
    num_partitions: int | None = None,
    options: dict | None = None,
    run_id: str | None = None,
) -> dict:
    """One resumable extraction job: anti-join → extract → append data +
    lineage. Returns a summary dict. Idempotent across restarts: rerunning
    after a crash extracts only the documents missing from the output.

    Duplicate-row consequence of the retry policy: a doc that errored in
    an earlier run and succeeded on retry has BOTH rows in the raw
    output (append-only parquet). Consumers must read through
    `read_extracted` (error-free row wins, then latest run) or filter
    `error IS NULL`. The data is appended as parquet whatever the
    target; the MERGE-INTO upsert of `sources/io.write_ledgered` is not
    used here."""
    from .extract import EXTRACT_SCHEMA, extract_articles

    run_id = run_id or f"run-{time.time_ns()}"
    ledger = load_ledger(spark, output_path)
    todo = remaining_input(input_df, ledger)

    extracted = extract_articles(todo, num_partitions=num_partitions, options=options)

    # write data under a run_id= partition directory (the plain-parquet
    # analog of an Iceberg snapshot: on Iceberg this would be
    # df.writeTo(table).append() and the snapshot id would scope the run)
    extracted.withColumn("run_id", F.lit(run_id)).write.mode("append").partitionBy(
        "run_id"
    ).parquet(output_path)

    # per-run lineage from the run's own delta: partition pruning on
    # run_id= restricts the scan to exactly the files this run wrote —
    # the (possibly huge) output table is never rescanned, and re-reading
    # the committed files (instead of a cached plan) is immune to the
    # ledger anti-join now seeing this run's own output
    delta = (
        spark.read.schema(
            T.StructType(EXTRACT_SCHEMA.fields + [T.StructField("run_id", T.StringType())])
        )
        .parquet(output_path)
        .filter(F.col("run_id") == run_id)
    )
    lineage = lineage_metrics(delta.drop("run_id")).withColumn("run_id", F.lit(run_id))
    lineage_path = output_path.rstrip("/") + "_lineage"
    # the run's doc count is observed while the lineage is written, not
    # read back from it
    obs = Observation()
    lineage.observe(obs, F.sum("docs").alias("docs")).write.mode("append").parquet(
        lineage_path
    )
    run_docs = observed_value(
        obs, "docs", lambda: lineage.agg(F.sum("docs")).collect()[0][0]
    )
    return {"run_id": run_id, "output_path": output_path, "run_docs": int(run_docs or 0)}
