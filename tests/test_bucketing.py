"""Bucketed-table co-location: the 100 TB join lever, plan-proven.

At cluster scale the dominant cost of joining a corpus table to its
side tables (token counts, dedup verdicts, quality scores — all keyed
by doc_id) is the shuffle of the big side. Writing both sides bucketed
by the join key (`bucketBy(N, key)` + `sortBy`) pre-co-locates them:
the join compiles to a SortMergeJoin with ZERO Exchange operators —
each task reads matching buckets from both tables. This file proves
that plan shape on real written tables (the thing PLANS.md can't show,
since driver queries read the provided parquet and must not write
managed tables), and that the bucketed plan is value-identical to the
shuffled one.
"""

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_has_zero_exchanges(spark, tmp_path):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    tokens = docs.select(
        "doc_id", F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens")
    )
    (
        docs.select("doc_id", "source", "n_chars")
        .write.mode("overwrite")
        .bucketBy(8, "doc_id").sortBy("doc_id")
        .option("path", str(tmp_path / "docs_b"))
        .saveAsTable("docs_b")
    )
    (
        tokens.write.mode("overwrite")
        .bucketBy(8, "doc_id").sortBy("doc_id")
        .option("path", str(tmp_path / "tokens_b"))
        .saveAsTable("tokens_b")
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("docs_b").join(spark.table("tokens_b"), "doc_id")
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located: no shuffle on either side

        # the co-located result must equal the shuffled baseline
        base = docs.select("doc_id", "source", "n_chars").join(tokens, "doc_id")
        got = {tuple(r) for r in joined.collect()}
        want = {tuple(r) for r in base.collect()}
        assert got == want and len(got) > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS docs_b")
        spark.sql("DROP TABLE IF EXISTS tokens_b")


def test_unbucketed_join_pays_the_shuffle(spark):
    """The control: the same join without bucketing has Exchange nodes —
    the delta IS the lever this file documents."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        tokens = docs.select(
            "doc_id", F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens")
        )
        plan = plan_of(docs.select("doc_id", "n_chars").join(tokens, "doc_id"))
        assert "Exchange hashpartitioning(doc_id" in plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
