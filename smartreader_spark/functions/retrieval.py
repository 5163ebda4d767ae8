"""Keyword retrieval over the `documents` table — BM25 (Okapi) top-k.

The engine's search leg: rank documents against a small literal query
set with the Robertson/Sparck-Jones BM25 weighting (the scoring function
behind Lucene/Elasticsearch defaults). Everything is built-in-expression
DataFrame work — tokenize, term-frequency aggregate, document-frequency
dictionary, one broadcast join of the tiny query-term table — zero
Python in the plan.

Cross-engine determinism (the unigram_surprisal fixed-point
discipline): the only transcendental, ln(1 + (N - df + .5)/(df + .5)),
is quantized to integer micro-units ON THE TERM DICTIONARY (one ln per
distinct query term); each (query, doc, term) contribution is then
round(idf_micro * tf_norm) — one double multiply + one round — and the
per-document score is an exact integer sum, so summation order cannot
perturb it. Ranking breaks ties on the INTEGER micro score then doc_id,
never on a float. The DuckDB oracle restates the identical fixed-point
pipeline with the same decimal literals (1.2 / 0.25 / 0.75 / 2.2 parse
to identical doubles in both engines).

100-TB shape: tf is one (doc, term) groupBy with map-side partial
aggregation; df is a term-keyed agg OVER the tf table (dictionary-
sized, not corpus-sized); the query table is literals → broadcast; the
only wide shuffle is the tf build, which every inverted-index
construction pays exactly once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..layout import spread
from .textqa import load_documents, tokens

BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 5
# deterministic literal query set: a rare high-idf term (dup), common
# mid-frequency terms, and an all-stopword query so the length
# normalization is the only discriminator on q3
BM25_QUERIES = [
    (0, "dup hash join"),
    (1, "window sort key"),
    (2, "spark stream batch scan"),
    (3, "the a big small fast"),
]


def bm25_search(spark: SparkSession, sf_dir: str,
                k: int = BM25_TOPK) -> DataFrame:
    """Top-k BM25 hits per query: (query_id, doc_id, score,
    n_terms_matched, rank), rank ordered by the integer micro score
    descending then doc_id ascending."""
    docs = load_documents(spark, sf_dir)
    toks = tokens(F.col("text"))
    # r7 (guide §2.3 "shuffle fewer bytes"): every consumer of the tf
    # table is INNER-joined against the literal query-term set — scored
    # through the broadcast qt table, and df through qt's own inner join
    # with qterms — so (doc, term) rows for terms outside the query set
    # can be dropped BEFORE the tf shuffle. Identical results; the wide
    # exchange shrinks from the whole corpus vocabulary to the ~17 query
    # terms' postings. The scan is also spread over the cluster first
    # (single-file input, guide §2.5).
    qterm_set = sorted({t for _, q in BM25_QUERIES for t in q.split()})
    # one tokenize pass total: the corpus-stats scalar agg and the tf
    # build share the cached tokenized base (the within-query cache
    # pattern of pipeline_end_to_end; at 100 TB the stats agg would run
    # off the same materialized pass of an inverted-index build, which
    # every BM25 indexer pays exactly once)
    base_tok = (
        spread(docs.select("doc_id", "text"))
        .select("doc_id", toks.alias("toks"))
        .cache()
    )
    base = (
        base_tok.select(
            "doc_id",
            F.size("toks").alias("dl"),
            F.explode("toks").alias("term"),
        )
        .where(F.col("term") != "")
        .where(F.col("term").isin(qterm_set))
    )
    tf = base.groupBy("doc_id", "term").agg(
        F.count("*").alias("tf"), F.max("dl").alias("dl")
    )

    # corpus stats: two scalars off one tiny agg (driver-side like the
    # IVF codebook — codebook-sized, never per-row)
    s = (
        base_tok.select(F.size("toks").alias("dl"))
        .agg(F.count("*").alias("n"), F.sum("dl").alias("tot"))
        .first()
    )
    n_docs = int(s["n"])
    avgdl = float(s["tot"]) / float(s["n"])

    df_all = tf.groupBy("term").agg(F.count("*").alias("df"))
    qterms = spark.createDataFrame(
        [(qid, t) for qid, q in BM25_QUERIES for t in q.split()],
        "query_id int, term string",
    )
    idf_micro = (
        F.round(
            F.log(
                F.lit(1.0)
                + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            )
            * 1e6
        )
        .cast("long")
        .alias("idf_micro")
    )
    qt = qterms.join(df_all, "term").select("query_id", "term", idf_micro)

    tf_norm = (F.col("tf") * F.lit(2.2)) / (
        F.col("tf")
        + F.lit(BM25_K1)
        * (F.lit(0.25) + F.lit(BM25_B) * F.col("dl") / F.lit(avgdl))
    )
    contrib = F.round(F.col("idf_micro") * tf_norm).cast("long")
    scored = (
        tf.join(F.broadcast(qt), "term")
        .select("query_id", "doc_id", contrib.alias("c_micro"))
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum("c_micro").alias("s_micro"),
            F.count("*").alias("n_terms_matched"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("s_micro"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "doc_id",
            F.round(F.col("s_micro") / 1e6, 6).alias("score"),
            "n_terms_matched",
            "rank",
        )
        .orderBy("query_id", "rank")
    )
