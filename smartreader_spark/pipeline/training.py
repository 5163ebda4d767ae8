"""The composed end-to-end training-data pipeline (the north_rule's job).

One job shape, the one a 100-TB run would submit:

    scan → extract (HTML leg ∪ PDF leg, both landing in the ONE
    interleaved span table — SURVEY.md §1.2 invariant) → exact dedup →
    simhash near-dup filter → quality filter → token counts,
    with a funnel/lineage view that records what every stage kept,
    dropped, and — for the simhash skew valve — what it refused to
    compare (ADVICE r3: the recall trade must be observable in the
    primary path).

Every stage is an already-oracled operator (pipeline/extract.py,
pipeline/pdf_ingest.py, functions/dedup.py, functions/textqa.py);
this module proves them COMPOSED, with one materialization barrier and
one extraction pass, as a single driver-gated query
(`pipeline_end_to_end` + `pipeline_funnel` in __spark_entry__).

Scale notes (`local[N]`, one task slot per core, on a single machine
here; 1000 executors is the design point):

* The unified doc table is cached after extraction
  (`spark.storage`-backed here; at 100 TB this is the write of the
  extracted span table to Iceberg — a storage barrier, NOT a driver
  collect). Everything downstream branches off that one materialization,
  so the expensive mapInPandas extraction executes exactly once even
  though dedup's self-joins consume the table multiple times.
* Exact dedup is a window (row_number over fp) — one hash shuffle on a
  fixed-width digest; no self-join, no recompute.
* The near-dup stage reuses functions.dedup's simhash pair miner:
  banded equi-join on (band, 10-bit bandbits), verified by bit_count —
  the scale-correct candidate-generation shape. Its skew valve is a
  count over the (band, bandbits) window, and the self-join reads that
  window's hash exchange as it is: no separate aggregate, no broadcast.
* The loser set (larger member of each near-dup pair) is tiny relative
  to the corpus → broadcast left-anti join, built from the verified
  pair rows with no distinct and no shuffle of its own.
* Quality + token counting are pure projections (codegen, no shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.dedup import (
    SIMHASH_MAX_BUCKET,
    oversized_buckets_for_docs,
    simhash_pair_rows,
    simhash_pairs_for_docs,
)
from ..functions.textqa import STOPWORDS, _norm, tokens
from ..localrel import local_frame
from ..memo import SessionMemo
from ..sqltext import sql_string
from .corpus import wrap_plain_documents
from .extract import extract_articles
from .pdf_ingest import pdf_to_span_table

#: paragraph joiner between a document's text spans (mirrored by
#: tools/build_expected.py::pipeline_docs_rows)
TEXT_JOIN = "\n\n"

#: number of synthetic PDF docs unioned into the gate-sized pipeline run
PDF_DOCS = 8

#: quality-gate punctuation class: ASCII plus the CJK/fullwidth marks, so
#: a Chinese/Japanese doc's punctuation density is measured, not invisible
#: (VERDICT r4 #3; mirrored verbatim in the DuckDB oracle)
PUNCT_CHARS = ".,;:!?。、！？：；"


def doc_text_expr():
    """Ordered concat of a document's *text* spans with a paragraph
    joiner — pure built-in expressions (JVM-side; same codegen shape as
    pipeline.extract.reassemble_html_expr, which it extends with the
    kind filter), stated as one SQL string (the `_lit_mat_sql`
    discipline: one py4j call instead of one per sub-expression)."""
    return F.expr(
        f"concat_ws({sql_string(TEXT_JOIN)}, transform(filter(array_sort("
        "transform(spans, s -> struct(s.offset AS o, s.kind AS k, s.text AS t))), "
        "s -> s.k = 'text'), s -> s.t))"
    )


def unified_doc_table(spark: SparkSession, sf_dir: str,
                      pdf_source: "DataFrame | str | None" = None,
                      pdf_partitions: int | None = None) -> DataFrame:
    """Both extraction legs → one (doc_id, source, text) table.

    HTML leg: the driver's `documents` table wrapped as interleaved
    span docs → kernel extraction via Arrow-batched mapInPandas.
    PDF leg: by default the deterministic synthetic PDF corpus
    (sources/pdf_corpus.py — no external data) → kernel/pdfkit.py via
    mapInPandas over binary batches. `pdf_source` swaps in a real
    corpus: a DataFrame with (doc_id, pdf:binary) columns or a parquet
    path of the same shape (tools/submit_pipeline.py --pdf-source), and
    `pdf_partitions` sizes that leg's spread (default: gate-sized 2 for
    the synthetic corpus, the HTML leg's count for an external one).

    Errored or empty-extraction documents are dropped here (they are
    the retry ledger's job, pipeline/checkpoint.py — not training
    data)."""
    from ..sources.pdf_corpus import pdf_corpus_rows

    # ~¾ of task slots: the measured mapInPandas sweet spot (the JVM
    # feeder threads keep whole cores — BASELINE.md); at cluster scale
    # 3-4× total slots would be the choice instead (extract.py rationale)
    num_partitions = max(4, (spark.sparkContext.defaultParallelism * 3) // 4)
    html = (
        extract_articles(
            wrap_plain_documents(spark, sf_dir), num_partitions=num_partitions
        )
        .filter(F.col("error").isNull())
        .select(
            F.col("doc_id"),
            F.lit("html").alias("source"),
            doc_text_expr().alias("text"),
        )
    )
    if pdf_source is None:
        pdf_df = local_frame(spark, pdf_corpus_rows(PDF_DOCS), "doc_id long, pdf binary")
        pdf_partitions = pdf_partitions or 2  # gate-sized default
    else:
        pdf_df = (
            spark.read.parquet(pdf_source)
            if isinstance(pdf_source, str)
            else pdf_source
        )
        pdf_partitions = pdf_partitions or num_partitions
    pdf = (
        pdf_to_span_table(pdf_df, num_partitions=pdf_partitions)
        .filter(F.col("error").isNull())
        .select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.lit("pdf").alias("source"),
            doc_text_expr().alias("text"),
        )
    )
    return html.unionByName(pdf).filter(F.length("text") > 0)


def quality_token_stage(uniq: DataFrame) -> DataFrame:
    """Stage 3 — language-aware quality gate + token counts over a
    (…, text) table. Pure projections (codegen, no shuffle).

    Language awareness (VERDICT r4 #3): the stopword signal is the hit
    count of the doc's *winning* language over the textqa lexicon
    (en/es/de/fr, argmax with textqa.language_guess's tie-break —
    lexicographically greatest code), so a Spanish doc is graded against
    Spanish stopwords; `lang_guess` is emitted for observability. The
    punctuation class includes CJK/fullwidth marks (PUNCT_CHARS)."""
    # the token split (_toks) and the winning-language struct (_best) are
    # named columns, each computed once: the 13 per-language counters read
    # _toks, lang_guess and stopword_ratio read _best. Higher-order
    # functions sit outside codegen subexpression elimination, and
    # CollapseProject keeps a non-cheap alias that is referenced many
    # times, so inlined they would be recomputed per reference.
    #
    # The expressions are SQL strings (the codebook _lit_mat_sql
    # discipline) in one projection: through the Column API and a
    # withColumn chain they cost ~700 py4j round-trips and one analysis
    # of the whole plan per column. The counters are size(filter(...))
    # over a stopword array literal per language, argmax by (hits, lang)
    # via array_max over structs.
    def _hits_sql(words):
        # one-arg lambda (PySpark treats a 2-arg lambda as element+index)
        arr = "array(" + ",".join(sql_string(w) for w in words) + ")"
        return f"size(filter(_toks, t -> array_contains({arr}, t)))"

    best = "array_max(array(" + ",".join(
        f"struct({_hits_sql(words)} AS hits, {sql_string(lang)} AS lang)"
        for lang, words in STOPWORDS.items()
    ) + ")) AS _best"
    punct = (
        f"length(regexp_replace(text, {sql_string('[^' + PUNCT_CHARS + ']')}, ''))"
        " / greatest(length(text), 1)"
    )
    return (
        uniq.select("*", tokens(F.col("text")).alias("_toks"))
        .selectExpr("*", best)
        .selectExpr(
            *(f"`{c}`" for c in uniq.columns),
            "length(text) AS n_chars",
            "size(_toks) AS n_tokens",
            "CASE WHEN _best.hits > 0 THEN _best.lang ELSE 'und' END AS lang_guess",
            f"round({punct}, 6) AS punct_ratio",
            "round(_best.hits / greatest(size(_toks), 1), 6) AS stopword_ratio",
            "CAST(ceil(length(text) / 4) AS BIGINT) AS n_subwords_est",
        )
        .filter(f"n_chars >= 100 AND n_tokens >= 20 AND {punct} < 0.1D")
    )


#: the composed-stage build, shared by pipeline_end_to_end AND
#: pipeline_funnel in one session (one extraction pass, not two — VERDICT
#: r4 "What's wrong" #3); keyed on the input files (memo.py)
_STAGES_CACHE = SessionMemo("training.stages")


def _stages(spark: SparkSession, sf_dir: str,
            pdf_source: "DataFrame | str | None" = None,
            pdf_partitions: int | None = None) -> dict[str, DataFrame]:
    """Build every stage DataFrame once; `pipeline_end_to_end` returns
    the survivors, `pipeline_funnel` the per-stage lineage counts."""
    return _STAGES_CACHE.get_or_build(
        spark,
        (sf_dir, pdf_source, pdf_partitions),
        (sf_dir, pdf_source),
        lambda: _build_stages(spark, sf_dir, pdf_source, pdf_partitions),
    )


def _build_stages(spark: SparkSession, sf_dir: str,
                  pdf_source: "DataFrame | str | None",
                  pdf_partitions: int | None) -> dict[str, DataFrame]:
    docs = unified_doc_table(
        spark, sf_dir, pdf_source=pdf_source, pdf_partitions=pdf_partitions
    ).cache()  # ONE extraction pass;
    # at 100 TB this cache is the Iceberg write of the extracted table.
    # kept and banded are cached too: each feeds two branches of one
    # query, and under AQE an exchange above a cached scan is never
    # reused, so without a cache each branch would shuffle on its own.
    # The pairs are not: only the funnel counts them.

    # stage 1 — exact dedup: window on the content digest (single hash
    # shuffle on a fixed-width key; min-doc_id keeper, deterministic)
    w = Window.partitionBy("fp").orderBy("doc_id")
    kept = (
        docs.withColumn("fp", F.md5(_norm(F.col("text"))))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .cache()
    )

    # stage 2 — simhash near-dup: drop the LARGER member of every
    # (hamming ≤ 3) pair; keep-smallest is the same greedy deterministic
    # rule as the exact stage's min-doc_id keeper. ONE 60-bit signature
    # pass feeds both the pair miner and the funnel's skew-valve audit.
    from ..functions.dedup import simhash_banded_for_docs

    banded = simhash_banded_for_docs(kept.select("doc_id", "text")).cache()
    pairs = simhash_pairs_for_docs(kept.select("doc_id", "text"), banded=banded)
    # the losers are the doc_b of every verified pair row, before the
    # pairs' distinct and with none of their own (a left-anti join keeps a
    # row once however many right rows match it; the rule of
    # checkpoint.remaining_input): the broadcast is built straight from
    # the self-join, which reads the cached buckets with no shuffle
    losers = simhash_pair_rows(banded).select(F.col("doc_b").alias("doc_id"))
    uniq = kept.join(F.broadcast(losers), "doc_id", "left_anti")

    # stage 3 — language-aware quality gate + token counts (factored out
    # so the per-language path is unit-testable: quality_token_stage)
    final = quality_token_stage(uniq)
    dropped = oversized_buckets_for_docs(
        kept.select("doc_id", "text"),
        max_bucket_size=SIMHASH_MAX_BUCKET,
        banded=banded,
    )
    return {
        "docs": docs,
        "kept": kept,
        "banded": banded,
        "pairs": pairs,
        "uniq": uniq,
        "final": final,
        "dropped_buckets": dropped,
    }


def training_pipeline(spark: SparkSession, sf_dir: str,
                      pdf_source: "DataFrame | str | None" = None,
                      pdf_partitions: int | None = None) -> DataFrame:
    """The surviving training documents with their fingerprints and
    token/quality stats — the end-to-end composed query."""
    final = _stages(
        spark, sf_dir, pdf_source=pdf_source, pdf_partitions=pdf_partitions
    )["final"]
    return final.select(
        "doc_id",
        "source",
        "fp",
        "lang_guess",
        "n_chars",
        "n_tokens",
        "n_subwords_est",
        "punct_ratio",
        "stopword_ratio",
    ).orderBy("doc_id")


def training_funnel(spark: SparkSession, sf_dir: str,
                    pdf_source: "DataFrame | str | None" = None,
                    pdf_partitions: int | None = None) -> DataFrame:
    """Per-stage lineage of the same run: what each stage kept plus the
    near-dup pair volume and — per ADVICE r3 — the simhash skew valve's
    dropped-bucket count, so recall loss is observable, never silent.
    Shares the memoized stage build with training_pipeline — running
    both in one session costs one extraction pass."""
    s = _stages(
        spark, sf_dir, pdf_source=pdf_source, pdf_partitions=pdf_partitions
    )
    rows = [
        ("00_extracted", s["docs"]),
        ("10_exact_deduped", s["kept"]),
        ("15_near_dup_pairs", s["pairs"]),
        ("16_simhash_dropped_buckets", s["dropped_buckets"]),
        ("20_near_deduped", s["uniq"]),
        ("30_quality_passed", s["final"]),
    ]
    out = None
    for stage, df in rows:
        c = df.agg(F.count("*").alias("n_rows")).select(
            F.lit(stage).alias("stage"), "n_rows"
        )
        out = c if out is None else out.unionByName(c)
    return out.orderBy("stage")
