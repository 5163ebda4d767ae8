"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship: wrap sf0.001 documents into interleaved span
                 docs and run the extraction kernel over them via
                 Arrow-batched mapInPandas.
queries()      — every implemented operator (SURVEY.md §2 + training-data
                 ops); each callable (spark, sf_dir) -> DataFrame.
oracle_sql()   — DuckDB-runnable ANSI SQL for EVERY query (22/22).
                 Relational/dedup/similarity/multimodal ops restate their
                 logic in SQL directly; the DOM-kernel queries oracle
                 against committed expected tables (tools/build_expected
                 .py — regenerate after any kernel change), themselves
                 grounded by the 142-fixture golden harness.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def _docs_as_span_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wrap the driver's plain-text documents into one-span interleaved
    docs (kind='html') — see pipeline.corpus.wrap_plain_documents."""
    from smartreader_spark.pipeline.corpus import wrap_plain_documents

    return wrap_plain_documents(spark, sf_dir)


def _fixture_corpus(spark: SparkSession) -> DataFrame:
    from smartreader_spark.pipeline.corpus import load_corpus

    return load_corpus(spark)


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: extraction over sf0.001 wrapped documents."""
    from smartreader_spark.pipeline.extract import extract_articles

    spans_df = _docs_as_span_table(spark, "/root/testdata/sf0.001")
    out = extract_articles(spans_df, num_partitions=8)
    return out.select(
        "doc_id", "title", "reading_time_sec", "is_readable",
        F.size("spans").alias("n_spans"), "error",
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from smartreader_spark.functions.dedup import (
        embedding_near_dup_pairs,
        exact_dedup_groups,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_near_dup_pairs,
        simhash_signatures,
    )
    from smartreader_spark.functions.multimodal import (
        image_features,
        media_table_from_spans,
        sample_video_frames,
    )
    from smartreader_spark.functions.similarity import (
        ann_pq,
        brute_force_topk,
        ivf_topk,
        lsh_bucketed_topk,
        semantic_dedup,
    )
    from smartreader_spark.functions.retrieval import bm25_search
    from smartreader_spark.functions.components import (
        dedup_components,
        dedup_family_keep_best,
    )
    from smartreader_spark.functions.curation import (
        curation_funnel,
        curation_pipeline,
        dataset_split,
        decontaminate_ngrams,
        dedup_chunks_corpus,
        dsir_importance,
        repetition_scores,
        sequence_pack,
        source_cap_sample,
        source_temperature_sample,
        training_layout,
    )
    from smartreader_spark.functions.privacy import pii_scrub
    from smartreader_spark.functions.bpe import bpe_segment_counts, learn_bpe_merges
    from smartreader_spark.functions.events import (
        event_sessions,
        events_asof_error,
    )
    from smartreader_spark.functions.stats import source_length_stats
    from smartreader_spark.streaming.asof_stream import stream_asof_error_bounded
    from smartreader_spark.streaming.join_stream import (
        stream_interval_join_bounded,
    )
    from smartreader_spark.streaming.window_stream import (
        stream_event_sessions_bounded,
        stream_event_windows_bounded,
    )
    from smartreader_spark.functions.textqa import (
        bpe_token_counts,
        doc_fingerprints,
        language_guess,
        quality_scores,
        bigram_surprisal,
        token_counts,
        unigram_surprisal,
    )
    from smartreader_spark.layout import spread

    def extract_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Extraction over the golden fixture corpus (kernel, rows-only)."""
        from smartreader_spark.pipeline.extract import extract_articles

        out = extract_articles(_fixture_corpus(spark), num_partitions=8)
        return out.select(
            "doc_id", "title", "byline", "language", "is_readable",
            F.size("spans").alias("n_spans"),
            F.col("metrics.chars_retained").alias("chars_retained"),
        ).orderBy("doc_id")

    def extract_corpus_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The SAME extraction spread over 3 partitions instead of 8,
        checked against the identical expected table: extraction results
        do not depend on the layout. (The name is kept from the removed
        salted size-bucket spread this row first checked.)"""
        from smartreader_spark.pipeline.extract import extract_articles

        out = extract_articles(_fixture_corpus(spark), num_partitions=3)
        return out.select(
            "doc_id", "title", "byline", "language", "is_readable",
            F.size("spans").alias("n_spans"),
            F.col("metrics.chars_retained").alias("chars_retained"),
        ).orderBy("doc_id")

    def extract_testdata(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Extraction over wrapped testdata documents (kernel, rows-only)."""
        from smartreader_spark.pipeline.extract import extract_articles

        out = extract_articles(_docs_as_span_table(spark, sf_dir), num_partitions=8)
        return out.select(
            "doc_id", "title", "reading_time_sec", "is_readable",
            F.size("spans").alias("n_spans"),
        ).orderBy("doc_id")

    def extract_metrics_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Lineage/metrics aggregation over extraction output. The rollup
        key is a deterministic md5 bucket of doc_id (not the physical
        partition id) so the same rollup is restatable in SQL on any
        engine/topology — the production path uses spark_partition_id."""
        from smartreader_spark.pipeline.checkpoint import lineage_metrics
        from smartreader_spark.pipeline.extract import extract_articles

        out = extract_articles(_fixture_corpus(spark), num_partitions=8)
        bucket = (
            F.conv(F.substring(F.md5("doc_id"), 1, 2), 16, 10).cast("int") % 8
        )
        return (
            lineage_metrics(out, key=bucket)
            .withColumnRenamed("partition_id", "bucket")
            .orderBy("bucket")
        )

    def pdf_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
        """PDF/layout-parse leg (north_rule): the deterministic synthetic
        PDF corpus (sources/pdf_corpus.py — no external data) through the
        kernel/pdfkit.py parser via mapInPandas, flattened to one row per
        interleaved span. Oracled against the committed expected table
        (tools/build_expected.py), like extract_*."""
        from smartreader_spark.localrel import local_frame
        from smartreader_spark.pipeline.pdf_ingest import pdf_to_span_table
        from smartreader_spark.sources.pdf_corpus import pdf_corpus_rows

        df = local_frame(spark, pdf_corpus_rows(8), "doc_id long, pdf binary")
        out = pdf_to_span_table(df, num_partitions=2)
        return (
            out.select("doc_id", F.posexplode("spans").alias("seq", "s"))
            .select(
                "doc_id",
                "seq",
                F.col("s.kind").alias("kind"),
                F.col("s.text").alias("text"),
                F.col("s.media_ref").alias("media_ref"),
            )
            .orderBy("doc_id", "seq")
        )

    def stream_extract_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The streaming tier under the value oracle: availableNow
        bounded replay of the fixture corpus through the STREAMING
        extraction plan (micro-batched file source, exactly-once file
        sink), compared against the same expected table as the batch
        extract_corpus query — batch/stream parity, value-hashed."""
        from smartreader_spark.pipeline.corpus import DEFAULT_CORPUS_DIR, load_corpus
        from smartreader_spark.streaming.extract_stream import (
            stream_extract_bounded as run_bounded,
        )

        load_corpus(spark)  # ensure the corpus directory exists
        out = run_bounded(spark, DEFAULT_CORPUS_DIR)
        return out.select(
            "doc_id", "title", "byline", "language", "is_readable",
            F.size("spans").alias("n_spans"),
            F.col("metrics.chars_retained").alias("chars_retained"),
        ).orderBy("doc_id")

    def stream_dedup_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The STATEFUL streaming operator under the value oracle
        (VERDICT r4 #4): documents plus deterministic duplicates (every
        doc_id % 50 == 0 re-keyed as '<id>_dup') written as 8 files and
        replayed availableNow in 2-file triggers through the
        applyInPandasWithState dedup gate — duplicate fingerprints cross
        micro-batch boundaries, so the state store is load-bearing. The
        aggregate asserts exactly ONE is_first per fingerprint across
        the whole stream; DuckDB restates it directly over documents."""
        import tempfile

        from smartreader_spark.streaming.dedup_stream import (
            stream_dedup_bounded as run_dedup,
        )

        base = spark.read.parquet(f"{sf_dir}/documents.parquet")
        docs = base.select(
            F.col("doc_id").cast("string").alias("doc_id"), "text"
        )
        dups = base.filter(F.col("doc_id") % 50 == 0).select(
            F.concat(F.col("doc_id").cast("string"), F.lit("_dup")).alias("doc_id"),
            "text",
        )
        with tempfile.TemporaryDirectory(prefix="smartreader_dedup_src_",
                                         ignore_cleanup_errors=True) as src:
            docs.unionByName(dups).repartition(8).write.mode("overwrite").parquet(src)
            out = run_dedup(spark, src)
        return (
            out.groupBy("fp")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum(F.col("is_first").cast("long")).alias("n_firsts"),
            )
            .orderBy("fp")
        )

    def span_reassembly(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Span-tier ops: posexplode → re-sort → ordered concat identity
        check over the fixture corpus (DataFrame-tier, rows-only)."""
        corpus = _fixture_corpus(spark)
        exploded = corpus.select(
            "doc_id", F.posexplode("spans").alias("pos", "span")
        )
        reassembled = (
            exploded.groupBy("doc_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct(F.col("span.offset").alias("o"),
                                            F.col("span.text").alias("t")))
                ).alias("sorted_spans")
            )
            .select(
                "doc_id",
                F.md5(F.concat_ws("", F.transform("sorted_spans", lambda s: s["t"]))).alias(
                    "reassembled_md5"
                ),
            )
        )
        original = corpus.select(
            "doc_id",
            F.md5(
                F.concat_ws(
                    "",
                    F.transform(
                        F.array_sort(
                            F.transform(
                                "spans",
                                lambda s: F.struct(s["offset"].alias("o"), s["text"].alias("t")),
                            )
                        ),
                        lambda s: s["t"],
                    ),
                )
            ).alias("original_md5"),
        )
        return (
            reassembled.join(original, "doc_id")
            .select(
                "doc_id",
                (F.col("reassembled_md5") == F.col("original_md5")).alias("roundtrip_ok"),
            )
            .orderBy("doc_id")
        )

    # --- relational shell operators (SURVEY.md §2.12) with oracles ---

    def agg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Scan + filter pushdown + map-side-combined aggregation."""
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        # decimal aggregation: exact across engines (double sums differ in
        # accumulation order between Spark partial aggs and DuckDB)
        dec = lambda c: F.col(c).cast("decimal(18,4)")
        return (
            li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
                F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
                F.sum(dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec("l_discount")))
                .cast("double")
                .alias("sum_disc_price"),
                F.count("*").alias("count_order"),
            )
            .orderBy("l_returnflag", "l_linestatus")
        )

    def broadcast_join_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Broadcast dim join + top-n: revenue by nation."""
        # r7: project to the two consumed fact columns, then spread the
        # single-file scan (one row group → one task otherwise carried
        # the whole probe+aggregate — guide §2.5); ~MBs move, the join
        # and partial agg run cluster-wide. Identical rows.
        orders = spread(
            spark.read.parquet(f"{sf_dir}/orders.parquet").select(
                "o_custkey", "o_totalprice"
            )
        )
        cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
        nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
        return (
            orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
            .groupBy("n_name")
            .agg(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
                .cast("double")
                .alias("revenue"),
                F.count("*").alias("n_orders"),
            )
            .orderBy(F.desc("revenue"), F.asc("n_name"))
            .limit(10)
        )

    def window_running_value(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Window functions over the events stream table: per-user running
        sum + previous event type."""
        from pyspark.sql.window import Window

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        return (
            ev.withColumn("running_value", F.round(F.sum("value").over(w), 6))
            .withColumn("prev_type", F.lag("event_type").over(w))
            .filter(F.col("user_id") < 50)
            .select("event_id", "user_id", "event_type", "running_value", "prev_type")
            .orderBy("user_id", "ts", "event_id")
        )

    def anti_join_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The checkpoint-ledger anti-join pattern: documents not yet in a
        (deterministic) done-ledger."""
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        ledger = docs.filter(F.col("doc_id") % 10 == 0).select("doc_id")
        return (
            docs.join(ledger, "doc_id", "left_anti")
            .select("doc_id", "n_chars")
            .orderBy("doc_id")
        )

    def media_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Interleaved media spans exploded to a typed media table
        (DataFrame tier, rows-only: corpus not oracle-registered)."""
        return (
            media_table_from_spans(_fixture_corpus(spark))
            .select("doc_id", "media_ref", "kind")
            .orderBy("doc_id", "media_ref")
        )

    def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Arrow-batched image decode/feature plumbing (deterministic fake
        codec; real schema/batching — see functions/multimodal.py)."""
        media = media_table_from_spans(_fixture_corpus(spark))
        return (
            image_features(media, decoder="fake", num_partitions=8)
            .select("doc_id", "media_ref", "width", "height", "sha256")
            .orderBy("doc_id", "media_ref")
        )

    def multimodal_frame_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
        # deterministic ~25% subset (md5 prefix), NOT limit(): limit without
        # order is placement-dependent and would break the value oracle
        media = media_table_from_spans(_fixture_corpus(spark)).filter(
            F.substring(F.md5("media_ref"), 1, 1) < "4"
        )
        return sample_video_frames(media, decoder="fake").orderBy(
            "doc_id", "media_ref", "frame_idx"
        )

    from smartreader_spark.pipeline.training import (
        training_funnel,
        training_pipeline,
    )

    return {
        # extraction kernel tier — oracled against committed expected
        # tables produced by tools/build_expected.py (the kernel itself is
        # grounded by the 142-fixture golden harness)
        "extract_corpus": extract_corpus,
        # the same extraction through the salted size-bucket skew path —
        # both physical strategies must produce identical values
        "extract_corpus_salted": extract_corpus_salted,
        # the composed end-to-end training-data job (north_rule shape):
        # extract (HTML ∪ PDF) → exact dedup → simhash near-dup → quality
        # → token counts, plus its funnel/lineage view
        "pipeline_end_to_end": training_pipeline,
        "pipeline_funnel": training_funnel,
        # streaming tier: bounded replay == batch output (value-hashed);
        # stream_dedup_bounded proves the STATEFUL operator (state spans
        # micro-batches, exactly one is_first per fingerprint)
        "stream_extract_bounded": stream_extract_bounded,
        "stream_dedup_bounded": stream_dedup_bounded,
        "extract_testdata": extract_testdata,
        "extract_metrics_rollup": extract_metrics_rollup,
        "pdf_spans": pdf_spans,
        "span_reassembly": span_reassembly,
        "media_spans": media_spans,
        "multimodal_image_features": multimodal_image_features,
        "multimodal_frame_samples": multimodal_frame_samples,
        # relational shell (oracled)
        "agg_pushdown": agg_pushdown,
        "broadcast_join_topn": broadcast_join_topn,
        "window_running_value": window_running_value,
        "anti_join_resume": anti_join_resume,
        # training-data pipeline ops (oracled)
        "dedup_exact": exact_dedup_groups,
        "dedup_embedding_cosine": embedding_near_dup_pairs,
        "dedup_minhash_lsh": minhash_lsh_pairs,
        "dedup_ngram_jaccard": ngram_jaccard_pairs,
        "dedup_simhash": simhash_signatures,
        "dedup_simhash_pairs": simhash_near_dup_pairs,
        # connected components over the simhash near-dup graph — one
        # canonical survivor per family (chains and all), iterative
        # min-label propagation with pointer jumping
        "dedup_components": dedup_components,
        # quality-first survivor selection over the same families:
        # keeper = max n_chars (tie min doc_id) via a struct-min agg —
        # no corpus-wide window, no text in the shuffle
        "dedup_family_keep_best": dedup_family_keep_best,
        "ann_brute_force": brute_force_topk,
        "ann_lsh_bucketed": lsh_bucketed_topk,
        # inverted-file ANN: driver-resident codebook inlined as literals
        # (map-side cell assignment, no shuffle), nprobe-cell probes
        "ann_ivf": ivf_topk,
        "token_counts": token_counts,
        "bpe_token_counts": bpe_token_counts,
        "quality_scores": quality_scores,
        "language_guess": language_guess,
        "doc_fingerprints": doc_fingerprints,
        # corpus-trained unigram LM cross-entropy filter (CCNet-style;
        # per-token surprisal quantized to integer micro-nats so the
        # per-doc aggregation is an exact order-independent integer sum)
        "unigram_surprisal": unigram_surprisal,
        # order-2 upgrade of the same gate: add-one-smoothed BIGRAM
        # cross-entropy (context-sensitive — catches scrambled-
        # transition spam the unigram model passes); same integer
        # micro-nat fixed-point discipline, ONE corpus-wide shuffle
        "bigram_surprisal": bigram_surprisal,
        # corpus-curation ops (oracled): repetition quality, passage
        # dedup, per-source caps — functions/curation.py
        "repetition_scores": repetition_scores,
        "dedup_chunks_corpus": dedup_chunks_corpus,
        "source_cap_sample": source_cap_sample,
        # temperature-flattened mixture resampling (T=1/2; sqrt rate is
        # IEEE-correctly-rounded so the keep decision is bit-identical
        # cross-engine)
        "source_temperature_sample": source_temperature_sample,
        "curation_pipeline": curation_pipeline,
        "curation_funnel": curation_funnel,
        "pii_scrub": pii_scrub,
        "decontaminate_ngrams": decontaminate_ngrams,
        # training-sequence packing: deterministic per-source layout
        # into fixed 2048-token sequences (cumsum window; integer math
        # plus a power-of-two division, so cross-engine bit-identical)
        "sequence_pack": sequence_pack,
        # reproducible hash-based train/validation/test split (salted
        # md5 → uniform; pure projection, stable under corpus growth)
        "dataset_split": dataset_split,
        # the full curation→split→packing composition (gates, train
        # filter, per-source layout — one job, no corpus re-read)
        "training_layout": training_layout,
        # SemDeDup cluster-bounded semantic dedup: IVF-cell candidate
        # geometry (codebook literals, map-side assignment), min-id
        # representative per intra-cell duplicate group
        "semantic_dedup": semantic_dedup,
        # Okapi BM25 top-k keyword retrieval — idf quantized to integer
        # micro-units on the term dictionary so per-doc scores are exact
        # integer sums; rank ties broken on the integer score
        "bm25_search": bm25_search,
        # DSIR hashed-ngram importance reweighting toward a target
        # source slice (fixed-width bucket model, micro-nat log-ratios)
        "dsir_importance": dsir_importance,
        # product-quantization ANN (ADC/MIPS): 4-bit sub-codes, literal
        # LUTs, map-side encode+score — the memory-compression scale path
        "ann_pq": ann_pq,
        # distributed BPE tokenizer TRAINING (Sennrich 2016): top-k
        # byte-pair merges learned on the word-frequency dictionary —
        # one corpus shuffle, then k vocabulary-bounded rounds
        "bpe_train": learn_bpe_merges,
        # the trained tokenizer applied back to the corpus: per-doc
        # subword counts + fertility via a vocab segmentation join
        "bpe_fertility": bpe_segment_counts,
        # gap-based sessionization of the events stream (12 h inactivity
        # boundary; integer-micros / integer-cents aggregates)
        "event_sessions": event_sessions,
        # joinless as-of: every event annotated with its most recent
        # strictly-earlier error (max-struct over a strict RANGE frame);
        # the oracle restates it with DuckDB's native ASOF JOIN
        "events_asof_error": events_asof_error,
        # watermarked tumbling-window streaming aggregation under the
        # value oracle (bounded replay, flush sentinel, append mode)
        "stream_window_counts": stream_event_windows_bounded,
        # session-window streaming aggregation (dynamic merging windows;
        # probed boundary semantics: touching windows merge, so the gap
        # rule is the SAME strict-> as the batch event_sessions twin)
        "stream_session_windows": stream_event_sessions_bounded,
        # stream-stream interval join (clicks x same-user errors from
        # the preceding hour; both sides watermarked, state evicted by
        # the range condition; inner join emits eagerly -> exact set)
        "stream_interval_join": stream_interval_join_bounded,
        # exact per-source length percentiles (continuous-quantile
        # interpolation cross-checked against DuckDB quantile_cont;
        # approx_percentile is the documented 100 TB swap-in)
        "source_length_stats": source_length_stats,
        # custom-stateful streaming as-of enrichment: per-user (micros,
        # id) error state in the state store; the oracle is the SAME
        # DuckDB ASOF JOIN as the batch operator — batch/stream parity
        # for applyInPandasWithState
        "stream_asof_error": stream_asof_error_bounded,
    }


# ---------------------------------------------------------------------------
# oracles (DuckDB SQL on the same parquet views)
# ---------------------------------------------------------------------------

_NORM = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
_TOKS = f"string_split({_NORM}, ' ')"


def _simhash_max_bucket() -> int:
    from smartreader_spark.functions.dedup import SIMHASH_MAX_BUCKET

    return SIMHASH_MAX_BUCKET


_SIMHASH_MAX_BUCKET = _simhash_max_bucket()


def _event_consts() -> tuple[int, int]:
    from smartreader_spark.functions.events import SESSION_GAP_MICROS
    from smartreader_spark.streaming.window_stream import WINDOW_MICROS

    return SESSION_GAP_MICROS, WINDOW_MICROS


_SESSION_GAP_MICROS, _WINDOW_MICROS = _event_consts()


def _bpe_max_word() -> int:
    from smartreader_spark.functions.bpe import MAX_WORD_CHARS

    return MAX_WORD_CHARS


_BPE_MAX_WORD = _bpe_max_word()

# the GPT-2-style pre-tokenizer pattern, SQL-quoted (RE2-compatible —
# verified identical tokenization between Java regex, RE2 and Python re)
def _bpe_pat_sql() -> str:
    from smartreader_spark.functions.textqa import BPE_PRETOKEN_PATTERN

    return BPE_PRETOKEN_PATTERN.replace("'", "''")


def _bpe_train_ctes() -> tuple[str, int]:
    """Unrolled CTE chain restating the BPE merge-learning loop
    (functions/bpe.py): w0 = char-split word-frequency dict; each round
    k computes pair counts (p{k}), the argmax merge (b{k}, ties on
    lhs/rhs ASC, gated on MIN_PAIR_COUNT), and the re-segmented vocab
    (w{k+1}). Merge application is a chr(31)-delimited string replace —
    every symbol is wrapped in the delimiter, so the pattern
    \\x1f<lhs>\\x1f\\x1f<rhs>\\x1f can only match whole adjacent symbols,
    and SQL replace's left-to-right non-overlapping scan is exactly the
    Spark fold's greedy semantics (the fused token is never rescanned).
    The LEFT JOIN ON TRUE keeps w{k+1} = w{k} when the round fired no
    merge, mirroring the Spark loop's early break."""
    from smartreader_spark.functions.bpe import (
        MAX_WORD_CHARS,
        MIN_PAIR_COUNT,
        NUM_MERGES,
        WORD_END,
    )

    d = "chr(31)"
    parts = [
        f"""w0 AS MATERIALIZED (
              SELECT word, cnt,
                     list_append(string_split(word, ''), '{WORD_END}') AS seg
              FROM (
                SELECT word, count(*) AS cnt FROM (
                  SELECT unnest({_TOKS}) AS word FROM documents
                ) WHERE word <> '' AND NOT contains(word, {d})
                  AND length(word) <= {MAX_WORD_CHARS}
                GROUP BY word
              )
            )"""
    ]
    for k in range(NUM_MERGES):
        parts.append(
            f"""p{k} AS MATERIALIZED (
              SELECT seg[i] AS lhs, seg[i + 1] AS rhs,
                     CAST(sum(cnt) AS BIGINT) AS pair_count
              FROM (SELECT cnt, seg, unnest(range(1, len(seg))) AS i
                    FROM w{k})
              GROUP BY lhs, rhs
            ), b{k} AS MATERIALIZED (
              SELECT lhs, rhs, pair_count FROM p{k}
              WHERE pair_count >= {MIN_PAIR_COUNT}
              ORDER BY pair_count DESC, lhs, rhs LIMIT 1
            ), w{k + 1} AS MATERIALIZED (
              SELECT w.word, w.cnt,
                     CASE WHEN b.lhs IS NULL THEN w.seg
                          ELSE string_split(
                                 trim(replace(
                                   {d} || array_to_string(w.seg, {d} || {d}) || {d},
                                   {d} || b.lhs || {d} || {d} || b.rhs || {d},
                                   {d} || b.lhs || b.rhs || {d}), {d}),
                                 {d} || {d})
                     END AS seg
              FROM w{k} w LEFT JOIN b{k} b ON TRUE
            )"""
        )
    return ", ".join(parts), NUM_MERGES


_BPE_PAT_SQL = _bpe_pat_sql()

# absolute paths: the DuckDB side of the gate runs with no cwd guarantee
_CORPUS_PQ = f"{_REPO}/fixtures/corpus.parquet/*.parquet"
_EXPECTED_CORPUS_PQ = f"{_REPO}/fixtures/expected_extract_corpus.parquet"
_EXPECTED_TESTDATA_PQ = f"{_REPO}/fixtures/expected_extract_testdata_sf001.parquet"
_EXPECTED_PDF_SPANS_PQ = f"{_REPO}/fixtures/expected_pdf_spans.parquet"
_EXPECTED_PIPELINE_PQ = f"{_REPO}/fixtures/expected_pipeline_docs.parquet"


def _pipeline_ctes() -> str:
    """Shared CTE chain for the composed-pipeline oracles: the unified
    doc table comes from the committed expected table (both extraction
    legs through the kernel, tools/build_expected.py::pipeline_docs_rows);
    every DOWNSTREAM stage — exact dedup window, 60-bit simhash banding +
    skew valve + hamming verify, near-dup loser drop, language-aware
    quality gate, token counts — is restated in SQL, so the gate verifies
    the composition. The quality stage mirrors
    pipeline.training.quality_token_stage: per-language stopword hits
    (textqa.STOPWORDS lexicon), argmax with lexicographically-greatest
    tie-break, CJK-aware punctuation class (training.PUNCT_CHARS)."""
    from smartreader_spark.functions.textqa import STOPWORDS
    from smartreader_spark.pipeline.training import PUNCT_CHARS

    punct_neg = f"[^{PUNCT_CHARS}]"
    hitcols = ", ".join(
        f"len(list_filter({_TOKS}, x -> x IN "
        f"({', '.join(repr(w) for w in ws)}))) AS h_{lang}"
        for lang, ws in STOPWORDS.items()
    )
    # lexicographically greatest language code wins hit ties — the same
    # ordering as Spark's array_max over struct(hits, lang)
    langs_desc = sorted(STOPWORDS, reverse=True)
    best_hits = "greatest(" + ", ".join(f"h_{l}" for l in STOPWORDS) + ")"
    lang_case = (
        f"CASE WHEN {best_hits} > 0 THEN CASE {best_hits} "
        + " ".join(f"WHEN h_{l} THEN '{l}'" for l in langs_desc[:-1])
        + f" ELSE '{langs_desc[-1]}' END ELSE 'und' END"
    )
    bits = ", ".join(
        f"sum(CASE WHEN (hv >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(60)
    )
    sig = " + ".join(
        f"CASE WHEN b{i} > 0 THEN {1 << i}::BIGINT ELSE 0 END" for i in range(60)
    )
    return f"""
      docs AS (
        SELECT doc_id, source, text FROM read_parquet('{_EXPECTED_PIPELINE_PQ}')
      ), fps AS (
        SELECT doc_id, source, text, md5({_NORM}) AS fp,
               row_number() OVER (PARTITION BY md5({_NORM}) ORDER BY doc_id) AS rn
        FROM docs
      ), kept AS (
        SELECT doc_id, source, text, fp FROM fps WHERE rn = 1
      ), ptoks AS (
        SELECT doc_id, unnest(list_distinct({_TOKS})) AS tok FROM kept
      ), ph AS (
        SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv FROM ptoks
      ), pbits AS (
        SELECT doc_id, {bits} FROM ph GROUP BY doc_id
      ), psigs AS (
        SELECT doc_id, ({sig})::BIGINT AS simhash FROM pbits
      ), pbanded AS (
        SELECT doc_id, simhash, band, (simhash >> (band * 10)) & 1023 AS bandbits
        FROM psigs, (SELECT unnest(range(0, 6))::INT AS band) b
      ), psmall AS (
        SELECT band, bandbits FROM pbanded
        GROUP BY band, bandbits HAVING count(*) <= {_SIMHASH_MAX_BUCKET}
      ), pbig AS (
        SELECT band, bandbits, count(*) AS bucket_n FROM pbanded
        GROUP BY band, bandbits HAVING count(*) > {_SIMHASH_MAX_BUCKET}
      ), ppairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM pbanded a
        JOIN psmall s ON a.band = s.band AND a.bandbits = s.bandbits
        JOIN pbanded b ON a.band = b.band AND a.bandbits = b.bandbits
                      AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
      ), puniq AS (
        SELECT * FROM kept WHERE doc_id NOT IN (SELECT doc_b FROM ppairs)
      ), pqh AS (
        SELECT doc_id, source, fp, text, {hitcols} FROM puniq
      ), pq AS (
        SELECT doc_id, source, fp,
               length(text) AS n_chars,
               len({_TOKS}) AS n_tokens,
               CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_subwords_est,
               {lang_case} AS lang_guess,
               round(length(regexp_replace(text, '{punct_neg}', '', 'g'))::DOUBLE
                     / greatest(length(text), 1), 6) AS punct_ratio,
               round({best_hits}::DOUBLE
                     / greatest(len({_TOKS}), 1), 6) AS stopword_ratio,
               (length(text) >= 100 AND len({_TOKS}) >= 20
                AND length(regexp_replace(text, '{punct_neg}', '', 'g'))::DOUBLE
                    / greatest(length(text), 1) < 0.1) AS ok
        FROM pqh
      )
    """

# the interleaved-media projection of the fixture corpus (mirrors
# functions.multimodal.media_table_from_spans)
_MEDIA_CTE = f"""
  media AS (
    SELECT doc_id, s.media_ref AS media_ref, s.kind AS kind
    FROM (SELECT doc_id, unnest(spans) AS s FROM read_parquet('{_CORPUS_PQ}'))
    WHERE s.kind <> 'html' AND s.media_ref IS NOT NULL
  )
"""

# SRP bucket id, p planes — the exact md5-derived hyperplane formula of
# smartreader_spark.functions.similarity._srp_bucket
def _srp_bucket_sql(vec: str, n_planes: int) -> str:
    def plane(p: int) -> str:
        w = (
            f"list_transform(range(0, len({vec})), i -> "
            f"('0x' || substr(md5('{p}|' || i::VARCHAR), 1, 4))::INT / 32768.0 - 1.0)"
        )
        return f"(CASE WHEN list_dot_product({vec}, {w}) > 0 THEN {1 << p} ELSE 0 END)"

    return " + ".join(plane(p) for p in range(n_planes))

_SHINGLES = (
    "list_distinct(list_transform("
    "range(0, greatest(len(toks) - 3, 0) + 1), "
    "i -> array_to_string(toks[i+1:i+3], ' ')))"
)


def _simhash_pairs_ctes() -> str:
    """CTE chain restating functions.dedup.simhash_pairs_for_docs over
    the `documents` view — 60-bit simhash, 6 × 10-bit banding, skew
    valve, exact hamming verify — shared by the `dedup_simhash_pairs`
    oracle and the `dedup_components` closure."""
    bits = ", ".join(
        f"sum(CASE WHEN (hv >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(60)
    )
    sig = " + ".join(
        f"CASE WHEN b{i} > 0 THEN {1 << i}::BIGINT ELSE 0 END" for i in range(60)
    )
    return f"""toks AS (
              SELECT doc_id, unnest(list_distinct({_TOKS})) AS tok FROM documents
            ), h AS (
              SELECT doc_id,
                     ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv
              FROM toks
            ), bits AS (
              SELECT doc_id, {bits}
              FROM h GROUP BY doc_id
            ), sigs AS (
              SELECT doc_id, ({sig})::BIGINT AS simhash
              FROM bits
            ), banded AS (
              SELECT doc_id, simhash, band,
                     (simhash >> (band * 10)) & 1023 AS bandbits
              FROM sigs, (SELECT unnest(range(0, 6))::INT AS band) b
            ), small AS (
              -- mirrors the Spark skew valve (dedup.SIMHASH_MAX_BUCKET):
              -- buckets larger than the cap are dropped from candidates
              SELECT band, bandbits FROM banded
              GROUP BY band, bandbits HAVING count(*) <= {_SIMHASH_MAX_BUCKET}
            ), pairs AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     bit_count(xor(a.simhash, b.simhash))::INT AS hamming
              FROM banded a
              JOIN small s ON a.band = s.band AND a.bandbits = s.bandbits
              JOIN banded b
                ON a.band = b.band AND a.bandbits = b.bandbits
                   AND a.doc_id < b.doc_id
              WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
            )"""


_SIMHASH_PAIRS_CTES = _simhash_pairs_ctes()


def oracle_sql() -> dict[str, str]:
    # the same 13-language lexicon the Spark ops use; the SQL restates
    # the counting/argmax/tie-break logic independently, the word lists
    # themselves are shared data (one source of truth, kernel/langid.py)
    from smartreader_spark.functions.textqa import STOPWORDS as sw_lists

    en_sw = ", ".join(f"'{w}'" for w in sw_lists["en"])

    # b×r MinHash banding (functions/dedup.py MINHASH_BANDS/ROWS): band
    # signature = concat of the r 8-hex-char md5 slices, min'd per slice
    from smartreader_spark.functions.dedup import MINHASH_BANDS, MINHASH_ROWS

    # corpus-curation constants (functions/curation.py — one source of
    # truth for chunk width, cap, salt and the Gopher-style thresholds)
    from smartreader_spark.functions.curation import (
        CAP_SALT,
        CHUNK_TOKENS,
        DECON_BENCH_MOD,
        DECON_NGRAM,
        DUP_TRIGRAM_MAX,
        PACK_SALT,
        SEQ_TOKENS,
        SOURCE_CAP,
        TOP_BIGRAM_MAX,
    )
    from smartreader_spark.functions.privacy import (
        EMAIL_RE,
        EMAIL_TOKEN,
        IPV4_RE,
        IPV4_TOKEN,
        PHONE_RE,
        PHONE_TOKEN,
    )
    from smartreader_spark.functions.curation import (
        DSIR_BUCKETS,
        DSIR_TARGET_SOURCE,
    )
    from smartreader_spark.functions.retrieval import BM25_QUERIES, BM25_TOPK
    from smartreader_spark.functions.similarity import (
        DEFAULT_K,
        DEFAULT_QUERIES,
        IVF_CELLS,
        PQ_KC,
        PQ_M,
        PQ_TRAIN_OFFSET,
        SEMDEDUP_THRESHOLD,
    )

    _pq_d0 = 64 // PQ_M  # embedding dim is 64 across the sf tables

    # the literal BM25 query-term table, shared shape with the Spark side
    bm25_vals = ", ".join(
        f"({qid}, '{t}')" for qid, q in BM25_QUERIES for t in q.split()
    )

    # standalone curation oracles, hoisted so the composed
    # curation_pipeline/curation_funnel entries can nest them as
    # subqueries (one source of truth per gate)
    _rep_sql = f"""
            WITH t AS (
              SELECT doc_id, {_TOKS} AS toks FROM documents
            ), g AS (
              SELECT doc_id, 2 AS k, toks[i] || ' ' || toks[i + 1] AS gram
              FROM (SELECT doc_id, toks,
                           unnest(range(1, len(toks))) AS i FROM t)
              UNION ALL
              SELECT doc_id, 3 AS k,
                     toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS gram
              FROM (SELECT doc_id, toks,
                           unnest(range(1, len(toks) - 1)) AS i FROM t)
            ), cnt AS (
              SELECT doc_id, k, gram, count(*) AS c FROM g GROUP BY ALL
            ), per AS (
              SELECT doc_id,
                     max(CASE WHEN k = 2 THEN c END) AS top2,
                     CAST(sum(CASE WHEN k = 2 THEN c END) AS BIGINT) AS tot2,
                     CAST(sum(CASE WHEN k = 2 AND c > 1 THEN c END) AS BIGINT) AS dup2,
                     CAST(sum(CASE WHEN k = 3 THEN c END) AS BIGINT) AS tot3,
                     CAST(sum(CASE WHEN k = 3 AND c > 1 THEN c END) AS BIGINT) AS dup3
              FROM cnt GROUP BY doc_id
            )
            SELECT d.doc_id,
                   len({_TOKS}) AS n_tokens,
                   round(coalesce(top2::DOUBLE / tot2, 0.0), 6) AS top_bigram_frac,
                   round(coalesce(coalesce(dup2, 0)::DOUBLE / tot2, 0.0), 6) AS dup_bigram_frac,
                   round(coalesce(coalesce(dup3, 0)::DOUBLE / tot3, 0.0), 6) AS dup_trigram_frac,
                   (coalesce(top2::DOUBLE / tot2, 0.0) <= {TOP_BIGRAM_MAX}
                    AND coalesce(coalesce(dup3, 0)::DOUBLE / tot3, 0.0)
                        <= {DUP_TRIGRAM_MAX}) AS passes_repetition
            FROM documents d LEFT JOIN per USING (doc_id)
            ORDER BY doc_id
        """
    _chunks_sql = f"""
            WITH t AS (
              SELECT doc_id, {_TOKS} AS toks FROM documents
            ), h AS (
              SELECT doc_id,
                     md5(array_to_string(
                         toks[i * {CHUNK_TOKENS} + 1 : i * {CHUNK_TOKENS} + {CHUNK_TOKENS}],
                         ' ')) AS h
              FROM (SELECT doc_id, toks,
                           unnest(range(0, CAST(floor(len(toks) / {CHUNK_TOKENS}) AS INT))) AS i
                    FROM t WHERE len(toks) >= {CHUNK_TOKENS})
            ), occ AS (
              SELECT doc_id, count(*) OVER (PARTITION BY h) AS c FROM h
            ), per AS (
              SELECT doc_id,
                     CAST(count(*) AS BIGINT) AS nc,
                     CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS nd
              FROM occ GROUP BY doc_id
            )
            SELECT d.doc_id,
                   coalesce(nc, 0) AS n_chunks,
                   coalesce(nd, 0) AS n_dup_chunks,
                   round(CASE WHEN coalesce(nc, 0) > 0
                              THEN nd::DOUBLE / nc ELSE 0.0 END, 6) AS dup_chunk_frac,
                   (CASE WHEN coalesce(nc, 0) > 0
                         THEN nd::DOUBLE / nc ELSE 0.0 END) <= 0.5 AS keep_doc
            FROM documents d LEFT JOIN per USING (doc_id)
            ORDER BY doc_id
        """
    _cap_sql = f"""
            WITH ranked AS (
              SELECT doc_id, source,
                     md5('{CAP_SALT}' || '|' || CAST(doc_id AS VARCHAR)) AS samp_key,
                     row_number() OVER (
                       PARTITION BY source
                       ORDER BY md5('{CAP_SALT}' || '|' || CAST(doc_id AS VARCHAR))
                     ) AS rank_in_source
              FROM documents
            )
            SELECT doc_id, source, rank_in_source
            FROM ranked WHERE rank_in_source <= {SOURCE_CAP}
            ORDER BY source, rank_in_source
        """

    _PII_INJ = "concat_ws(' ', text, 'contact', 'user' || CAST(doc_id AS VARCHAR) || '@example.com', 'ip', '10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1', 'tel', '+1 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'))"

    mh_sig = " || ".join(
        "list_min(list_transform(shingles, "
        f"s -> substr(md5(b.band::VARCHAR || '|' || s), {1 + 8 * k}, 8)))"
        for k in range(MINHASH_ROWS)
    )
    mh_sigs_cte = f"""
              SELECT doc_id, b.band AS band, {mh_sig} AS sig
              FROM sh, (SELECT unnest(range(0, {MINHASH_BANDS})) AS band) b
    """
    langs_desc = sorted(sw_lists, reverse=True)
    all_hits = ", ".join(f"h_{l}" for l in sw_lists)
    lg_case = (
        f"CASE greatest({all_hits}) "
        + " ".join(f"WHEN h_{l} THEN '{l}'" for l in langs_desc[:-1])
        + f" ELSE '{langs_desc[-1]}' END"
    )

    return {
        "pipeline_end_to_end": f"""
            WITH {_pipeline_ctes()}
            SELECT doc_id, source, fp, lang_guess, n_chars, n_tokens,
                   n_subwords_est, punct_ratio, stopword_ratio
            FROM pq WHERE ok
            ORDER BY doc_id
        """,
        "pipeline_funnel": f"""
            WITH {_pipeline_ctes()}
            SELECT stage, n_rows FROM (
              SELECT '00_extracted' AS stage, count(*) AS n_rows FROM docs
              UNION ALL SELECT '10_exact_deduped', count(*) FROM kept
              UNION ALL SELECT '15_near_dup_pairs', count(*) FROM ppairs
              UNION ALL SELECT '16_simhash_dropped_buckets', count(*) FROM pbig
              UNION ALL SELECT '20_near_deduped', count(*) FROM puniq
              UNION ALL SELECT '30_quality_passed', count(*) FROM pq WHERE ok
            ) ORDER BY stage
        """,
        "agg_pushdown": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                            * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))))
                        AS DOUBLE) AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "broadcast_join_topn": """
            SELECT n_name,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
                   count(*) AS n_orders
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
            ORDER BY revenue DESC, n_name ASC
            LIMIT 10
        """,
        "window_running_value": """
            SELECT event_id, user_id, event_type,
                   round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 6)
                       AS running_value,
                   lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       AS prev_type
            FROM events
            WHERE user_id < 50
            ORDER BY user_id, ts, event_id
        """,
        "anti_join_resume": """
            SELECT doc_id, n_chars
            FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM documents WHERE doc_id % 10 = 0)
            ORDER BY doc_id
        """,
        "dedup_exact": f"""
            SELECT md5({_NORM}) AS fp,
                   count(*) AS n_docs,
                   min(doc_id) AS keeper_doc_id
            FROM documents
            GROUP BY 1
            HAVING count(*) > 1
            ORDER BY fp
        """,
        "dedup_minhash_lsh": f"""
            WITH t AS (
              SELECT doc_id, {_TOKS} AS toks FROM documents
            ), sh AS (
              SELECT doc_id, {_SHINGLES} AS shingles FROM t
            ), sigs AS (
              {mh_sigs_cte}
            )
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM sigs a JOIN sigs b
              ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
            ORDER BY doc_a, doc_b
        """,
        "dedup_ngram_jaccard": f"""
            WITH t AS (
              SELECT doc_id, {_TOKS} AS toks FROM documents
            ), sh AS (
              SELECT doc_id, {_SHINGLES} AS shingles FROM t
            ), sigs AS (
              {mh_sigs_cte}
            ), cand AS (
              SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              FROM sigs a JOIN sigs b
                ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
            )
            SELECT doc_a, doc_b,
                   round(len(list_intersect(x.shingles, y.shingles))::DOUBLE
                         / len(list_distinct(list_concat(x.shingles, y.shingles))), 6)
                       AS jaccard
            FROM cand
            JOIN sh x ON x.doc_id = doc_a
            JOIN sh y ON y.doc_id = doc_b
            WHERE len(list_intersect(x.shingles, y.shingles))::DOUBLE
                  / len(list_distinct(list_concat(x.shingles, y.shingles))) >= 0.8
            ORDER BY doc_a, doc_b
        """,
        "dedup_simhash": f"""
            WITH toks AS (
              SELECT doc_id, unnest(list_distinct({_TOKS})) AS tok FROM documents
            ), h AS (
              SELECT doc_id,
                     ('0x' || substr(md5(tok), 1, 4))::BIGINT AS hv
              FROM toks
            ), bits AS (
              SELECT doc_id,
                     {", ".join(f"sum(CASE WHEN (hv >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}" for i in range(16))}
              FROM h GROUP BY doc_id
            )
            SELECT doc_id,
                   ({" + ".join(f"CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(16))})::INT
                       AS simhash
            FROM bits
            ORDER BY doc_id
        """,
        "dedup_simhash_pairs": f"""
            WITH {_SIMHASH_PAIRS_CTES}
            SELECT doc_a, doc_b, hamming FROM pairs
            ORDER BY doc_a, doc_b
        """,
        "dedup_components": f"""
            WITH RECURSIVE {_SIMHASH_PAIRS_CTES},
            edges AS (
              SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION ALL
              SELECT doc_b, doc_a FROM pairs
            ),
            -- transitive closure; the Spark side reaches the same
            -- fixpoint iteratively (min-label + pointer jumping)
            reach(src, dst) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
            )
            SELECT src AS doc_id, min(dst) AS component,
                   (src = min(dst)) AS is_canonical
            FROM reach GROUP BY src
            ORDER BY doc_id
        """,
        # the same transitive closure, quality-first keeper per family:
        # row_number over (n_chars DESC, doc_id ASC) restates the Spark
        # side's (-n_chars, doc_id) struct-min argmax
        "dedup_family_keep_best": f"""
            WITH RECURSIVE {_SIMHASH_PAIRS_CTES},
            edges AS (
              SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION ALL
              SELECT doc_b, doc_a FROM pairs
            ),
            reach(src, dst) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
            ),
            comp AS (
              SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY src
            ),
            sized AS (
              SELECT c.doc_id, c.component, d.n_chars
              FROM comp c JOIN documents d USING (doc_id)
            ),
            ranked AS (
              SELECT doc_id, component, n_chars,
                     row_number() OVER (PARTITION BY component
                                        ORDER BY n_chars DESC, doc_id ASC) AS rn,
                     count(*) OVER (PARTITION BY component) AS family_size
              FROM sized
            ),
            keep AS (
              SELECT component, doc_id AS keeper_doc_id FROM ranked WHERE rn = 1
            )
            SELECT r.doc_id, r.component, r.n_chars, k.keeper_doc_id,
                   r.family_size, (r.doc_id = k.keeper_doc_id) AS is_kept
            FROM ranked r JOIN keep k USING (component)
            ORDER BY r.doc_id
        """,
        "bpe_token_counts": f"""
            SELECT doc_id,
                   len(regexp_extract_all(text, '{_BPE_PAT_SQL}')) AS n_pieces,
                   len(list_distinct(regexp_extract_all(text, '{_BPE_PAT_SQL}')))
                       AS n_distinct_pieces,
                   length(text) AS n_chars
            FROM documents
            ORDER BY doc_id
        """,
        "dedup_embedding_cosine": f"""
            WITH emb AS (
              SELECT vec_id, embedding::DOUBLE[] AS e,
                     {_srp_bucket_sql('embedding::DOUBLE[]', 4)} AS bucket
              FROM embeddings
            )
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   round(list_dot_product(a.e, b.e)
                         / (sqrt(list_dot_product(a.e, a.e))
                            * sqrt(list_dot_product(b.e, b.e))), 6) AS cosine
            FROM emb a JOIN emb b
              ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            WHERE round(list_dot_product(a.e, b.e)
                  / (sqrt(list_dot_product(a.e, a.e))
                     * sqrt(list_dot_product(b.e, b.e))), 6) >= 0.4
            ORDER BY vec_a, vec_b
        """,
        "ann_lsh_bucketed": f"""
            WITH emb AS (
              SELECT vec_id, embedding::DOUBLE[] AS e,
                     {_srp_bucket_sql('embedding::DOUBLE[]', 4)} AS bucket
              FROM embeddings
            ), q AS (
              SELECT vec_id AS query_id, e AS qe, bucket AS qbucket
              FROM emb WHERE vec_id < 8
            ), scored AS (
              SELECT q.query_id, emb.vec_id,
                     round(list_dot_product(q.qe, emb.e)
                           / (sqrt(list_dot_product(q.qe, q.qe))
                              * sqrt(list_dot_product(emb.e, emb.e))), 6) AS score
              FROM emb JOIN q
                ON emb.bucket = q.qbucket AND emb.vec_id <> q.query_id
            ), ranked AS (
              SELECT query_id, vec_id, score,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY score DESC, vec_id ASC) AS rank
              FROM scored
            )
            SELECT query_id, vec_id, score, rank
            FROM ranked WHERE rank <= 5
            ORDER BY query_id, rank
        """,
        "span_reassembly": f"""
            WITH c AS (
              SELECT doc_id, spans FROM read_parquet('{_CORPUS_PQ}')
            ), reassembled AS (
              SELECT doc_id,
                     md5(string_agg(s.text, '' ORDER BY s.offset)) AS m_exploded
              FROM (SELECT doc_id, unnest(spans) AS s FROM c)
              GROUP BY doc_id
            ), original AS (
              SELECT doc_id,
                     md5(array_to_string(
                         list_transform(
                             list_sort(list_transform(spans,
                                 x -> {{'o': x.offset, 't': x.text}})),
                             y -> coalesce(y.t, '')), '')) AS m_array
              FROM c
            )
            SELECT r.doc_id, (m_exploded = m_array) AS roundtrip_ok
            FROM reassembled r JOIN original o ON r.doc_id = o.doc_id
            ORDER BY r.doc_id
        """,
        "media_spans": f"""
            WITH {_MEDIA_CTE}
            SELECT doc_id, media_ref, kind FROM media
            ORDER BY doc_id, media_ref
        """,
        "multimodal_image_features": f"""
            WITH {_MEDIA_CTE}
            SELECT doc_id, media_ref,
                   64 + ('0x' || substr(sha256(media_ref), 1, 2))::INT * 8 AS width,
                   64 + ('0x' || substr(sha256(media_ref), 3, 2))::INT * 8 AS height,
                   sha256(media_ref) AS sha256
            FROM media
            WHERE kind IN ('img', 'picture', 'figure', 'media')
            ORDER BY doc_id, media_ref
        """,
        "multimodal_frame_samples": f"""
            WITH {_MEDIA_CTE},
            vids AS (
              SELECT doc_id, media_ref,
                     1 + ('0x' || substr(sha256(media_ref), 1, 2))::INT % 8 AS n_frames
              FROM media
              WHERE kind IN ('video', 'media')
                AND substr(md5(media_ref), 1, 1) < '4'
            ), frames AS (
              SELECT doc_id, media_ref,
                     unnest(range(0, n_frames))::INT AS frame_idx
              FROM vids
            )
            SELECT doc_id, media_ref, frame_idx,
                   (frame_idx * 1000)::INT AS ts_ms,
                   sha256(media_ref || '#frame' || frame_idx::VARCHAR) AS frame_sha256,
                   NULL::VARCHAR AS error
            FROM frames
            ORDER BY doc_id, media_ref, frame_idx
        """,
        "extract_corpus": f"""
            SELECT doc_id, title, byline, language, is_readable,
                   n_spans, chars_retained
            FROM read_parquet('{_EXPECTED_CORPUS_PQ}')
            ORDER BY doc_id
        """,
        "extract_corpus_salted": f"""
            SELECT doc_id, title, byline, language, is_readable,
                   n_spans, chars_retained
            FROM read_parquet('{_EXPECTED_CORPUS_PQ}')
            ORDER BY doc_id
        """,
        "stream_extract_bounded": f"""
            SELECT doc_id, title, byline, language, is_readable,
                   n_spans, chars_retained
            FROM read_parquet('{_EXPECTED_CORPUS_PQ}')
            ORDER BY doc_id
        """,
        "stream_dedup_bounded": f"""
            WITH inp AS (
              SELECT doc_id::VARCHAR AS doc_id, text FROM documents
              UNION ALL
              SELECT doc_id::VARCHAR || '_dup', text FROM documents
              WHERE doc_id % 50 = 0
            )
            SELECT md5({_NORM}) AS fp,
                   count(*) AS n_docs,
                   1::BIGINT AS n_firsts
            FROM inp GROUP BY 1
            ORDER BY fp
        """,
        "extract_testdata": f"""
            SELECT doc_id, title, reading_time_sec, is_readable, n_spans
            FROM read_parquet('{_EXPECTED_TESTDATA_PQ}')
            ORDER BY doc_id
        """,
        "pdf_spans": f"""
            SELECT doc_id, seq, kind, text, media_ref
            FROM read_parquet('{_EXPECTED_PDF_SPANS_PQ}')
            ORDER BY doc_id, seq
        """,
        "extract_metrics_rollup": f"""
            SELECT ('0x' || substr(md5(doc_id), 1, 2))::INT % 8 AS bucket,
                   count(*) AS docs,
                   count(error) AS errors,
                   sum(CASE WHEN is_readable THEN 1 ELSE 0 END)::BIGINT AS readable,
                   sum(candidates_scored)::BIGINT AS candidates_scored,
                   sum(nodes_stripped)::BIGINT AS nodes_stripped,
                   sum(chars_retained)::BIGINT AS chars_retained
            FROM read_parquet('{_EXPECTED_CORPUS_PQ}')
            GROUP BY 1
            ORDER BY bucket
        """,
        "ann_ivf": """
            WITH emb AS (
              SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
            ), cents AS (
              -- the deterministic codebook: vectors 8..23, cell = vec_id - 8
              -- (the Spark side collects exactly these, ordered by vec_id)
              SELECT (vec_id - 8)::INT AS cell, e AS ce FROM emb
              WHERE vec_id >= 8 AND vec_id < 24
            ), cellscore AS (
              SELECT emb.vec_id, emb.e, c.cell,
                     round(list_dot_product(emb.e, c.ce)
                           / (sqrt(list_dot_product(emb.e, emb.e))
                              * sqrt(list_dot_product(c.ce, c.ce))), 6) AS s
              FROM emb, cents c
            ), assign AS (
              SELECT vec_id, e, cell FROM (
                SELECT vec_id, e, cell,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY s DESC, cell ASC) AS rn
                FROM cellscore) WHERE rn = 1
            ), probes AS (
              SELECT vec_id AS query_id, e AS qe, cell FROM (
                SELECT vec_id, e, cell,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY s DESC, cell ASC) AS rn
                FROM cellscore WHERE vec_id < 8) WHERE rn <= 4
            ), scored AS (
              SELECT p.query_id, a.vec_id,
                     round(list_dot_product(p.qe, a.e)
                           / (sqrt(list_dot_product(p.qe, p.qe))
                              * sqrt(list_dot_product(a.e, a.e))), 6) AS score
              FROM assign a JOIN probes p
                ON a.cell = p.cell AND a.vec_id <> p.query_id
            ), ranked AS (
              SELECT query_id, vec_id, score,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY score DESC, vec_id ASC) AS rank
              FROM scored
            )
            SELECT query_id, vec_id, score, rank
            FROM ranked WHERE rank <= 5
            ORDER BY query_id, rank
        """,
        "ann_brute_force": """
            WITH emb AS (
              SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings
            ), q AS (
              SELECT vec_id AS query_id, embedding AS qe
              FROM emb WHERE vec_id < 8
            ), scored AS (
              SELECT q.query_id, e.vec_id,
                     round(list_dot_product(q.qe, e.embedding)
                           / (sqrt(list_dot_product(q.qe, q.qe))
                              * sqrt(list_dot_product(e.embedding, e.embedding))), 6)
                         AS score
              FROM emb e, q
              WHERE e.vec_id <> q.query_id
            ), ranked AS (
              SELECT query_id, vec_id, score,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY score DESC, vec_id ASC) AS rank
              FROM scored
            )
            SELECT query_id, vec_id, score, rank
            FROM ranked WHERE rank <= 5
            ORDER BY query_id, rank
        """,
        "token_counts": f"""
            SELECT doc_id,
                   len({_TOKS}) AS n_tokens,
                   length(text) AS n_chars,
                   CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_subwords_est
            FROM documents
            ORDER BY doc_id
        """,
        "quality_scores": f"""
            WITH t AS (
              SELECT doc_id, text, {_TOKS} AS toks FROM documents
            )
            SELECT doc_id,
                   length(text) AS n_chars,
                   len(toks) AS n_tokens,
                   round(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE
                         / greatest(length(text), 1), 6) AS punct_ratio,
                   round(len(list_filter(toks, x -> x IN ({en_sw})))::DOUBLE
                         / greatest(len(toks), 1), 6) AS stopword_ratio,
                   (length(text) >= 100 AND len(toks) >= 20
                    AND length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE
                        / greatest(length(text), 1) < 0.1) AS passes_quality
            FROM t
            ORDER BY doc_id
        """,
        "language_guess": f"""
            WITH t AS (
              SELECT doc_id, {_TOKS} AS toks FROM documents
            ), hits AS (
              SELECT doc_id,
                     {", ".join(
                         f"len(list_filter(toks, x -> x IN ({', '.join(repr(w) for w in ws)}))) AS h_{lang}"
                         for lang, ws in sw_lists.items()
                     )}
              FROM t
            ), best AS (
              -- tie-break mirrors Spark's array_max over struct(hits, lang):
              -- max hits, then lexicographically greatest language code
              SELECT doc_id,
                     greatest({all_hits}) AS lang_hits,
                     {lg_case} AS lang0
              FROM hits
            )
            SELECT doc_id,
                   CASE WHEN lang_hits > 0 THEN lang0 ELSE 'und' END AS lang_guess,
                   lang_hits
            FROM best
            ORDER BY doc_id
        """,
        "doc_fingerprints": f"""
            WITH t AS (
              SELECT doc_id, {_NORM} AS norm FROM documents
            )
            SELECT doc_id,
                   md5(norm) AS fp_full,
                   md5(substr(norm, 1, 64) || '|' ||
                       substr(norm, CAST(floor(length(norm) / 2) AS INT) + 1, 64)) AS fp_sketch
            FROM t
            ORDER BY doc_id
        """,
        # corpus-trained unigram cross-entropy filter: the same fixed-
        # point pipeline as the Spark op — surprisal quantized to integer
        # micro-nats on the vocab table (one LN per distinct token), an
        # exact integer sum per doc, one final IEEE division.
        "unigram_surprisal": f"""
            WITH tt AS (
              SELECT doc_id, {_TOKS} AS toks FROM documents
            ), tok AS (
              SELECT doc_id, unnest(toks) AS token FROM tt
            ), tokf AS (
              SELECT doc_id, token FROM tok WHERE token <> ''
            ), counts AS (
              SELECT token, count(*) AS c FROM tokf GROUP BY token
            ), stats AS (
              SELECT sum(c) AS n_total,
                     sum(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS v_size
              FROM counts
            ), surp AS (
              SELECT token,
                     CAST(round(ln(
                         (SELECT n_total + v_size + 1 FROM stats)::DOUBLE
                         / (c + 1)) * 1e6) AS BIGINT) AS micro_nats
              FROM counts WHERE c >= 2
            ), oov AS (
              SELECT CAST(round(ln(
                  (SELECT n_total + v_size + 1 FROM stats)::DOUBLE
                  ) * 1e6) AS BIGINT) AS micro_nats
            ), per_doc AS (
              SELECT t.doc_id,
                     sum(COALESCE(s.micro_nats,
                                  (SELECT micro_nats FROM oov))) AS s_micro,
                     count(*) AS n_tokens
              FROM tokf t LEFT JOIN surp s USING (token)
              GROUP BY t.doc_id
            )
            SELECT d.doc_id,
                   COALESCE(p.n_tokens, 0) AS n_tokens,
                   CASE WHEN COALESCE(p.n_tokens, 0) > 0
                        THEN round(p.s_micro / (p.n_tokens * 1e6), 6)
                        ELSE 0.0 END AS mean_surprisal_nats,
                   (COALESCE(p.n_tokens, 0) > 0
                    AND round(p.s_micro / (p.n_tokens * 1e6), 6) <= 3.5)
                       AS passes_lm
            FROM documents d LEFT JOIN per_doc p USING (doc_id)
            ORDER BY d.doc_id
        """,
        # order-2 twin: add-one bigram model p(w2|w1) = (c12+1)/(c1+V),
        # V = distinct successor types + 1; surprisal quantized to
        # integer micro-nats on the bigram dictionary (one LN per
        # distinct entry), exact integer sum per doc, one IEEE division
        "bigram_surprisal": f"""
            WITH tt AS (
              SELECT doc_id, {_TOKS} AS toks FROM documents
            ), bg AS (
              SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
              FROM (SELECT doc_id, toks,
                           unnest(range(1, len(toks))) AS i FROM tt)
              WHERE toks[i] <> '' AND toks[i + 1] <> ''
            ), bdict AS (
              SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2
            ), ctx AS (
              SELECT w1, sum(c12) AS c1 FROM bdict GROUP BY w1
            ), vst AS (
              SELECT count(DISTINCT w2) + 1 AS v FROM bdict
            ), surp AS (
              SELECT d.w1, d.w2,
                     CAST(round(ln((c.c1 + (SELECT v FROM vst))::DOUBLE
                                   / (d.c12 + 1)) * 1e6) AS BIGINT)
                         AS micro_nats
              FROM bdict d JOIN ctx c USING (w1) WHERE d.c12 >= 2
            ), oov AS (
              SELECT w1,
                     CAST(round(ln((c1 + (SELECT v FROM vst))::DOUBLE) * 1e6)
                          AS BIGINT) AS oov_micro
              FROM ctx
            ), per_doc AS (
              SELECT b.doc_id,
                     sum(COALESCE(s.micro_nats, o.oov_micro)) AS s_micro,
                     count(*) AS n_bigrams
              FROM bg b
              LEFT JOIN surp s ON b.w1 = s.w1 AND b.w2 = s.w2
              JOIN oov o ON b.w1 = o.w1
              GROUP BY b.doc_id
            )
            SELECT d.doc_id,
                   COALESCE(p.n_bigrams, 0) AS n_bigrams,
                   CASE WHEN COALESCE(p.n_bigrams, 0) > 0
                        THEN round(p.s_micro / (p.n_bigrams * 1e6), 6)
                        ELSE 0.0 END AS mean_surprisal_nats,
                   (COALESCE(p.n_bigrams, 0) > 0
                    AND CASE WHEN COALESCE(p.n_bigrams, 0) > 0
                             THEN round(p.s_micro / (p.n_bigrams * 1e6), 6)
                             ELSE 0.0 END <= 3.4) AS passes_lm
            FROM documents d LEFT JOIN per_doc p USING (doc_id)
            ORDER BY d.doc_id
        """,
        # --- corpus-curation ops (functions/curation.py) ----------------
        "repetition_scores": _rep_sql,
        "dedup_chunks_corpus": _chunks_sql,
        "source_cap_sample": _cap_sql,
        "source_temperature_sample": """
            WITH c AS (
              SELECT source, count(*) AS n_source FROM documents GROUP BY source
            ), m AS (
              SELECT min(n_source) AS n_min FROM c
            ), d AS (
              SELECT doc_id, source,
                     ('0x' || substr(md5('tempsamp|' || doc_id::VARCHAR), 1, 8))::BIGINT
                         / 4294967296.0 AS u
              FROM documents
            )
            -- T = 1/2 rate: sqrt of an exact double ratio is correctly
            -- rounded per IEEE-754, so keep is bit-identical to Spark
            SELECT d.doc_id, d.source, c.n_source,
                   round(sqrt(m.n_min::DOUBLE / c.n_source::DOUBLE), 6) AS rate,
                   (d.u < sqrt(m.n_min::DOUBLE / c.n_source::DOUBLE)) AS keep
            FROM d JOIN c USING (source), m
            ORDER BY d.doc_id
        """,
        # the composed curation pipeline + its funnel: the three gates
        # restated as nested subqueries of the standalone oracles (one
        # source of truth per gate)
        "curation_pipeline": f"""
            WITH cap AS ({_cap_sql}),
                 rep AS ({_rep_sql}),
                 ch AS ({_chunks_sql})
            SELECT cap.doc_id, cap.source, rep.n_tokens
            FROM cap
            JOIN rep ON cap.doc_id = rep.doc_id AND rep.passes_repetition
            JOIN ch ON cap.doc_id = ch.doc_id AND ch.keep_doc
            ORDER BY cap.doc_id
        """,
        "curation_funnel": f"""
            WITH cap AS ({_cap_sql}),
                 rep AS ({_rep_sql}),
                 ch AS ({_chunks_sql}),
                 s3 AS (SELECT cap.doc_id FROM cap
                        JOIN rep ON cap.doc_id = rep.doc_id
                                AND rep.passes_repetition)
            SELECT '1_total' AS stage, CAST(count(*) AS BIGINT) AS n_docs
            FROM documents
            UNION ALL
            SELECT '2_after_source_cap', CAST(count(*) AS BIGINT) FROM cap
            UNION ALL
            SELECT '3_after_repetition', CAST(count(*) AS BIGINT) FROM s3
            UNION ALL
            SELECT '4_after_chunk_dedup', CAST(count(*) AS BIGINT)
            FROM s3 JOIN ch ON s3.doc_id = ch.doc_id AND ch.keep_doc
            ORDER BY stage
        """,
        # --- PII scrub (functions/privacy.py): the injection, patterns,
        # redaction order and tokens are restated verbatim from the
        # module constants (one source of truth)
        "pii_scrub": f"""
            WITH t AS (
              SELECT doc_id, {_PII_INJ} AS it FROM documents
            ), r AS (
              SELECT doc_id, it,
                     regexp_replace(regexp_replace(regexp_replace(it,
                         '{EMAIL_RE}', '{EMAIL_TOKEN}', 'g'),
                         '{IPV4_RE}', '{IPV4_TOKEN}', 'g'),
                         '{PHONE_RE}', '{PHONE_TOKEN}', 'g') AS red
              FROM t
            )
            SELECT doc_id,
                   CAST(len(regexp_extract_all(it, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
                   CAST(len(regexp_extract_all(it, '{IPV4_RE}')) AS BIGINT) AS n_ipv4,
                   CAST(len(regexp_extract_all(it, '{PHONE_RE}')) AS BIGINT) AS n_phones,
                   length(red) AS redacted_len,
                   md5(red) AS redacted_digest
            FROM r ORDER BY doc_id
        """,
        # --- benchmark decontamination (functions/curation.py):
        # sliding word 8-grams, benchmark slice doc_id % MOD == 0
        "decontaminate_ngrams": f"""
            WITH t AS (
              SELECT doc_id, {_TOKS} AS toks FROM documents
            ), g AS (
              SELECT doc_id, md5(toks[i + 0] || ' ' || toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3] || ' ' || toks[i + 4] || ' ' || toks[i + 5] || ' ' || toks[i + 6] || ' ' || toks[i + 7]) AS h
              FROM (SELECT doc_id, toks,
                           unnest(range(1, len(toks) - {DECON_NGRAM - 2})) AS i
                    FROM t)
            ), per AS (
              SELECT doc_id,
                     CAST(count(*) AS BIGINT) AS ng,
                     CAST(sum(CASE WHEN h IN (
                         SELECT DISTINCT h FROM g
                         WHERE doc_id % {DECON_BENCH_MOD} = 0
                       ) THEN 1 ELSE 0 END) AS BIGINT) AS nov
              FROM g WHERE doc_id % {DECON_BENCH_MOD} <> 0
              GROUP BY doc_id
            )
            SELECT d.doc_id,
                   coalesce(ng, 0) AS n_grams,
                   coalesce(nov, 0) AS n_overlap,
                   coalesce(nov, 0) > 0 AS contaminated
            FROM documents d LEFT JOIN per USING (doc_id)
            WHERE d.doc_id % {DECON_BENCH_MOD} <> 0
            ORDER BY doc_id
        """,
        # reproducible hash split: same salted-md5 → uniform idiom as
        # the temperature sampler; boundaries compared on the exact
        # IEEE quotient, so assignment is bit-identical cross-engine
        "dataset_split": """
            SELECT doc_id, source,
                   round(u, 6) AS u,
                   CASE WHEN u < 0.9 THEN 'train'
                        WHEN u < 0.95 THEN 'validation'
                        ELSE 'test' END AS split
            FROM (
              SELECT doc_id, source,
                     ('0x' || substr(md5('datasplit|' || doc_id::VARCHAR), 1, 8))::BIGINT
                         / 4294967296.0 AS u
              FROM documents
            )
            ORDER BY doc_id
        """,
        # --- training-sequence packing (functions/curation.py): per-
        # source cumsum layout into fixed SEQ_TOKENS-token sequences.
        # SEQ_TOKENS is a power of two so offset/B is an exact double
        # scaling — floor() is bit-identical to Spark's.
        "sequence_pack": f"""
            WITH t AS (
              SELECT doc_id, source,
                     CAST(greatest(len({_TOKS}), 1) AS BIGINT) AS n_tokens,
                     md5('{PACK_SALT}' || '|' || CAST(doc_id AS VARCHAR)) AS pack_key
              FROM documents
            ), c AS (
              SELECT doc_id, source, n_tokens, pack_key,
                     sum(n_tokens) OVER (PARTITION BY source ORDER BY pack_key
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM t
            )
            SELECT doc_id, source, n_tokens, pack_key,
                   CAST(floor((cum - n_tokens) / {float(SEQ_TOKENS)}) AS BIGINT) AS seq_first,
                   CAST((cum - n_tokens) % {SEQ_TOKENS} AS BIGINT) AS seq_offset,
                   CAST(floor((cum - 1) / {float(SEQ_TOKENS)})
                        - floor((cum - n_tokens) / {float(SEQ_TOKENS)}) + 1 AS BIGINT) AS n_seqs
            FROM c
            ORDER BY doc_id
        """,
        # --- composed curation→split→packing (functions/curation.py
        # training_layout): the gate CTEs are the standalone oracles
        # verbatim, the train filter is the dataset_split uniform, the
        # layout window is the sequence_pack math over survivors only
        "training_layout": f"""
            WITH cap AS ({_cap_sql}),
                 rep AS ({_rep_sql}),
                 ch AS ({_chunks_sql}),
                 surv AS (
                   SELECT cap.doc_id, cap.source, rep.n_tokens
                   FROM cap
                   JOIN rep ON cap.doc_id = rep.doc_id AND rep.passes_repetition
                   JOIN ch ON cap.doc_id = ch.doc_id AND ch.keep_doc
                 ), base AS (
                   SELECT doc_id, source, n_tokens,
                          md5('{PACK_SALT}' || '|' || CAST(doc_id AS VARCHAR)) AS pack_key
                   FROM surv
                   WHERE ('0x' || substr(md5('datasplit|' || doc_id::VARCHAR), 1, 8))::BIGINT
                         / 4294967296.0 < 0.9
                 ), c AS (
                   SELECT doc_id, source, n_tokens, pack_key,
                          sum(n_tokens) OVER (PARTITION BY source ORDER BY pack_key
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                   FROM base
                 )
            SELECT doc_id, source, n_tokens, pack_key,
                   CAST(floor((cum - n_tokens) / {float(SEQ_TOKENS)}) AS BIGINT) AS seq_first,
                   CAST((cum - n_tokens) % {SEQ_TOKENS} AS BIGINT) AS seq_offset,
                   CAST(floor((cum - 1) / {float(SEQ_TOKENS)})
                        - floor((cum - n_tokens) / {float(SEQ_TOKENS)}) + 1 AS BIGINT) AS n_seqs
            FROM c
            ORDER BY doc_id
        """,
        # --- SemDeDup cluster-bounded semantic dedup (functions/
        # similarity.py): the codebook is rebuilt from the view exactly
        # as the Spark side collects it (vec_id < IVF_CELLS, cell =
        # vec_id); assignment rounds cell cosines to 6 decimals with the
        # ann_ivf tie-break (score DESC, cell ASC); vectors are unit-
        # normalized once and the pair score is one dot product
        "semantic_dedup": f"""
            WITH emb AS (
              SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
            ), cents AS (
              SELECT vec_id::INT AS cell, e AS ce FROM emb
              WHERE vec_id < {IVF_CELLS}
            ), cellscore AS (
              SELECT emb.vec_id, emb.e, c.cell,
                     round(list_dot_product(emb.e, c.ce)
                           / (sqrt(list_dot_product(emb.e, emb.e))
                              * sqrt(list_dot_product(c.ce, c.ce))), 6) AS s
              FROM emb, cents c
            ), assign AS (
              SELECT vec_id, e, cell FROM (
                SELECT vec_id, e, cell,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY s DESC, cell ASC) AS rn
                FROM cellscore) WHERE rn = 1
            ), unit AS (
              SELECT vec_id, cell,
                     list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS u
              FROM assign
            ), pairs AS (
              SELECT a.vec_id AS a_id, b.vec_id AS b_id
              FROM unit a JOIN unit b
                ON a.cell = b.cell AND a.vec_id < b.vec_id
              WHERE round(list_dot_product(a.u, b.u), 6) >= {SEMDEDUP_THRESHOLD}
            ), dups AS (
              SELECT b_id, min(a_id) AS dup_of FROM pairs GROUP BY b_id
            )
            SELECT u.vec_id, u.cell, d.dup_of,
                   (d.dup_of IS NULL) AS is_kept
            FROM unit u LEFT JOIN dups d ON u.vec_id = d.b_id
            ORDER BY u.vec_id
        """,
        # --- Okapi BM25 top-k retrieval (functions/retrieval.py): idf
        # quantized to integer micro-units on the term dictionary, per-
        # doc scores are exact integer sums, rank ties broken on the
        # integer micro score then doc_id — the decimal literals (2.2 /
        # 1.2 / 0.25 / 0.75) parse to identical doubles in both engines
        "bm25_search": f"""
            WITH t AS (
              SELECT doc_id, {_TOKS} AS toks FROM documents
            ), ex AS (
              SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM t
            ), base AS (
              SELECT * FROM ex WHERE term <> ''
            ), tf AS (
              SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
              FROM base GROUP BY doc_id, term
            ), stats AS (
              SELECT count(*)::DOUBLE AS n,
                     sum(len(toks))::DOUBLE / count(*)::DOUBLE AS avgdl
              FROM t
            ), qterms AS (
              SELECT * FROM (VALUES {bm25_vals}) q(query_id, term)
            ), dfv AS (
              SELECT term, count(*) AS df FROM tf GROUP BY term
            ), qt AS (
              SELECT q.query_id, q.term,
                     CAST(round(ln(1.0 + ((SELECT n FROM stats) - df + 0.5)
                                        / (df + 0.5)) * 1e6) AS BIGINT)
                         AS idf_micro
              FROM qterms q JOIN dfv USING (term)
            ), cand AS (
              SELECT qt.query_id, tf.doc_id,
                     CAST(round(qt.idf_micro
                         * ((tf.tf * 2.2)
                            / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl
                                 / (SELECT avgdl FROM stats)))))
                          AS BIGINT) AS c_micro
              FROM tf JOIN qt USING (term)
            ), scored AS (
              SELECT query_id, doc_id,
                     CAST(sum(c_micro) AS BIGINT) AS s_micro,
                     count(*) AS n_terms_matched
              FROM cand GROUP BY query_id, doc_id
            ), ranked AS (
              SELECT query_id, doc_id, s_micro, n_terms_matched,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY s_micro DESC, doc_id ASC)
                         AS rank
              FROM scored
            )
            SELECT query_id, doc_id,
                   round(s_micro / 1e6, 6) AS score,
                   n_terms_matched, rank
            FROM ranked WHERE rank <= {BM25_TOPK}
            ORDER BY query_id, rank
        """,
        # --- DSIR hashed-ngram importance reweighting (functions/
        # curation.py): unigrams + word bigrams hashed into DSIR_BUCKETS
        # via the md5-prefix idiom; per-bucket log-ratios quantized to
        # integer micro-nats so the per-doc sum is exact
        "dsir_importance": f"""
            WITH t AS (
              SELECT doc_id, source, {_TOKS} AS toks FROM documents
            ), uni AS (
              SELECT doc_id, source, unnest(toks) AS gm FROM t
            ), bi AS (
              SELECT doc_id, source, toks[i] || ' ' || toks[i + 1] AS gm
              FROM (SELECT doc_id, source, toks,
                           unnest(range(1, len(toks))) AS i FROM t)
            ), g AS (
              SELECT * FROM uni UNION ALL SELECT * FROM bi
            ), feat AS (
              SELECT doc_id, source,
                     ('0x' || substr(md5(gm), 1, 8))::BIGINT % {DSIR_BUCKETS} AS b
              FROM g
            ), counts AS (
              SELECT b, count(*) AS c_raw,
                     sum(CASE WHEN source = '{DSIR_TARGET_SOURCE}'
                              THEN 1 ELSE 0 END) AS c_tgt
              FROM feat GROUP BY b
            ), stats AS (
              SELECT (sum(c_raw) + {DSIR_BUCKETS})::DOUBLE AS denom_r,
                     (sum(c_tgt) + {DSIR_BUCKETS})::DOUBLE AS denom_t
              FROM counts
            ), lr AS (
              SELECT b,
                     CAST(round(ln(
                         ((c_tgt + 1) / (SELECT denom_t FROM stats))
                         / ((c_raw + 1) / (SELECT denom_r FROM stats))
                       ) * 1e6) AS BIGINT) AS micro
              FROM counts
            ), per AS (
              SELECT doc_id,
                     CAST(sum(micro) AS BIGINT) AS s_micro,
                     count(*) AS n_feats
              FROM feat JOIN lr USING (b) GROUP BY doc_id
            )
            SELECT d.doc_id, d.source,
                   coalesce(n_feats, 0) AS n_feats,
                   CASE WHEN coalesce(n_feats, 0) > 0
                        THEN round(s_micro / (n_feats * 1e6), 6)
                        ELSE 0.0 END AS avg_logratio,
                   coalesce(s_micro > 0, false) AS selected
            FROM documents d LEFT JOIN per USING (doc_id)
            ORDER BY d.doc_id
        """,
        # --- product-quantization ANN / ADC (functions/similarity.py
        # ann_pq): sub-codebooks rebuilt from the view exactly as the
        # Spark side collects them (training vecs PQ_TRAIN_OFFSET..+KC,
        # centroid (m,j) = subspace-m slice of training vec j); codes =
        # argmax of 6-decimal-rounded subvector dots (tie → smallest j);
        # LUT entries micro-quantized so scores are exact integer sums
        "ann_pq": f"""
            WITH emb AS (
              SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
            ), ms AS (
              SELECT unnest(range(0, {PQ_M}))::INT AS m
            ), sub AS (
              SELECT ms.m, (t.vec_id - {PQ_TRAIN_OFFSET})::INT AS j,
                     t.e[ms.m * {_pq_d0} + 1 : ms.m * {_pq_d0} + {_pq_d0}] AS c
              FROM emb t, ms
              WHERE t.vec_id >= {PQ_TRAIN_OFFSET}
                AND t.vec_id < {PQ_TRAIN_OFFSET + PQ_KC}
            ), vecsub AS (
              SELECT v.vec_id, ms.m,
                     v.e[ms.m * {_pq_d0} + 1 : ms.m * {_pq_d0} + {_pq_d0}] AS sv
              FROM emb v, ms
            ), codes AS (
              SELECT vec_id, m, j AS code FROM (
                SELECT vs.vec_id, vs.m, s.j,
                       row_number() OVER (
                         PARTITION BY vs.vec_id, vs.m
                         ORDER BY round(list_dot_product(vs.sv, s.c), 6) DESC,
                                  s.j ASC) AS rn
                FROM vecsub vs JOIN sub s ON vs.m = s.m) WHERE rn = 1
            ), lut AS (
              SELECT q.vec_id AS query_id, s.m, s.j,
                     CAST(round(list_dot_product(
                         q.e[s.m * {_pq_d0} + 1 : s.m * {_pq_d0} + {_pq_d0}],
                         s.c) * 1e6) AS BIGINT) AS d_micro
              FROM emb q, sub s WHERE q.vec_id < {DEFAULT_QUERIES}
            ), scored AS (
              SELECT l.query_id, c.vec_id,
                     CAST(sum(l.d_micro) AS BIGINT) AS s_micro
              FROM codes c JOIN lut l ON c.m = l.m AND c.code = l.j
              WHERE c.vec_id <> l.query_id
              GROUP BY l.query_id, c.vec_id
            ), ranked AS (
              SELECT query_id, vec_id, s_micro,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY s_micro DESC, vec_id ASC)
                         AS rank
              FROM scored
            )
            SELECT query_id, vec_id,
                   round(s_micro / 1e6, 6) AS score, rank
            FROM ranked WHERE rank <= {DEFAULT_K}
            ORDER BY query_id, rank
        """,
        # --- distributed BPE tokenizer training (functions/bpe.py):
        # the merge-learning loop unrolled as a CTE chain; each round's
        # argmax row IS the output row for that rank
        "bpe_train": f"""
            WITH {_bpe_train_ctes()[0]}
            SELECT * FROM (
              {" UNION ALL ".join(
                  f"SELECT CAST({k} AS BIGINT) AS merge_rank, lhs, rhs,"
                  f" pair_count FROM b{k}"
                  for k in range(_bpe_train_ctes()[1])
              )}
            ) ORDER BY merge_rank
        """,
        # --- the trained tokenizer applied back to the corpus: the
        # final vocabulary segmentation (w{{N}}) joined to the exploded
        # corpus tokens; fertility = subwords per word, one IEEE
        # division rounded to 6 decimals in both engines
        "bpe_fertility": f"""
            WITH {_bpe_train_ctes()[0]},
            sizes AS (
              SELECT word, len(seg) AS n_subwords_w
              FROM w{_bpe_train_ctes()[1]}
            ), tok AS (
              SELECT doc_id, unnest({_TOKS}) AS word FROM documents
            ), tokf AS (
              SELECT doc_id, word FROM tok
              WHERE word <> '' AND NOT contains(word, chr(31))
                AND length(word) <= {_BPE_MAX_WORD}
            ), per_doc AS (
              SELECT t.doc_id, count(*) AS n_words,
                     CAST(sum(s.n_subwords_w) AS BIGINT) AS n_subwords
              FROM tokf t JOIN sizes s USING (word)
              GROUP BY t.doc_id
            )
            SELECT d.doc_id,
                   COALESCE(p.n_words, 0) AS n_words,
                   COALESCE(p.n_subwords, 0) AS n_subwords,
                   CASE WHEN COALESCE(p.n_words, 0) > 0
                        THEN round(p.n_subwords::DOUBLE / p.n_words, 6)
                        ELSE 0.0 END AS fertility
            FROM documents d LEFT JOIN per_doc p USING (doc_id)
            ORDER BY d.doc_id
        """,
        # --- gap sessionization (functions/events.py): identical window
        # restatement — lag-gap mark, running sum, per-session integer
        # aggregates (epoch micros / cents; no IEEE accumulation)
        "event_sessions": f"""
            WITH e AS (
              SELECT event_id, user_id, event_type, epoch_us(ts) AS micros,
                     CAST(round(value * 100) AS BIGINT) AS cents
              FROM events
            ), marked AS (
              SELECT *,
                     CASE WHEN lag(micros) OVER w IS NULL
                            OR micros - lag(micros) OVER w
                               > {_SESSION_GAP_MICROS}
                          THEN 1 ELSE 0 END AS is_new
              FROM e
              WINDOW w AS (PARTITION BY user_id ORDER BY micros, event_id)
            ), sess AS (
              SELECT *,
                     CAST(sum(is_new) OVER (
                       PARTITION BY user_id ORDER BY micros, event_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
              FROM marked
            )
            SELECT user_id, session_seq,
                   count(*) AS n_events,
                   min(micros) AS start_micros,
                   max(micros) AS end_micros,
                   max(micros) - min(micros) AS duration_micros,
                   CAST(sum(cents) AS BIGINT) AS value_cents,
                   CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_errors
            FROM sess GROUP BY user_id, session_seq
            ORDER BY user_id, session_seq
        """,
        # --- as-of error join (functions/events.py): DuckDB's NATIVE
        # ASOF JOIN as a genuinely independent restatement of the Spark
        # max-struct-over-strict-range-frame plan. The error side is
        # pre-deduped to max(event_id) per (user, micros) so the tie at
        # an identical microsecond matches the struct-max's break
        "events_asof_error": """
            WITH e AS (
              SELECT event_id, user_id, event_type, epoch_us(ts) AS micros
              FROM events
            ), err AS (
              SELECT user_id, micros, max(event_id) AS err_id
              FROM e WHERE event_type = 'error'
              GROUP BY user_id, micros
            )
            SELECT e.event_id, e.user_id, e.event_type,
                   r.err_id AS last_error_id,
                   e.micros - r.micros AS micros_since_error
            FROM e ASOF LEFT JOIN err r
              ON e.user_id = r.user_id AND e.micros > r.micros
            ORDER BY e.event_id
        """,
        # --- watermarked tumbling-window streaming aggregation
        # (streaming/window_stream.py): tumbling windows are epoch-
        # aligned, so the batch restatement is floor-division on
        # epoch_us — every real window must have been emitted exactly
        # once by the bounded replay for the hashes to match
        "stream_window_counts": f"""
            SELECT (epoch_us(ts) // {_WINDOW_MICROS}) * {_WINDOW_MICROS}
                       AS window_start_micros,
                   (epoch_us(ts) // {_WINDOW_MICROS}) * {_WINDOW_MICROS}
                       + {_WINDOW_MICROS} AS window_end_micros,
                   event_type,
                   count(*) AS n_events,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                       AS value_cents
            FROM events
            GROUP BY 1, 2, 3
            ORDER BY window_start_micros, event_type
        """,
        # --- session-window streaming aggregation (streaming/
        # window_stream.py): Spark session_window merges TOUCHING
        # windows (probed: an event exactly GAP after its predecessor
        # stays in-session), i.e. split iff lag-gap > GAP — the same
        # strict-> rule as the batch sessionizer; session end = last
        # event + GAP
        "stream_session_windows": f"""
            WITH e AS (
              SELECT user_id, event_type, epoch_us(ts) AS micros,
                     CAST(round(value * 100) AS BIGINT) AS cents
              FROM events
            ), marked AS (
              SELECT *,
                     CASE WHEN lag(micros) OVER w IS NULL
                            OR micros - lag(micros) OVER w
                               > {_SESSION_GAP_MICROS}
                          THEN 1 ELSE 0 END AS is_new
              FROM e
              WINDOW w AS (PARTITION BY user_id ORDER BY micros)
            ), sess AS (
              SELECT *,
                     sum(is_new) OVER (
                       PARTITION BY user_id ORDER BY micros
                       ROWS UNBOUNDED PRECEDING) AS sid
              FROM marked
            )
            SELECT user_id,
                   min(micros) AS session_start_micros,
                   max(micros) + {_SESSION_GAP_MICROS}
                       AS session_end_micros,
                   count(*) AS n_events,
                   CAST(sum(cents) AS BIGINT) AS value_cents,
                   CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_errors
            FROM sess GROUP BY user_id, sid
            ORDER BY user_id, session_start_micros
        """,
        # --- stream-stream interval join (streaming/join_stream.py):
        # the batch restatement of the inner equi+interval join; both
        # bounds inclusive, lag in integer micros
        "stream_interval_join": """
            SELECT c.user_id,
                   c.event_id AS click_id,
                   e.event_id AS error_id,
                   epoch_us(c.ts) - epoch_us(e.ts) AS lag_micros
            FROM events c JOIN events e
              ON c.user_id = e.user_id
             AND c.event_type = 'click' AND e.event_type = 'error'
             AND e.ts >= c.ts - INTERVAL 1 HOUR AND e.ts <= c.ts
            ORDER BY click_id, error_id
        """,
        # --- exact per-source length percentiles (functions/stats.py):
        # DuckDB's quantile_cont implements the same continuous-quantile
        # interpolation as Spark's percentile — a genuine cross-engine
        # check of the arithmetic on integer inputs
        "source_length_stats": """
            SELECT source,
                   count(*) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   min(n_chars) AS min_chars,
                   max(n_chars) AS max_chars,
                   round(quantile_cont(n_chars, 0.25), 6) AS p25_chars,
                   round(quantile_cont(n_chars, 0.50), 6) AS p50_chars,
                   round(quantile_cont(n_chars, 0.75), 6) AS p75_chars,
                   round(quantile_cont(n_chars, 0.95), 6) AS p95_chars,
                   round(sum(n_chars)::DOUBLE / count(*), 6) AS mean_chars
            FROM documents
            GROUP BY source
            ORDER BY source
        """,
        # --- custom-stateful streaming as-of gate (streaming/
        # asof_stream.py): the IDENTICAL oracle as the batch
        # events_asof_error — DuckDB's native ASOF JOIN — proving
        # batch/stream parity of the state-store implementation
        "stream_asof_error": """
            WITH e AS (
              SELECT event_id, user_id, event_type, epoch_us(ts) AS micros
              FROM events
            ), err AS (
              SELECT user_id, micros, max(event_id) AS err_id
              FROM e WHERE event_type = 'error'
              GROUP BY user_id, micros
            )
            SELECT e.event_id, e.user_id, e.event_type,
                   r.err_id AS last_error_id,
                   e.micros - r.micros AS micros_since_error
            FROM e ASOF LEFT JOIN err r
              ON e.user_id = r.user_id AND e.micros > r.micros
            ORDER BY e.event_id
        """,
    }
