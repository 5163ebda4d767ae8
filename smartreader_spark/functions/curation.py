"""Corpus-curation operators over the `documents` table: the filters a
large-scale training-data pipeline runs AFTER extraction and BEFORE
tokenization — repetition-based quality (the Gopher family of filters),
cross-document passage dedup (token-chunk granularity, the tractable
approximation of suffix-array substring dedup), and deterministic
per-source caps (the per-domain quota step of CC-style curation).

All three are pure built-in-expression plans (zero Python nodes):

* repetition_scores — per-doc word-2-gram/3-gram repetition fractions.
  Shuffles only on (doc_id, k, gram) then doc_id — both doc-local keys,
  so at 100 TB the reduction is embarrassingly parallel (no hot keys
  beyond the largest single document, which the Arrow batch cap already
  bounds upstream).
* dedup_chunks_corpus — non-overlapping 8-token chunks are md5-hashed
  and counted corpus-wide; a doc's duplicated-chunk fraction drives a
  keep/drop flag. One shuffle on the fixed-width chunk digest (the same
  width-bounded-shuffle-key argument as exact dedup); the occurrence
  count is a window over that key, not a self-join.
* source_cap_sample — deterministic top-K rows per source ordered by a
  salted md5 of the doc id (a stable pseudo-random draw, so re-runs and
  both engines agree). rank<=K over a window lets Spark's
  WindowGroupLimit push the limit below the sort at each partition —
  per-source state is K rows, not the source's full document list. At
  100 TB a skewed mega-source is bounded the same way (top-K heaps on
  the map side); if a single source exceeded a partition, the standard
  salt-then-re-rank two-phase applies.

The reference engine (SmartReader) has no corpus-curation analog —
these extend the extraction engine toward the training-data pipeline
per the build brief; the repetition thresholds follow the published
Gopher rules (Rae et al. 2021, table A1) restated over token counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..memo import SessionMemo
from .textqa import _norm, load_documents

# non-overlapping token-chunk width for passage dedup
CHUNK_TOKENS = 8
# per-source quota for the cap sampler
SOURCE_CAP = 20
# deterministic draw salt (shared with the DuckDB oracle restatement)
CAP_SALT = "capsalt"
# temperature-sampling draw salt (distinct stream from the cap draw)
TEMP_SALT = "tempsamp"
# benchmark-decontamination knobs: sliding-gram width and the
# deterministic benchmark slice (doc_id % DECON_BENCH_MOD == 0)
DECON_NGRAM = 8
DECON_BENCH_MOD = 97
# Gopher-style acceptance thresholds, restated over token-occurrence
# fractions: top 2-gram <= 0.20 of bigram occurrences, duplicate
# 3-grams <= 0.30 of trigram occurrences
TOP_BIGRAM_MAX = 0.20
DUP_TRIGRAM_MAX = 0.30
# training-sequence packing: context-window token budget (a power of
# two ON PURPOSE — offset / SEQ_TOKENS is then an exact double scaling,
# so floor() is bit-identical between Spark and the DuckDB oracle) and
# the deterministic layout-order salt (a reproducible corpus shuffle)
SEQ_TOKENS = 2048
PACK_SALT = "packsalt"
# DSIR importance-reweighting knobs: hashed-feature bucket count (the
# paper's fixed-width hashed n-gram space) and the target domain
DSIR_BUCKETS = 64
DSIR_TARGET_SOURCE = "src0"


def _toks(col):
    return F.split(_norm(col), " ")


def _word_grams(toks, k: int):
    """Adjacent word k-grams as an array column (empty when the doc has
    fewer than k tokens). Built from k aligned slices zipped with
    concat_ws — stays inside codegen, no explode until the caller."""
    n = F.size(toks)
    width = F.greatest(n - (k - 1), F.lit(0))
    parts = [F.slice(toks, i + 1, width) for i in range(k)]
    grams = parts[0]
    for p in parts[1:]:
        grams = F.zip_with(grams, p, lambda a, b: F.concat_ws(" ", a, b))
    return F.when(n >= k, grams).otherwise(F.array().cast("array<string>"))


def repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition quality signals (Gopher filter family):

    * top_bigram_frac  — occurrences of the most frequent word 2-gram
      over all 2-gram occurrences
    * dup_bigram_frac  — occurrences belonging to 2-grams seen more
      than once in the doc, over all 2-gram occurrences
    * dup_trigram_frac — same for 3-grams
    * passes_repetition — top_bigram_frac <= 0.20 AND
      dup_trigram_frac <= 0.30

    Docs too short for a given gram size contribute 0.0 fractions.
    """
    from .similarity import _spread

    docs = load_documents(spark, sf_dir)
    # r7: spread the single-file scan before the gram explode (guide §2.5)
    base = _spread(docs.select("doc_id", F.col("text"))).select(
        "doc_id", _toks(F.col("text")).alias("toks")
    )
    toks = F.col("toks")
    tagged = F.concat(
        F.transform(
            _word_grams(toks, 2),
            lambda g: F.struct(F.lit(2).alias("k"), g.alias("gram")),
        ),
        F.transform(
            _word_grams(toks, 3),
            lambda g: F.struct(F.lit(3).alias("k"), g.alias("gram")),
        ),
    )
    grams = base.select("doc_id", F.explode(tagged).alias("g")).select(
        "doc_id", F.col("g.k").alias("k"), F.col("g.gram").alias("gram")
    )
    cnt = grams.groupBy("doc_id", "k", "gram").agg(F.count("*").alias("c"))
    k, c = F.col("k"), F.col("c")
    per = cnt.groupBy("doc_id").agg(
        F.max(F.when(k == 2, c)).alias("top2"),
        F.sum(F.when(k == 2, c)).alias("tot2"),
        F.sum(F.when((k == 2) & (c > 1), c)).alias("dup2"),
        F.sum(F.when(k == 3, c)).alias("tot3"),
        F.sum(F.when((k == 3) & (c > 1), c)).alias("dup3"),
    )
    top_bi = F.coalesce(F.col("top2") / F.col("tot2"), F.lit(0.0))
    dup_bi = F.coalesce(F.col("dup2") / F.col("tot2"), F.lit(0.0))
    dup_tri = F.coalesce(F.col("dup3") / F.col("tot3"), F.lit(0.0))
    return (
        docs.select("doc_id", F.size(_toks(F.col("text"))).alias("n_tokens"))
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.round(top_bi, 6).alias("top_bigram_frac"),
            F.round(dup_bi, 6).alias("dup_bigram_frac"),
            F.round(dup_tri, 6).alias("dup_trigram_frac"),
            (
                (top_bi <= TOP_BIGRAM_MAX) & (dup_tri <= DUP_TRIGRAM_MAX)
            ).alias("passes_repetition"),
        )
        .orderBy("doc_id")
    )


def dedup_chunks_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document passage dedup at 8-token-chunk granularity: a
    chunk is duplicated when its digest occurs more than once in the
    whole corpus (within-doc repeats count — a self-plagiarizing doc is
    as much a dedup target as a syndicated one). Emits per-doc chunk
    totals, the duplicated fraction, and keep_doc (frac <= 0.5)."""
    from .similarity import _spread

    docs = load_documents(spark, sf_dir)
    toks = _toks(F.col("text"))
    n = F.size(toks)
    n_chunks = F.floor(n / CHUNK_TOKENS).cast("int")
    hashes = F.when(
        n >= CHUNK_TOKENS,
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.md5(
                F.concat_ws(" ", F.slice(toks, i * CHUNK_TOKENS + 1, CHUNK_TOKENS))
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # r7: spread the single-file scan before the chunk-hash explode
    ex = _spread(docs.select("doc_id", "text")).select(
        "doc_id", F.explode(hashes).alias("h")
    )
    occ = ex.withColumn("c", F.count("*").over(Window.partitionBy("h")))
    per = occ.groupBy("doc_id").agg(
        F.count("*").alias("nc"),
        F.sum((F.col("c") > 1).cast("bigint")).alias("nd"),
    )
    frac = F.when(
        F.coalesce(F.col("nc"), F.lit(0)) > 0, F.col("nd") / F.col("nc")
    ).otherwise(F.lit(0.0))
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("nc"), F.lit(0)).cast("bigint").alias("n_chunks"),
            F.coalesce(F.col("nd"), F.lit(0)).cast("bigint").alias("n_dup_chunks"),
            F.round(frac, 6).alias("dup_chunk_frac"),
            (frac <= 0.5).alias("keep_doc"),
        )
        .orderBy("doc_id")
    )


def source_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source quota: keep at most SOURCE_CAP docs per
    source, drawn by a salted md5 of the doc id (stable across runs and
    engines, uniform across the id space — the per-domain cap step of a
    CC-style curation pipeline)."""
    docs = load_documents(spark, sf_dir)
    key = F.md5(
        F.concat_ws("|", F.lit(CAP_SALT), F.col("doc_id").cast("string"))
    )
    w = Window.partitionBy("source").orderBy(key)
    return (
        docs.select("doc_id", "source", key.alias("samp_key"))
        .withColumn("rank_in_source", F.row_number().over(w))
        .filter(F.col("rank_in_source") <= SOURCE_CAP)
        .select("doc_id", "source", "rank_in_source")
        .orderBy("source", "rank_in_source")
    )

def source_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened mixture resampling at T = 1/2 — the
    standard pretraining rebalance (mBERT/XLM-R exponential smoothing,
    Llama/PaLM mixture weights): target source shares ∝ n_s^T, so with
    T < 1 small sources are up-weighted relative to natural sampling.
    Realized as a per-document Bernoulli filter with per-source
    acceptance rate

        rate_s = (n_min / n_s)^(1-T)  =  sqrt(n_min / n_s)  at T = 1/2

    normalized so the smallest source keeps everything (rate 1), and a
    document is kept iff its salted-md5 uniform draw u < rate_s. T is
    pinned to 1/2 deliberately: the rate is then one IEEE-754 sqrt of an
    exact double ratio — correctly rounded by spec on every engine — so
    the keep decision is bit-identical between Spark and the DuckDB
    oracle with NO tolerance (a float `pow` would differ in the last
    ulp across libm implementations).

    Scale shape: the per-source count table is domains-sized (tiny), so
    it broadcast-joins onto the corpus; n_min is one driver-side scalar
    off that table (config-like state, as the IVF codebook); the draw
    and the comparison are pure map-side expressions. No corpus shuffle
    at all — at 100 TB this is a scan with a broadcast lookup."""
    docs = load_documents(spark, sf_dir)
    counts = docs.groupBy("source").agg(F.count("*").alias("n_source"))
    n_min = counts.agg(F.min("n_source")).first()[0]
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws("|", F.lit(TEMP_SALT), F.col("doc_id").cast("string"))
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(4294967296.0)
    )
    rate = F.sqrt(F.lit(float(n_min)) / F.col("n_source").cast("double"))
    return (
        docs.select("doc_id", "source")
        .join(F.broadcast(counts), "source")
        .select(
            "doc_id",
            "source",
            "n_source",
            F.round(rate, 6).alias("rate"),
            (u < rate).alias("keep"),
        )
        .orderBy("doc_id")
    )


def sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into fixed-token-budget training sequences
    (SEQ_TOKENS = 2048) — the concatenate-and-chop layout step a
    GPT-style pretraining pipeline runs between curation and the data
    loader. Documents are laid out per source in a deterministic salted
    order (the same stable md5-draw family as the cap sampler: a
    reproducible corpus shuffle), the running token offset is a window
    cumulative sum, and a document starting at offset o with n tokens
    occupies sequences floor(o/B) .. floor((o+n-1)/B) — long documents
    legitimately span several sequences, exactly as block-causal
    packing chops them.

    Emits per doc: the layout key, token count, first sequence id, the
    offset inside that sequence, and how many sequences it spans.

    Scale shape: packing is per source (per data shard at 100 TB), so
    the only shuffle is the window's hash partition on `source` — a
    single GLOBAL running sum would serialize the corpus into one
    partition, which is exactly why production pipelines pack per shard
    and number sequences (shard, local_idx). Window state is one
    running long per partition. SEQ_TOKENS is a power of two so the
    offset/B division is an exact double scaling and floor() carries no
    last-ulp hazard cross-engine."""
    docs = load_documents(spark, sf_dir)
    n_tok = F.greatest(F.size(_toks(F.col("text"))), F.lit(1)).cast("long")
    base = docs.select(
        "doc_id", "source", n_tok.alias("n_tokens"), _pack_key().alias("pack_key")
    )
    return _pack_layout(base)


def _pack_key():
    return F.md5(
        F.concat_ws("|", F.lit(PACK_SALT), F.col("doc_id").cast("string"))
    )


def _pack_layout(base: DataFrame) -> DataFrame:
    """The shared packing math over a (doc_id, source, n_tokens,
    pack_key) table — used by `sequence_pack` (raw corpus) and
    `training_layout` (curation+split survivors)."""
    w = (
        Window.partitionBy("source")
        .orderBy("pack_key")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    off = cum - F.col("n_tokens")
    b = F.lit(float(SEQ_TOKENS))
    seq_first = F.floor(off / b).cast("long")
    seq_last = F.floor((cum - 1) / b).cast("long")
    return base.select(
        "doc_id",
        "source",
        "n_tokens",
        "pack_key",
        seq_first.alias("seq_first"),
        (off % SEQ_TOKENS).cast("long").alias("seq_offset"),
        (seq_last - seq_first + 1).cast("long").alias("n_seqs"),
    ).orderBy("doc_id")


def training_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation-to-layout composition a pretraining data job
    actually ships: the three curation gates (quota → repetition →
    passage dedup, exactly `curation_pipeline`'s order), then the
    train-slice hash split (`dataset_split` semantics as a pure filter —
    no join needed, the uniform is a function of doc_id alone), then
    per-source sequence packing over the SURVIVORS. The packed offsets
    differ from `sequence_pack`'s raw-corpus layout precisely because
    curation removed rows upstream — which is the point: this query
    value-proves that the gates, the split and the layout compose
    without re-reading the corpus between stages.

    Scale shape inherits from its parts: the gates' doc_id equi-joins,
    one map-side split filter, one window shuffle hashed on `source`.
    At 100 TB the only new cost over `curation_pipeline` is that final
    per-shard window — the same single-exchange argument as
    `sequence_pack`."""
    g = _gates(spark, sf_dir)
    surv = (
        g["cap"]
        .select("doc_id", "source")
        .join(
            g["rep"]
            .filter(F.col("passes_repetition"))
            .select("doc_id", "n_tokens"),
            "doc_id",
        )
        .join(
            g["chunks"].filter(F.col("keep_doc")).select("doc_id"),
            "doc_id",
        )
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|", F.lit(SPLIT_SALT), F.col("doc_id").cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(4294967296.0)
    )
    base = surv.where(u < F.lit(SPLIT_TRAIN_MAX)).select(
        "doc_id", "source", "n_tokens", _pack_key().alias("pack_key")
    )
    return _pack_layout(base)


def decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any
    sliding word 8-gram with a designated evaluation set (here the
    deterministic ~1% slice doc_id % 97 == 0 stands in for the held-out
    benchmark). The standard n-gram-overlap contamination check every
    published training pipeline runs (GPT-3 appendix C / PaLM / Llama
    use 8-13 gram collision against eval sets).

    Scale shape: the benchmark's distinct gram digests are tiny relative
    to the corpus, so the membership probe is a broadcast hash join —
    corpus grams never shuffle for the join; the only wide exchange is
    the per-doc overlap count on doc_id (doc-local key). Emits one row
    per non-benchmark doc: gram occurrences, how many hit the benchmark
    set, and the contaminated flag."""
    from .similarity import _spread

    docs = load_documents(spark, sf_dir)
    grams = _spread(docs.select("doc_id", "text")).select(
        "doc_id",
        F.explode(_word_grams(_toks(F.col("text")), DECON_NGRAM)).alias("g"),
    ).select("doc_id", F.md5(F.col("g")).alias("h"))
    bench = (
        grams.filter(F.col("doc_id") % DECON_BENCH_MOD == 0)
        .select("h")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    corpus = grams.filter(F.col("doc_id") % DECON_BENCH_MOD != 0)
    per = (
        corpus.join(F.broadcast(bench), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("ng"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("nov"),
        )
    )
    nov = F.coalesce(F.col("nov"), F.lit(0)).cast("bigint")
    return (
        docs.filter(F.col("doc_id") % DECON_BENCH_MOD != 0)
        .select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("ng"), F.lit(0)).cast("bigint").alias("n_grams"),
            nov.alias("n_overlap"),
            (nov > 0).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


#: the three gate outputs, localCheckpointed once per input (memo.py).
#: bench.py runs the three composed curation queries in one session; a
#: 100 TB pipeline likewise materializes each gate's verdict table once
#: and feeds every composed consumer from it — recomputing three
#: tokenize+explode passes per downstream query is the anti-pattern.
_GATES_CACHE = SessionMemo("curation.gates")


def _gates(spark: SparkSession, sf_dir: str) -> dict:
    return _GATES_CACHE.get_or_build(
        spark, (sf_dir,), (sf_dir,), lambda: _build_gates(spark, sf_dir)
    )


def _build_gates(spark: SparkSession, sf_dir: str) -> dict:
    # the three gates are independent jobs — overlap them (guide §2.6)
    # so the materialization wall is max(gate), not sum(gate); measured
    # at sf1.0: cap 0.4 s + rep 4.3 s + chunks 1.9 s serialized
    from concurrent.futures import ThreadPoolExecutor

    dfs = {
        "cap": source_cap_sample(spark, sf_dir),
        "rep": repetition_scores(spark, sf_dir).select(
            "doc_id", "n_tokens", "passes_repetition"
        ),
        "chunks": dedup_chunks_corpus(spark, sf_dir).select(
            "doc_id", "keep_doc"
        ),
    }
    with ThreadPoolExecutor(max_workers=len(dfs)) as pool:
        futs = {
            k: pool.submit(lambda d: d.localCheckpoint(eager=True), df)
            for k, df in dfs.items()
        }
        return {k: f.result() for k, f in futs.items()}


def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three curation gates composed into one keep decision — the
    order a production pipeline applies them: per-source quota first
    (cheapest, biggest cut on crawl-skewed corpora), then the doc-local
    repetition gate, then corpus-wide passage dedup. Returns the
    surviving docs. Every join is a doc_id equi-join between outputs
    already partitioned by doc_id-derived keys; at 100 TB the quota and
    repetition legs prune before the (more expensive) chunk shuffle's
    output is consumed."""
    g = _gates(spark, sf_dir)
    capped = g["cap"].select("doc_id", "source")
    rep = (
        g["rep"]
        .filter(F.col("passes_repetition"))
        .select("doc_id", "n_tokens")
    )
    ch = g["chunks"].filter(F.col("keep_doc")).select("doc_id")
    return (
        capped.join(rep, "doc_id")
        .join(ch, "doc_id")
        .select("doc_id", "source", "n_tokens")
        .orderBy("doc_id")
    )


def curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-by-stage survivor counts for the curation pipeline (the
    observability twin of curation_pipeline — the number a 100-TB run
    watches to catch a gate eating the corpus). One row per stage."""
    docs = load_documents(spark, sf_dir)
    g = _gates(spark, sf_dir)
    capped = g["cap"].select("doc_id")
    rep_pass = (
        g["rep"].filter(F.col("passes_repetition")).select("doc_id")
    )
    ch_keep = g["chunks"].filter(F.col("keep_doc")).select("doc_id")
    stages = [
        ("1_total", docs.select("doc_id")),
        ("2_after_source_cap", capped),
        ("3_after_repetition", capped.join(rep_pass, "doc_id")),
        ("4_after_chunk_dedup", capped.join(rep_pass, "doc_id").join(ch_keep, "doc_id")),
    ]
    out = None
    for name, df in stages:
        row = df.agg(F.count("*").alias("n_docs")).select(
            F.lit(name).alias("stage"), "n_docs"
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("stage")


# hash-split salt + fraction boundaries (train < 0.9 <= validation
# < 0.95 <= test); the salt keeps this draw independent of the cap,
# temperature and packing streams
SPLIT_SALT = "datasplit"
SPLIT_TRAIN_MAX = 0.9
SPLIT_VALID_MAX = 0.95


def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/validation/test assignment — the
    reproducible-split step a training pipeline runs before writing
    shards. The assignment key is a salted md5 of the doc id mapped to
    a uniform in [0,1) (first 8 hex chars / 2^32 — the exact idiom of
    `source_temperature_sample`, so the decision is one IEEE-exact
    division compared against literal boundaries, bit-identical
    cross-engine). Hash-splitting (vs random-with-seed) is what real
    pipelines use because it is *stable under growth*: adding documents
    never reassigns existing ones, and any engine that can compute md5
    reproduces the split with no coordination.

    Scale shape: a pure narrow projection — no shuffle, no state, no
    driver scalars; at 10^12 docs it fuses into whatever scan feeds it.
    The reference has no training-split analog (single-document
    engine); this serves SURVEY §2's training-data tier.
    """
    docs = load_documents(spark, sf_dir)
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|", F.lit(SPLIT_SALT), F.col("doc_id").cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(4294967296.0)
    )
    split = (
        F.when(u < F.lit(SPLIT_TRAIN_MAX), F.lit("train"))
        .when(u < F.lit(SPLIT_VALID_MAX), F.lit("validation"))
        .otherwise(F.lit("test"))
    )
    return docs.select(
        "doc_id",
        "source",
        F.round(u, 6).alias("u"),
        split.alias("split"),
    ).orderBy("doc_id")


def dsir_importance(spark: SparkSession, sf_dir: str,
                    target_source: str = DSIR_TARGET_SOURCE,
                    n_buckets: int = DSIR_BUCKETS) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every raw
    document by the log-likelihood ratio of its hashed n-gram features
    under a target-domain unigram-over-buckets model vs the raw-corpus
    model, so documents that look like the target domain float to the
    top. Features are unigrams + word bigrams hashed into a FIXED
    n_buckets-wide space (the paper's hashed n-gram trick — the model
    size is n_buckets, independent of corpus vocabulary), with add-one
    smoothing over the buckets. The target here is one source slice
    (source == target_source), the common "make the web corpus look
    like Wikipedia" setup.

    Cross-engine determinism (the unigram_surprisal fixed-point
    discipline): the per-bucket log-ratio
    ln(((c_tgt+1)/denom_t) / ((c_raw+1)/denom_r)) is quantized to
    integer micro-nats on the BUCKET table (one ln per bucket, ≤
    n_buckets of them), so the per-document aggregation is an exact
    integer sum and the mean is one correctly-rounded division. The
    bucket hash is the first 8 hex chars of md5 mod n_buckets —
    restatable verbatim in the DuckDB oracle.

    100-TB shape: one corpus pass builds the bucket counts (groupBy on
    a ≤ n_buckets-cardinality key, map-side partials collapse it to
    nothing); the counts table is localCheckpointed so the stats agg
    and the scoring join share that single pass; scoring joins the
    feature stream against a ≤ n_buckets-row table → automatic
    broadcast. No shuffle wider than the (doc_id) rollup.
    """
    from .similarity import _spread

    docs = load_documents(spark, sf_dir)
    toks = _toks(F.col("text"))
    # r7: the tokenize + md5-per-gram pass was executed TWICE (once for
    # the model counts, once for the scoring join). Collapse the feature
    # stream to per-(doc, source, bucket) occurrence counts — ≤ 64 rows
    # per doc — and localCheckpoint THAT, so one corpus pass feeds the
    # model, the stats and the scoring join; per-doc sums become exact
    # integer c×micro products (identical totals). The single-file scan
    # is spread over the cluster first (guide §2.5).
    base = (
        _spread(docs.select("doc_id", "source", F.col("text")))
        .select("doc_id", "source", toks.alias("toks"))
        .select(
            "doc_id",
            "source",
            F.concat(F.col("toks"), _word_grams(F.col("toks"), 2)).alias("grams"),
        )
    )
    feat = base.select(
        "doc_id", "source", F.explode("grams").alias("g")
    ).select(
        "doc_id",
        "source",
        (
            F.conv(F.substring(F.md5(F.col("g")), 1, 8), 16, 10).cast("long")
            % n_buckets
        ).alias("b"),
    )
    doc_b = (
        feat.groupBy("doc_id", "source", "b")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    counts = doc_b.groupBy("b").agg(
        F.sum("c").alias("c_raw"),
        F.sum(
            F.when(F.col("source") == target_source, F.col("c")).otherwise(0)
        ).alias("c_tgt"),
    )
    s = counts.agg(
        F.sum("c_raw").alias("n_raw"), F.sum("c_tgt").alias("n_tgt")
    ).first()
    denom_r = float(int(s["n_raw"]) + n_buckets)
    denom_t = float(int(s["n_tgt"]) + n_buckets)
    lr = counts.select(
        "b",
        F.round(
            F.log(
                ((F.col("c_tgt") + 1) / F.lit(denom_t))
                / ((F.col("c_raw") + 1) / F.lit(denom_r))
            )
            * 1e6
        )
        .cast("long")
        .alias("micro"),
    )
    # score from the checkpointed count table, NOT the raw feature
    # stream — joining `feat` here re-ran the tokenize+md5 corpus pass a
    # second time. sum(c*micro) / sum(c) over ≤ n_buckets rows per doc
    # is the exact integer equivalent of summing micro per occurrence.
    per = (
        doc_b.join(lr, "b")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("c") * F.col("micro")).alias("s_micro"),
            F.sum("c").alias("n_feats"),
        )
    )
    avg = F.when(
        F.col("n_feats") > 0,
        F.round(F.col("s_micro") / (F.col("n_feats") * 1e6), 6),
    ).otherwise(F.lit(0.0))
    return (
        docs.select("doc_id", "source")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce("n_feats", F.lit(0)).alias("n_feats"),
            avg.alias("avg_logratio"),
            F.coalesce(F.col("s_micro") > 0, F.lit(False)).alias("selected"),
        )
        .orderBy("doc_id")
    )
