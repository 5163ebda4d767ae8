"""Text analysis operators over the `documents` table — all built-in
expressions (codegen; zero Python in the plan).

* token_counts — whitespace tokenization + a BPE-ish subword estimate
* quality_scores — length / punctuation-ratio / stopword-ratio heuristics
* language_guess — stopword-overlap n-gram heuristic over a small
  built-in lexicon (the engine's LanguageIdentification plug point,
  reference: Article.cs:112 + SmartReader.NaturalLanguageProcessing)
* doc_fingerprints — normalized-text digest + a positional rolling digest
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# the stopword lexicon lives in the pure-Python kernel (single source of
# truth — the DataFrame ops, the kernel language plugin, the composed
# pipeline's quality gate and both DuckDB oracle generators all consume
# the same dict): ~25 words × 13 languages, two non-Latin scripts
from ..kernel.langid import STOPWORDS  # noqa: F401  (re-export)
from ..layout import spread


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sf `documents` table: the one loader every corpus operator uses."""
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _norm(col):
    """The one text-normalization rule (trim, lower-case, collapse
    whitespace runs to one space): tokenizers split on it, and it decides
    what counts as identical text for exact dedup, batch and streaming."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def tokens(col):
    """The one token rule: `_norm`'d text split on its single spaces."""
    return F.split(_norm(col), " ")


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokens + a subword estimate (ceil(chars/4), the usual
    BPE rule of thumb) — one narrow projection, no shuffle."""
    docs = load_documents(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.size(tokens(F.col("text"))).alias("n_tokens"),
        F.length(F.col("text")).alias("n_chars"),
        F.ceil(F.length(F.col("text")) / 4).cast("long").alias("n_subwords_est"),
    ).orderBy("doc_id")


BPE_PRETOKEN_PATTERN = (
    r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"
)


def bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-2-style pre-tokenizer counts: contraction suffixes, space-
    prefixed word/number/punctuation runs, whitespace runs (the regex
    family BPE vocabularies are trained over). Pure regexp_extract_all —
    JVM-side, no shuffle; the same pattern is RE2-compatible so the
    DuckDB oracle states it verbatim."""
    docs = load_documents(spark, sf_dir)
    pieces = F.regexp_extract_all(F.col("text"), F.lit(BPE_PRETOKEN_PATTERN), 0)
    return docs.select(
        "doc_id",
        F.size(pieces).alias("n_pieces"),
        F.size(F.array_distinct(pieces)).alias("n_distinct_pieces"),
        F.length(F.col("text")).alias("n_chars"),
    ).orderBy("doc_id")


def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length + punctuation + stopword-ratio quality heuristics (the same
    signal family the extraction kernel uses for link/text density)."""
    docs = load_documents(spark, sf_dir)
    toks = tokens(F.col("text"))
    n_toks = F.size(toks)
    en_sw = F.array([F.lit(w) for w in STOPWORDS["en"]])
    stop_hits = F.size(F.filter(toks, lambda t: F.array_contains(en_sw, t)))
    punct = F.length(F.regexp_replace(F.col("text"), r"[^.,;:!?]", ""))
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        n_toks.alias("n_tokens"),
        F.round(punct / F.greatest(F.length("text"), F.lit(1)), 6).alias("punct_ratio"),
        F.round(stop_hits / F.greatest(n_toks, F.lit(1)), 6).alias("stopword_ratio"),
        (
            (F.length("text") >= 100)
            & (n_toks >= 20)
            & (punct / F.greatest(F.length("text"), F.lit(1)) < 0.1)
        ).alias("passes_quality"),
    ).orderBy("doc_id")


def language_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-overlap language guess: argmax over per-language hit
    counts; 'und' (undetermined) when no lexicon hits at all."""
    docs = load_documents(spark, sf_dir)
    # hoist the normalize+split into its own projection: the 13
    # per-language counters below all reference it, and higher-order
    # functions sit outside codegen subexpression elimination — without
    # the named column the split would be recomputed per language
    # (CollapseProject keeps a non-cheap alias used many times)
    base = docs.select(
        "doc_id", tokens(F.col("text")).alias("toks")
    )
    toks = F.col("toks")
    cols = []
    for lang, words in STOPWORDS.items():
        arr = F.array([F.lit(w) for w in words])
        cols.append(
            F.struct(
                F.size(F.filter(toks, lambda t: F.array_contains(arr, t))).alias("hits"),
                F.lit(lang).alias("lang"),
            )
        )
    best = F.array_max(F.array(*cols))
    return base.select(
        "doc_id",
        F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und")).alias("lang_guess"),
        best["hits"].alias("lang_hits"),
    ).orderBy("doc_id")


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined fingerprints: full normalized digest + a coarse
    positional digest (first/middle/last 64 chars) approximating a rolling
    hash, both md5 for cross-engine verifiability."""
    docs = load_documents(spark, sf_dir)
    norm = _norm(F.col("text"))
    n = F.length(norm)
    head = F.substring(norm, 1, 64)
    mid = F.substr(norm, (n / 2).cast("int") + 1, F.lit(64))
    return docs.select(
        "doc_id",
        F.md5(norm).alias("fp_full"),
        F.md5(F.concat_ws("|", head, mid)).alias("fp_sketch"),
    ).orderBy("doc_id")


def unigram_surprisal(spark: SparkSession, sf_dir: str,
                      min_count: int = 2,
                      max_mean_nats: float = 3.5) -> DataFrame:
    """Corpus-trained unigram cross-entropy quality score — the
    SQL-expressible analog of CCNet's KenLM perplexity filter (Wenzek
    et al. 2020, "CCNet: Extracting High Quality Monolingual Datasets"):
    train token frequencies on the corpus itself, score each document by
    its mean per-token surprisal -ln p(t) under the add-one-smoothed
    unigram model, and flag the low-surprisal (fluent, common-
    vocabulary) documents. Rare-token spam and gibberish score high;
    natural prose scores low. Like real perplexity filters, the cutoff
    is corpus-calibrated (CCNet uses per-language percentiles); the
    default 3.5 sits at the high tail of the synthetic corpus so both
    flag branches are live. Reference parity: SmartReader has no LM
    stage (single-document engine); this serves SURVEY §2's training-
    data curation tier alongside repetition_scores/quality_scores.

    Cross-engine determinism (the same fixed-point discipline as
    source_temperature_sample): per-token surprisal is quantized to
    integer micro-nats — ``round(ln(denom/(c+1)) * 1e6)`` as LONG —
    on the *vocab* table, ONE ln per distinct token, so the
    per-document aggregation is an exact integer sum (order-
    independent, unlike a float sum over a shuffled explode) and the
    final mean is a single correctly-rounded IEEE division. A 1-ulp
    cross-engine ln difference flips a quantized long only within
    ~1e-9 of a rounding boundary. The DuckDB oracle restates the same
    fixed-point pipeline.

    Scale shape: tokenize+explode is map-side; the vocab build is one
    token-key groupBy with map-side partial aggregation; scoring is
    (doc_id, token) ⋈ vocab. `min_count` floors the vocab (hapax
    tokens collapse into the single OOV surprisal), which at production
    scale caps the surprisal table to broadcastable size. Corpus totals
    (N, V) are two scalars off one tiny agg — driver-side like the IVF
    codebook, never per-row.
    """
    docs = load_documents(spark, sf_dir)
    toks = tokens(F.col("text"))
    # r7: spread the single-file scan before the token explode (guide
    # §2.5) — both the vocab build and the scoring join re-read this
    tok_df = spread(docs.select("doc_id", "text")).select(
        "doc_id", F.explode(toks).alias("token")
    ).where(F.col("token") != "")
    # materialize the vocab once (vocab-sized, corpus-independent): the
    # stats agg AND the scoring join both read it, so without this the
    # tokenize+explode+groupBy — a full corpus scan + shuffle — would
    # run twice (the connected_components localCheckpoint precedent)
    counts = (
        tok_df.groupBy("token")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    stats = counts.agg(
        F.sum("c").alias("n_total"),
        F.sum(F.when(F.col("c") >= min_count, 1).otherwise(0)).alias("v_size"),
    ).first()
    # add-one smoothing over kept vocab + one OOV type; the normalizer
    # counts every emission. Exact as a double (integer < 2^53).
    denom = float(int(stats["n_total"]) + int(stats["v_size"]) + 1)
    surp = counts.where(F.col("c") >= min_count).select(
        "token",
        F.round(F.log(F.lit(denom) / (F.col("c") + 1)) * 1e6)
        .cast("long")
        .alias("micro_nats"),
    )
    oov_micro = F.round(F.log(F.lit(denom)) * 1e6).cast("long")
    per_doc = (
        tok_df.join(surp, "token", "left")
        .select("doc_id", F.coalesce(F.col("micro_nats"), oov_micro).alias("mn"))
        .groupBy("doc_id")
        .agg(F.sum("mn").alias("s_micro"), F.count("*").alias("n_tokens"))
    )
    mean_nats = F.when(
        F.col("n_tokens") > 0,
        F.round(F.col("s_micro") / (F.col("n_tokens") * 1e6), 6),
    ).otherwise(F.lit(0.0))
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
            mean_nats.alias("mean_surprisal_nats"),
            (
                (F.coalesce("n_tokens", F.lit(0)) > 0)
                & (mean_nats <= F.lit(max_mean_nats))
            ).alias("passes_lm"),
        )
        .orderBy("doc_id")
    )


def bigram_surprisal(spark: SparkSession, sf_dir: str,
                     min_count: int = 2,
                     max_mean_nats: float = 3.4) -> DataFrame:
    """Corpus-trained BIGRAM cross-entropy filter — the order-2 upgrade
    of `unigram_surprisal`, one step closer to CCNet's 5-gram KenLM
    gate (Wenzek et al. 2020): score each document by its mean
    per-position surprisal -ln p(w2|w1) under an add-one-smoothed
    bigram model trained on the corpus itself. Context sensitivity is
    what the unigram model can't see: a document whose tokens are all
    common but whose *transitions* are scrambled (bag-of-frequent-words
    spam, shuffled boilerplate) scores high here while sailing through
    the unigram gate. Reference parity: SmartReader has no LM stage
    (single-document engine); this serves SURVEY §2's training-data
    curation tier next to unigram_surprisal/repetition_scores.

    Model: p(w2|w1) = (c(w1,w2) + 1) / (c(w1·) + V) with V = |distinct
    successor types| + 1 (one OOV type), where c(w1·) is w1's count as
    a bigram context. Bigrams below `min_count` fall back to the OOV
    surprisal ln(c(w1·) + V) of their context — the event-vocabulary
    floor that caps the dictionary at production scale (hapax bigram
    types dominate any real corpus; flooring collapses them into one
    per-context OOV row so the surprisal table stays join- or even
    broadcast-sized).

    Cross-engine determinism (the unigram op's fixed-point discipline):
    per-bigram surprisal is quantized to integer micro-nats — ONE ln
    per distinct dictionary entry, computed on exact integer-valued
    doubles — so the per-document aggregation is an exact integer sum
    and the final mean a single correctly-rounded IEEE division. The
    DuckDB oracle restates the identical fixed-point pipeline.

    Scale shape: bigram extraction is map-side (zip_with over the token
    array with its own tail — no positional window, no per-doc
    shuffle); the dictionary build is ONE corpus-wide (w1,w2) groupBy
    with map-side partial aggregation, localCheckpointed because the
    context-marginal table c(w1·), the vocabulary scalar V AND the
    scoring join all derive from it (three consumers, one shuffle —
    c(w1·) = Σ_w2 c(w1,w2) falls out of the dictionary itself, never a
    second corpus pass). Scoring re-derives the bigram stream map-side
    and joins the dictionary on (w1,w2) and the context table on w1.
    """
    docs = load_documents(spark, sf_dir)
    toks = tokens(F.col("text"))
    # r7: spread the single-file scan before the bigram explode
    base = spread(docs.select("doc_id", "text")).select(
        "doc_id", toks.alias("toks")
    )
    n = F.size("toks")
    take = F.greatest(n - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice("toks", F.lit(1), take),
        F.slice("toks", F.lit(2), take),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    bg = (
        base.select("doc_id", F.explode(pairs).alias("p"))
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .where((F.col("w1") != "") & (F.col("w2") != ""))
    )
    # the one corpus-wide shuffle; dictionary-sized, three consumers
    dict_all = (
        bg.groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
        .localCheckpoint(eager=True)
    )
    v_size = int(
        dict_all.agg(F.countDistinct("w2").alias("v")).first()["v"]
    ) + 1
    ctx = dict_all.groupBy("w1").agg(F.sum("c12").alias("c1")).select(
        "w1",
        "c1",
        F.round(F.log((F.col("c1") + F.lit(v_size)).cast("double")) * 1e6)
        .cast("long")
        .alias("oov_micro"),
    )
    surp = (
        dict_all.where(F.col("c12") >= min_count)
        .join(ctx.select("w1", "c1"), "w1")
        .select(
            "w1",
            "w2",
            F.round(
                F.log((F.col("c1") + F.lit(v_size)) / (F.col("c12") + 1)) * 1e6
            )
            .cast("long")
            .alias("micro_nats"),
        )
    )
    per_doc = (
        bg.join(surp, ["w1", "w2"], "left")
        .join(ctx.select("w1", "oov_micro"), "w1")
        .select(
            "doc_id", F.coalesce(F.col("micro_nats"), F.col("oov_micro")).alias("mn")
        )
        .groupBy("doc_id")
        .agg(F.sum("mn").alias("s_micro"), F.count("*").alias("n_bigrams"))
    )
    mean_nats = F.when(
        F.col("n_bigrams") > 0,
        F.round(F.col("s_micro") / (F.col("n_bigrams") * 1e6), 6),
    ).otherwise(F.lit(0.0))
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            mean_nats.alias("mean_surprisal_nats"),
            (
                (F.coalesce("n_bigrams", F.lit(0)) > 0)
                & (mean_nats <= F.lit(max_mean_nats))
            ).alias("passes_lm"),
        )
        .orderBy("doc_id")
    )
