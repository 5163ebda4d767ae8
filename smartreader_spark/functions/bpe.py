"""Distributed BPE tokenizer training (Sennrich, Haddow & Birch 2016,
"Neural Machine Translation of Rare Words with Subword Units"): learn
the top-k byte-pair merges from the corpus' word-frequency dictionary,
then apply the learned segmentation back to the corpus (token counts /
fertility — the number the token-budget ledger of a training run needs).

This is the TRAINING side of the tokenizer family whose inference side
already ships here (`textqa.bpe_token_counts` — the GPT-2 pre-tokenizer
counts). Reference parity: SmartReader has no tokenizer stage
(single-document engine); this serves SURVEY §2's training-data
pipeline tier — a 100 TB corpus's tokenizer is trained exactly this
way before any token-budget accounting can run.

Scale shape
-----------
The classic algorithm operates on the word-frequency DICT, not corpus
positions: ONE corpus-wide shuffle builds (word, count), and every one
of the k merge rounds then touches only the vocabulary table —
  * pair counting: each word's current symbol array zipped with its own
    tail, exploded and summed per (lhs, rhs) pair weighted by word
    count (map-side partial agg; the pair table is vocabulary-bounded,
    never corpus-bounded);
  * argmax: one `orderBy(count DESC, lhs, rhs).first()` — a single
    driver-side row per round, the IVF-codebook precedent (the merge
    rule IS driver state in every real BPE trainer);
  * merge application: a pure-JVM left fold over each symbol array
    (greedy non-overlapping left-to-right, Sennrich's re.sub order),
    `localCheckpoint`-ed so the plan does not grow with the round count
    (the connected-components discipline).
At production scale the vocabulary is ~10^7-10^8 rows — each round is
a small fixed-width shuffle, so k=10k merges is k small jobs, not k
corpus passes. The apply side joins exploded corpus tokens against the
final segmentation table on the word — at sf scale that join is
broadcast; at 10^8-word vocab it is one hash join on a short string
key, still never a corpus-pair blowup.

Determinism: ties on pair count break on (lhs ASC, rhs ASC) — the
merge table is a pure function of the corpus. The DuckDB oracle
re-derives the identical table with an unrolled CTE chain whose merge
application is a chr(31)-delimited string `replace` (left-to-right
non-overlapping — exactly the fold's semantics, since the fused symbol
never equals `lhs` and every symbol is delimiter-wrapped so a match
cannot start inside another symbol); the pure-Python twin in
tests/test_components.py re-derives it a third way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smartreader_spark.functions.textqa import load_documents, tokens
from smartreader_spark.memo import SessionMemo

# the end-of-word sentinel of the original algorithm: lets the model
# distinguish word-final subwords ("est</w>") from word-internal ones
WORD_END = "</w>"

# oracle-mirrored training knobs
NUM_MERGES = 12
MIN_PAIR_COUNT = 2
#: words longer than this are excluded from the vocabulary (and from
#: the apply-side join) — the merge fold is O(len^2) per word, so an
#: unbounded whitespace token (a URL blob, a base64 run) would go
#: quadratic at web scale; every production trainer bounds or splits
#: such tokens, and no natural-language word exceeds this
MAX_WORD_CHARS = 64


def _word_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_documents(spark, sf_dir)
    tok = F.explode(tokens(F.col("text"))).alias("word")
    return (
        docs.select(tok)
        # chr(31) is the oracle's symbol delimiter — excluded from the
        # vocabulary in BOTH engines so the representations agree;
        # overlong pseudo-words are excluded for the O(len^2) bound
        .where(
            (F.col("word") != "")
            & (~F.col("word").contains("\x1f"))
            & (F.length("word") <= MAX_WORD_CHARS)
        )
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def _adjacent_pairs(seg):
    take = F.greatest(F.size(seg) - 1, F.lit(0))
    return F.zip_with(
        F.slice(seg, F.lit(1), take),
        F.slice(seg, F.lit(2), take),
        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
    )


def _apply_merge(seg, lhs: str, rhs: str):
    """Greedy left-to-right non-overlapping replacement of the adjacent
    pair (lhs, rhs) by the fused symbol — a fold that merges the
    current element into the accumulator's tail exactly when the tail
    is `lhs` and the element is `rhs` (equivalent to Sennrich's regex
    pass: a merged symbol is never itself re-merged this round because
    the fused token differs from `lhs`)."""
    fused = lhs + rhs
    return F.aggregate(
        seg,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(lhs))
            & (x == F.lit(rhs)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(F.lit(fused))
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


#: memoized training per input and knobs (memo.py) — the training pass
#: is a driver loop of k small jobs, so the merge table and the final
#: (localCheckpoint-ed, hence plan-free) segmentation are reused when
#: `bpe_fertility` runs after `bpe_train` in the same session.
_TRAIN_CACHE = SessionMemo("bpe.train")


def _train(
    spark: SparkSession,
    sf_dir: str,
    num_merges: int = NUM_MERGES,
    min_pair_count: int = MIN_PAIR_COUNT,
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Run the merge-learning loop; returns (merge table rows, the final
    per-word segmentation DataFrame (word, cnt, seg))."""
    return _TRAIN_CACHE.get_or_build(
        spark,
        (sf_dir, num_merges, min_pair_count),
        (sf_dir,),
        lambda: _build_train(spark, sf_dir, num_merges, min_pair_count),
    )


def _build_train(spark: SparkSession, sf_dir: str, num_merges: int,
                 min_pair_count: int) -> tuple[list, DataFrame]:
    words = _word_vocab(spark, sf_dir).select(
        "word",
        "cnt",
        F.concat(
            F.split(F.col("word"), ""), F.array(F.lit(WORD_END))
        ).alias("seg"),
    ).localCheckpoint(eager=True)

    merges: list[tuple[int, str, str, int]] = []
    for rank in range(num_merges):
        best = (
            words.select(F.explode(_adjacent_pairs(F.col("seg"))).alias("p"), "cnt")
            .groupBy(F.col("p.l").alias("lhs"), F.col("p.r").alias("rhs"))
            .agg(F.sum("cnt").alias("pair_count"))
            .orderBy(F.desc("pair_count"), F.asc("lhs"), F.asc("rhs"))
            .first()
        )
        if best is None or best["pair_count"] < min_pair_count:
            break
        merges.append((rank, best["lhs"], best["rhs"], int(best["pair_count"])))
        words = words.select(
            "word",
            "cnt",
            _apply_merge(F.col("seg"), best["lhs"], best["rhs"]).alias("seg"),
        ).localCheckpoint(eager=True)

    return merges, words


def learn_bpe_merges(
    spark: SparkSession,
    sf_dir: str,
    num_merges: int = NUM_MERGES,
    min_pair_count: int = MIN_PAIR_COUNT,
) -> DataFrame:
    """Learn the first `num_merges` BPE merges from the corpus. Returns
    (merge_rank, lhs, rhs, pair_count) ordered by rank; training stops
    early when the best remaining pair falls below `min_pair_count`
    (merging hapax pairs memorizes noise)."""
    merges, _ = _train(spark, sf_dir, num_merges, min_pair_count)
    return spark.createDataFrame(
        merges, "merge_rank long, lhs string, rhs string, pair_count long"
    ).orderBy("merge_rank")


def bpe_segment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained segmentation to the corpus: per document, the
    word count, the subword count under the learned merge table, and the
    fertility (subwords per word — THE tokenizer-quality number a
    training run budgets with). The join is corpus-tokens × final
    vocabulary on the word — every corpus word is in the vocabulary by
    construction, so this is an inner join that never drops rows."""
    _, words = _train(spark, sf_dir)
    seg_sizes = words.select("word", F.size("seg").alias("n_subwords_w"))

    docs = load_documents(spark, sf_dir)
    toks = (
        docs.select(
            "doc_id", F.explode(tokens(F.col("text"))).alias("word")
        )
        .where(
            (F.col("word") != "")
            & (~F.col("word").contains("\x1f"))
            & (F.length("word") <= MAX_WORD_CHARS)
        )
    )
    per_doc = (
        toks.join(F.broadcast(seg_sizes), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_subwords_w").alias("n_subwords"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0)).alias("n_words"),
            F.coalesce("n_subwords", F.lit(0)).alias("n_subwords"),
            F.when(
                F.coalesce("n_words", F.lit(0)) > 0,
                F.round(F.col("n_subwords") / F.col("n_words"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("fertility"),
        )
        .orderBy("doc_id")
    )
