"""BPE tokenizer training — differential gates.

Three independent restatements of the trainer must agree:
  * the Spark driver-loop implementation (functions/bpe.py),
  * the classic pure-Python Sennrich algorithm on the word-frequency
    dict (here),
  * the DuckDB unrolled-CTE oracle (__spark_entry__._bpe_train_ctes),
    whose merge application is a delimiter-wrapped string `replace` —
    the fold≡replace equivalence that oracle relies on is property-
    tested here with Hypothesis, and its early-stop path (not reachable
    at sf scale, where all 12 merges fire) is pinned on a handcrafted
    corpus.
"""

import re
import shutil
import tempfile
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# the pure-Python reference twin (classic Sennrich BPE on the word dict)
# ---------------------------------------------------------------------------


def _py_tokens(text: str) -> list[str]:
    from smartreader_spark.functions.bpe import MAX_WORD_CHARS

    norm = re.sub(r"\s+", " ", text.strip().lower())
    return [
        w for w in norm.split(" ")
        if w and "\x1f" not in w and len(w) <= MAX_WORD_CHARS
    ]


def _py_apply_merge(seg: list[str], lhs: str, rhs: str) -> list[str]:
    """The Spark fold's exact semantics: greedy left-to-right merge of
    adjacent (lhs, rhs) into lhs+rhs, never rescanning the fused token."""
    out: list[str] = []
    for x in seg:
        if out and out[-1] == lhs and x == rhs:
            out[-1] = lhs + rhs
        else:
            out.append(x)
    return out


def _py_bpe(texts, num_merges=12, min_pair=2):
    vocab: Counter = Counter()
    for t in texts:
        vocab.update(_py_tokens(t))
    segs = {w: list(w) + ["</w>"] for w in vocab}
    merges = []
    for rank in range(num_merges):
        pairs: Counter = Counter()
        for w, c in vocab.items():
            s = segs[w]
            for i in range(len(s) - 1):
                pairs[(s[i], s[i + 1])] += c
        if not pairs:
            break
        (lhs, rhs), pc = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if pc < min_pair:
            break
        merges.append((rank, lhs, rhs, pc))
        segs = {w: _py_apply_merge(s, lhs, rhs) for w, s in segs.items()}
    return merges, segs


def _corpus_texts():
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF}/documents.parquet", columns=["doc_id", "text"])
    return dict(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))


def test_bpe_merges_match_pure_python_twin(spark):
    from smartreader_spark.functions.bpe import learn_bpe_merges

    got = [
        (r["merge_rank"], r["lhs"], r["rhs"], r["pair_count"])
        for r in learn_bpe_merges(spark, SF).collect()
    ]
    want, _ = _py_bpe(_corpus_texts().values())
    assert got == want
    assert len(got) > 0


def test_bpe_fertility_matches_pure_python_twin(spark):
    from smartreader_spark.functions.bpe import bpe_segment_counts

    texts = _corpus_texts()
    _, segs = _py_bpe(texts.values())
    for r in bpe_segment_counts(spark, SF).collect():
        toks = _py_tokens(texts[r["doc_id"]])
        n_sub = sum(len(segs[w]) for w in toks)
        assert r["n_words"] == len(toks)
        assert r["n_subwords"] == n_sub
        want_f = (
            float(
                Decimal(n_sub / len(toks)).quantize(
                    Decimal("1e-6"), ROUND_HALF_UP
                )
            )
            if toks
            else 0.0
        )
        assert r["fertility"] == pytest.approx(want_f, abs=1e-9)


# ---------------------------------------------------------------------------
# the fold ≡ wrapped-string-replace equivalence the DuckDB oracle uses
# ---------------------------------------------------------------------------

_SYM = st.text(alphabet="ab<>/w", min_size=1, max_size=3)


@settings(max_examples=300, deadline=None)
@given(
    seg=st.lists(_SYM, min_size=0, max_size=12),
    lhs=_SYM,
    rhs=_SYM,
)
def test_fold_equals_wrapped_replace(seg, lhs, rhs):
    d = "\x1f"
    s = d + (d + d).join(seg) + d if seg else ""
    replaced = s.replace(d + lhs + d + d + rhs + d, d + lhs + rhs + d)
    via_replace = replaced.strip(d).split(d + d) if seg else []
    assert via_replace == _py_apply_merge(seg, lhs, rhs)


# ---------------------------------------------------------------------------
# early-stop parity: Spark loop break == oracle's empty-argmax rounds
# ---------------------------------------------------------------------------


def test_bpe_overlong_word_excluded(spark):
    """The MAX_WORD_CHARS valve: a 65-char pseudo-word (URL blob shape)
    is excluded from the vocabulary and the apply-side token stream in
    both engines — without it the merge fold would be O(len^2) on
    unbounded junk tokens at corpus scale."""
    import duckdb

    import __spark_entry__ as entrymod
    from smartreader_spark.functions.bpe import (
        bpe_segment_counts,
        learn_bpe_merges,
    )

    tmp = tempfile.mkdtemp(prefix="bpelong_")
    try:
        blob = "x" * 65
        rows = [(0, f"ab ab {blob}"), (1, blob)]
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.parquet(f"{tmp}/documents.parquet")

        merges = [
            (r["merge_rank"], r["lhs"], r["rhs"], r["pair_count"])
            for r in learn_bpe_merges(spark, tmp).collect()
        ]
        # the blob (which would carry 128 'xx' pairs) must not appear:
        # only the ab-family merges survive
        assert merges == [(0, "a", "b", 2), (1, "ab", "</w>", 2)]

        fert = {
            r["doc_id"]: (r["n_words"], r["n_subwords"])
            for r in bpe_segment_counts(spark, tmp).collect()
        }
        assert fert == {0: (2, 2), 1: (0, 0)}

        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{tmp}/documents.parquet/*.parquet')"
        )
        o = con.execute(entrymod.oracle_sql()["bpe_train"]).fetchall()
        assert [tuple(r) for r in o] == merges
        of = con.execute(entrymod.oracle_sql()["bpe_fertility"]).fetchall()
        assert {r[0]: (r[1], r[2]) for r in of} == fert
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_bpe_early_stop_parity_with_oracle(spark):
    import duckdb

    import __spark_entry__ as entrymod
    from smartreader_spark.functions.bpe import (
        bpe_segment_counts,
        learn_bpe_merges,
    )

    tmp = tempfile.mkdtemp(prefix="bpetiny_")
    try:
        rows = [(0, "ab ab"), (1, "cd")]
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.parquet(f"{tmp}/documents.parquet")

        merges = [
            (r["merge_rank"], r["lhs"], r["rhs"], r["pair_count"])
            for r in learn_bpe_merges(spark, tmp).collect()
        ]
        # round 0: (a,b)x2 beats the tied (b,</w>) on lhs ASC; round 1
        # fuses the whole word; round 2's best pair has count 1 < 2 -> stop
        assert merges == [(0, "a", "b", 2), (1, "ab", "</w>", 2)]

        fert = {
            r["doc_id"]: (r["n_words"], r["n_subwords"], r["fertility"])
            for r in bpe_segment_counts(spark, tmp).collect()
        }
        assert fert == {0: (2, 2, 1.0), 1: (1, 3, 3.0)}

        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{tmp}/documents.parquet/*.parquet')"
        )
        o_train = con.execute(entrymod.oracle_sql()["bpe_train"]).fetchall()
        assert [tuple(r) for r in o_train] == merges
        o_fert = con.execute(entrymod.oracle_sql()["bpe_fertility"]).fetchall()
        assert {r[0]: (r[1], r[2], r[3]) for r in o_fert} == fert
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
