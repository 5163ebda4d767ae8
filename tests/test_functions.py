"""Tests for corpus-level functions: dedup, similarity, textqa, multimodal,
streaming."""

import os
import shutil
import tempfile
import time

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_exact_dedup_finds_injected_dups(spark):
    from smartreader_spark.functions.dedup import exact_dedup_groups

    # the synthetic corpus has no exact dups; inject some via a temp table
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    dup = docs.limit(3).withColumn("doc_id", F.col("doc_id") + 100000)
    tmp = tempfile.mkdtemp(prefix="dedup_")
    try:
        docs.unionByName(dup).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        groups = exact_dedup_groups(spark, tmp).collect()
        assert len(groups) == 3
        assert all(g.n_docs == 2 for g in groups)
        # keeper is the min doc_id (the original)
        assert all(g.keeper_doc_id < 100000 for g in groups)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_minhash_catches_near_duplicates(spark):
    from smartreader_spark.functions.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    # near-dup: copy a doc and perturb ONE trailing word
    base = docs.filter(F.col("n_chars") > 300).limit(2)
    near = base.withColumn("doc_id", F.col("doc_id") + 100000).withColumn(
        "text", F.concat(F.col("text"), F.lit(" perturbed"))
    )
    tmp = tempfile.mkdtemp(prefix="minhash_")
    try:
        docs.unionByName(near).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        pairs = minhash_lsh_pairs(spark, tmp)
        hits = pairs.filter(F.col("doc_b") >= 100000).collect()
        ids = {(r.doc_a, r.doc_b) for r in hits}
        for r in base.select("doc_id").collect():
            assert (r.doc_id, r.doc_id + 100000) in ids
        jac = ngram_jaccard_pairs(spark, tmp, threshold=0.8)
        jhits = {(r.doc_a, r.doc_b): r.jaccard for r in jac.collect()}
        for r in base.select("doc_id").collect():
            assert jhits.get((r.doc_id, r.doc_id + 100000), 0) > 0.9
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_simhash_stable_and_bounded(spark):
    from smartreader_spark.functions.dedup import simhash_signatures

    sims = simhash_signatures(spark, SF).collect()
    assert len(sims) == 500
    assert all(0 <= r.simhash < 2 ** 16 for r in sims)


def test_ann_brute_force_topk(spark):
    from smartreader_spark.functions.similarity import brute_force_topk

    top = brute_force_topk(spark, SF, k=3, n_queries=4).collect()
    assert len(top) == 12
    by_q = {}
    for r in top:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        scores = [r.score for r in sorted(rows, key=lambda r: r.rank)]
        assert scores == sorted(scores, reverse=True)
        assert all(r.vec_id != q for r in rows)


def test_ann_lsh_subset_of_bruteforce_universe(spark):
    from smartreader_spark.functions.similarity import lsh_bucketed_topk

    approx = lsh_bucketed_topk(spark, SF, k=3, n_queries=4, n_planes=2).collect()
    # every neighbor must share the query's bucket → a valid vec_id, not self
    assert all(r.vec_id != r.query_id for r in approx)


def test_textqa_shapes(spark):
    from smartreader_spark.functions.textqa import (
        doc_fingerprints,
        language_guess,
        quality_scores,
        token_counts,
    )

    assert token_counts(spark, SF).count() == 500
    q = quality_scores(spark, SF).limit(5).collect()
    assert all(0 <= r.punct_ratio <= 1 and 0 <= r.stopword_ratio <= 1 for r in q)
    from smartreader_spark.functions.textqa import STOPWORDS

    lg = language_guess(spark, SF).limit(20).collect()
    assert all(r.lang_guess in set(STOPWORDS) | {"und"} for r in lg)
    fp = doc_fingerprints(spark, SF).limit(5).collect()
    assert all(len(r.fp_full) == 32 for r in fp)


# ---- multimodal plumbing ---------------------------------------------------

def test_media_table_and_image_features(spark):
    from smartreader_spark.functions.multimodal import (
        image_features,
        media_table_from_spans,
    )
    from smartreader_spark.pipeline.corpus import load_corpus

    media = media_table_from_spans(load_corpus(spark))
    n_media = media.count()
    assert n_media > 1000  # the fixture corpus is media-rich
    feats = image_features(media.limit(50), decoder="fake").collect()
    assert len(feats) == 50
    assert all(r.error is None for r in feats)
    assert all(len(r.feature) == 16 for r in feats)
    # determinism: same ref → same digest
    again = image_features(media.limit(50), decoder="fake").collect()
    assert {(r.media_ref, r.sha256) for r in feats} == {(r.media_ref, r.sha256) for r in again}


def test_multimodal_stub_decoder_reports_not_implemented(spark):
    from smartreader_spark.functions.multimodal import (
        image_features,
        media_table_from_spans,
    )
    from smartreader_spark.pipeline.corpus import load_corpus

    media = media_table_from_spans(load_corpus(spark)).limit(5)
    rows = image_features(media, decoder="stub").collect()
    assert all(r.error is not None and "NotImplemented" not in (r.sha256 or "") for r in rows)
    assert all("decode" in r.error for r in rows)


def test_frame_sampling_deterministic(spark):
    from smartreader_spark.functions.multimodal import (
        media_table_from_spans,
        sample_video_frames,
    )
    from smartreader_spark.pipeline.corpus import load_corpus

    media = media_table_from_spans(load_corpus(spark)).limit(20)
    a = sample_video_frames(media, decoder="fake").collect()
    b = sample_video_frames(media, decoder="fake").collect()
    key = lambda r: (r.doc_id, r.media_ref, r.frame_idx, r.frame_sha256)
    assert sorted(map(key, a)) == sorted(map(key, b))


# ---- streaming --------------------------------------------------------------

def test_streaming_extraction_end_to_end(spark):
    from smartreader_spark.pipeline.corpus import load_corpus
    from smartreader_spark.streaming import extraction_query

    tmp = tempfile.mkdtemp(prefix="stream_")
    src, sink, ckpt = f"{tmp}/src", f"{tmp}/sink", f"{tmp}/ckpt"
    try:
        load_corpus(spark).limit(12).repartition(3).write.parquet(src)
        q = extraction_query(spark, src, sink, ckpt)
        q.processAllAvailable()
        q.stop()
        out = spark.read.parquet(sink)
        assert out.count() == 12
        assert out.filter(F.col("error").isNotNull()).count() == 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_stateful_dedup_gate(spark):
    """applyInPandasWithState dedup: across TWO micro-batches containing
    the same content, only the first occurrence is marked is_first — the
    state store remembers fingerprints across triggers."""
    from smartreader_spark.streaming.dedup_stream import stream_dedup_exact

    tmp = tempfile.mkdtemp(prefix="sdedup_")
    src, ckpt = f"{tmp}/src", f"{tmp}/ckpt"
    os.makedirs(src)
    try:
        schema = "doc_id string, text string"
        # batch 1: two unique docs; batch 2: one dup of doc a + one new
        spark.createDataFrame(
            [("a", "the quick brown fox"), ("b", "hello world")], schema
        ).coalesce(1).write.mode("append").parquet(src)

        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        out = stream_dedup_exact(stream)
        q = (
            out.writeStream.format("memory")
            .queryName("dedup_gate")
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        spark.createDataFrame(
            [("a2", "THE  quick   brown fox"), ("c", "fresh content")], schema
        ).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        q.stop()

        rows = {r["doc_id"]: r for r in spark.sql("SELECT * FROM dedup_gate").collect()}
        assert len(rows) == 4
        assert rows["a"]["is_first"] is True
        assert rows["b"]["is_first"] is True
        assert rows["c"]["is_first"] is True
        # same normalized fingerprint as 'a', seen in an EARLIER trigger
        assert rows["a2"]["is_first"] is False
        assert rows["a2"]["fp"] == rows["a"]["fp"]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_simhash_bucket_cap_bounds_degenerate_corpus(spark):
    """Skew valve: 10k byte-identical docs collapse every (band, bandbits)
    bucket; without the cap the self-join is ~3·10^8 candidate rows. With
    the default cap the oversized buckets are dropped, the job completes
    fast, and no flood pair is emitted (identical docs are the exact-dedup
    stage's job). The audit companion reports exactly what was dropped."""
    from smartreader_spark.functions.dedup import (
        simhash_near_dup_pairs,
        simhash_oversized_buckets,
    )

    tmp = tempfile.mkdtemp(prefix="simhash_skew_")
    try:
        flood = spark.range(10_000).select(
            F.col("id").alias("doc_id"),
            F.lit("identical flood document text repeated everywhere").alias("text"),
        )
        distinct_pair = spark.createDataFrame(
            [(20_001, "alpha beta gamma delta epsilon zeta eta theta"),
             (20_002, "alpha beta gamma delta epsilon zeta eta iota")],
            "doc_id long, text string",
        )
        flood.unionByName(distinct_pair).coalesce(2).write.mode(
            "overwrite"
        ).parquet(f"{tmp}/documents.parquet")

        t0 = time.time()
        pairs = simhash_near_dup_pairs(spark, tmp, max_hamming=5).collect()
        assert time.time() - t0 < 120
        # every bucket holding ≥2 flood docs holds all 10k → dropped; any
        # surviving pair must come from the two distinct docs
        assert all(r.doc_a > 20_000 and r.doc_b > 20_000 for r in pairs)
        assert len(pairs) <= 1

        over = simhash_oversized_buckets(spark, tmp).collect()
        assert len(over) == 6
        assert all(r.bucket_n >= 10_000 for r in over)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@pytest.mark.parametrize("n_bits", [0, 61, 64])
def test_simhash_wide_rejects_out_of_range_bits(spark, n_bits):
    from smartreader_spark.functions.dedup import simhash_wide_signatures

    docs = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError, match="n_bits"):
        simhash_wide_signatures(docs, n_bits=n_bits)


def _cosine(a, b):
    from smartreader_spark.functions.similarity import _dot, _norm

    return _dot(a, b) / (_norm(a) * _norm(b))


def _embedding_pairs_exact_twin(spark, sf_dir, threshold):
    """All-pairs exact twin of embedding_near_dup_pairs: every pair is a
    candidate, so it is correct at any threshold but O(n²) — the recall
    reference for the SRP-bucketed operator, not a production path."""
    from smartreader_spark.functions.similarity import _load

    emb = _load(spark, sf_dir)
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine", F.round(_cosine(F.col("ea"), F.col("eb")), 6))
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
        .orderBy("vec_a", "vec_b")
    )


def test_embedding_exact_mode_is_recall_superset(spark):
    """The exact twin returns ALL above-threshold pairs; the SRP-bucketed
    operator must be a subset of it at the same threshold, with identical
    cosines on the shared pairs."""
    from smartreader_spark.functions.dedup import embedding_near_dup_pairs

    approx = {
        (r.vec_a, r.vec_b): r.cosine
        for r in embedding_near_dup_pairs(spark, SF, threshold=0.3).collect()
    }
    exact = {
        (r.vec_a, r.vec_b): r.cosine
        for r in _embedding_pairs_exact_twin(spark, SF, threshold=0.3).collect()
    }
    assert set(approx) <= set(exact)
    assert all(exact[k] == v for k, v in approx.items())
    assert len(exact) >= 1


def _embedding_pairs_jvm_twin(spark, sf_dir, threshold, n_planes=4):
    """Pure-expression twin of embedding_near_dup_pairs:
    the same SRP candidates, scored by a salted bucket self-join with
    per-vector norms computed once and the per-pair dot as the
    interpreted zip_with/aggregate fold. (Unrolling that 64-term dot
    measured SLOWER at sf1.0 — 35.9 s vs 13.0 s over 13.0M pairs — because
    it blows the JVM's 64 KB generated-method limit and falls out of
    codegen.) The repartition counts are explicit so AQE cannot coalesce
    the bucket² pair expansion onto two tasks."""
    from smartreader_spark.functions.similarity import (
        _dim_of,
        _dot,
        _load,
        _norm,
        _srp_bucket,
    )
    from smartreader_spark.layout import spread

    dim = _dim_of(spark, sf_dir)
    n_salt = 32  # slices per bucket (B-side replication)
    n_part = max(2 * spark.sparkContext.defaultParallelism, 16)
    emb = spread(_load(spark, sf_dir)).withColumn(
        "bucket", _srp_bucket(F.col("embedding"), n_planes, dim)
    ).withColumn("nrm", _norm(F.col("embedding")))
    a = emb.select(
        "bucket",
        F.pmod(F.col("vec_id"), F.lit(n_salt)).cast("int").alias("salt"),
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    ).repartition(n_part, "bucket", "salt")
    b = emb.select(
        "bucket",
        F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))).alias("salt"),
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    ).repartition(n_part, "bucket", "salt")
    return (
        a.join(b, ["bucket", "salt"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn(
            "cosine",
            F.round(_dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 6),
        )
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
        .orderBy("vec_a", "vec_b")
    )


def test_embedding_pairs_arrow_matches_jvm(spark):
    """The cogrouped-Arrow pair stage must be BIT-identical to the
    pure-JVM salted-join twin — same pair set, same float64 cosine bits
    (np.cumsum is the same sequential left fold as aggregate/zip_with;
    survivor rounding is the ann_pq Decimal half-up discipline)."""
    from smartreader_spark.functions.dedup import embedding_near_dup_pairs

    arrow = embedding_near_dup_pairs(spark, SF, threshold=0.3).collect()
    jvm = _embedding_pairs_jvm_twin(spark, SF, threshold=0.3).collect()
    assert len(arrow) == len(jvm) >= 1
    for ra, rj in zip(arrow, jvm):
        assert (ra.vec_a, ra.vec_b) == (rj.vec_a, rj.vec_b)
        assert ra.cosine.hex() == rj.cosine.hex()


def _embedding_ops():
    from smartreader_spark.functions import similarity as S
    from smartreader_spark.functions.dedup import embedding_near_dup_pairs

    return {
        "brute_force_topk": S.brute_force_topk,
        "lsh_bucketed_topk": S.lsh_bucketed_topk,
        "ivf_topk": S.ivf_topk,
        "ann_pq": S.ann_pq,
        "semantic_dedup": S.semantic_dedup,
        "embedding_near_dup_pairs": embedding_near_dup_pairs,
    }


EMBEDDING_OPS = list(_embedding_ops())
# the operators that collect a codebook / PQ training sample by vec_id
CODEBOOK_OPS = ["ivf_topk", "ann_pq", "semantic_dedup"]


@pytest.fixture(scope="module")
def embedding_tables(spark, tmp_path_factory):
    """An empty `embeddings` table; the sf table with every vec_id shifted
    by 64, past every query, codebook and training range; and shifted by
    8, past the query range only."""
    root = tmp_path_factory.mktemp("embeddings")
    spark.createDataFrame([], "vec_id bigint, embedding array<float>").write.parquet(
        f"{root}/empty/embeddings.parquet"
    )
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    for name, shift in (("shifted", 64), ("no_queries", 8)):
        emb.withColumn("vec_id", F.col("vec_id") + shift).write.parquet(
            f"{root}/{name}/embeddings.parquet"
        )
    return {n: f"{root}/{n}" for n in ("empty", "shifted", "no_queries")}


@pytest.mark.parametrize("name", EMBEDDING_OPS)
def test_embedding_op_empty_table(spark, embedding_tables, name):
    """An empty table gives the operator's typed empty result: no rows,
    and the schema of the result on real input, nullability included."""
    op = _embedding_ops()[name]
    out = op(spark, embedding_tables["empty"])
    assert out.collect() == []
    assert out.schema == op(spark, SF).schema


@pytest.mark.parametrize("name", CODEBOOK_OPS)
def test_embedding_op_missing_codebook_raises(spark, embedding_tables, name):
    """A non-empty table without the vec_id range the operator samples
    its codebook from is an input error, named with that range."""
    with pytest.raises(ValueError, match=r"vec_id in \[\d+, \d+\)"):
        _embedding_ops()[name](spark, embedding_tables["shifted"])


@pytest.mark.parametrize("name", ["brute_force_topk", "lsh_bucketed_topk",
                                  "ivf_topk", "ann_pq"])
def test_embedding_topk_without_queries_is_empty(spark, embedding_tables, name):
    """No vector in the query range: every top-k operator returns no
    rows, with its codebook or training range still present."""
    assert _embedding_ops()[name](spark, embedding_tables["no_queries"]).collect() == []


# ---------------------------------------------------------------------------
# corpus-curation ops (functions/curation.py)
# ---------------------------------------------------------------------------

def _write_docs(spark, rows):
    """documents.parquet-shaped temp table: (doc_id, text, lang, source)."""
    tmp = tempfile.mkdtemp(prefix="curation_")
    df = spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, t, s in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    return tmp


def test_repetition_scores_hand_values(spark):
    from smartreader_spark.functions.curation import repetition_scores

    tmp = _write_docs(spark, [
        (1, "a b a b a b", "s"),            # bigrams: 'a b'x3 'b a'x2
        (2, "w x y z q r", "s"),            # all grams distinct
        (3, "solo", "s"),                    # too short for any gram
    ])
    try:
        rows = {r.doc_id: r for r in repetition_scores(spark, tmp).collect()}
        r1 = rows[1]
        assert r1.n_tokens == 6
        assert r1.top_bigram_frac == 0.6          # 3/5
        assert r1.dup_bigram_frac == 1.0          # every bigram repeats
        assert r1.dup_trigram_frac == 1.0         # 'a b a'x2 'b a b'x2
        assert r1.passes_repetition is False
        r2 = rows[2]
        assert r2.top_bigram_frac == 0.2          # 1/5, at the threshold
        assert r2.dup_trigram_frac == 0.0
        assert r2.passes_repetition is True
        r3 = rows[3]
        assert r3.n_tokens == 1
        assert (r3.top_bigram_frac, r3.dup_bigram_frac, r3.dup_trigram_frac) \
            == (0.0, 0.0, 0.0)
        assert r3.passes_repetition is True
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_dedup_chunks_cross_doc_and_short_doc(spark):
    from smartreader_spark.functions.curation import dedup_chunks_corpus

    shared = " ".join(f"tok{i}" for i in range(8))       # one full chunk
    uniq1 = " ".join(f"one{i}" for i in range(8))
    uniq2 = " ".join(f"two{i}" for i in range(8))
    tmp = _write_docs(spark, [
        (1, f"{shared} {uniq1}", "s"),   # chunks: shared, uniq1
        (2, f"{shared} {uniq2}", "s"),   # chunks: shared, uniq2
        (3, "short doc under eight", "s"),
    ])
    try:
        rows = {r.doc_id: r for r in dedup_chunks_corpus(spark, tmp).collect()}
        assert (rows[1].n_chunks, rows[1].n_dup_chunks) == (2, 1)
        assert rows[1].dup_chunk_frac == 0.5
        assert rows[1].keep_doc is True            # 0.5 <= 0.5 boundary
        assert (rows[2].n_chunks, rows[2].n_dup_chunks) == (2, 1)
        assert (rows[3].n_chunks, rows[3].n_dup_chunks) == (0, 0)
        assert rows[3].dup_chunk_frac == 0.0 and rows[3].keep_doc is True
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_dedup_chunks_within_doc_repeat_counts(spark):
    from smartreader_spark.functions.curation import dedup_chunks_corpus

    block = " ".join(f"rep{i}" for i in range(8))
    tmp = _write_docs(spark, [(1, f"{block} {block}", "s")])
    try:
        r = dedup_chunks_corpus(spark, tmp).collect()[0]
        # a self-repeating doc is a dedup target: both chunks duplicated
        assert (r.n_chunks, r.n_dup_chunks) == (2, 2)
        assert r.dup_chunk_frac == 1.0 and r.keep_doc is False
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_source_cap_deterministic_quota(spark):
    from smartreader_spark.functions.curation import SOURCE_CAP, source_cap_sample

    rows = [(i, f"doc number {i} text", "big") for i in range(SOURCE_CAP + 5)]
    rows += [(100 + i, f"small source doc {i}", "small") for i in range(3)]
    tmp = _write_docs(spark, rows)
    try:
        out1 = source_cap_sample(spark, tmp).collect()
        out2 = source_cap_sample(spark, tmp).collect()
        assert out1 == out2                         # deterministic draw
        by_src = {}
        for r in out1:
            by_src.setdefault(r.source, []).append(r.rank_in_source)
        assert len(by_src["big"]) == SOURCE_CAP     # capped
        assert sorted(by_src["big"]) == list(range(1, SOURCE_CAP + 1))
        assert len(by_src["small"]) == 3            # under-cap kept whole
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_source_temperature_sample_rates_and_determinism(spark):
    import math

    from smartreader_spark.functions.curation import source_temperature_sample

    rows = [(i, f"doc {i} text", "big") for i in range(100)]
    rows += [(200 + i, f"mid doc {i}", "mid") for i in range(25)]
    rows += [(400 + i, f"tiny doc {i}", "tiny") for i in range(4)]
    tmp = _write_docs(spark, rows)
    try:
        out1 = source_temperature_sample(spark, tmp).collect()
        out2 = source_temperature_sample(spark, tmp).collect()
        assert out1 == out2                          # deterministic draw
        by = {}
        for r in out1:
            by.setdefault(r.source, []).append(r)
        # the smallest source keeps everything: rate exactly 1.0
        assert all(r.rate == 1.0 and r.keep for r in by["tiny"])
        # rate_s = sqrt(n_min / n_s) at T = 1/2
        assert by["big"][0].rate == round(math.sqrt(4 / 100), 6)   # 0.2
        assert by["mid"][0].rate == round(math.sqrt(4 / 25), 6)    # 0.4
        # realized keep fractions sit in the plausible band of the rate
        kept_big = sum(r.keep for r in by["big"])
        assert 4 <= kept_big <= 40                   # p=0.2, n=100
        kept_mid = sum(r.keep for r in by["mid"])
        assert 1 <= kept_mid <= 20                   # p=0.4, n=25
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_sequence_pack_layout(spark):
    """Replays the per-source salted cumsum layout in pure Python and
    checks sequence ids/offsets/span counts, including a doc that spans
    a 2048-token boundary and the empty-doc one-token clamp."""
    import hashlib

    from smartreader_spark.functions.curation import (
        PACK_SALT,
        SEQ_TOKENS,
        sequence_pack,
    )

    rows = [
        (1, " ".join(f"w{i}" for i in range(3000)), "a"),
        (2, " ".join(f"x{i}" for i in range(100)), "a"),
        (3, " ".join(f"y{i}" for i in range(2000)), "a"),
        (4, "", "b"),  # clamps to 1 token
        (5, "solo doc here", "b"),
    ]
    tmp = _write_docs(spark, rows)
    try:
        out1 = sequence_pack(spark, tmp).collect()
        out2 = sequence_pack(spark, tmp).collect()
        assert out1 == out2  # deterministic layout
        by_id = {r.doc_id: r for r in out1}
        n_tok = {1: 3000, 2: 100, 3: 2000, 4: 1, 5: 3}
        assert {i: by_id[i].n_tokens for i in n_tok} == n_tok
        for src, ids in (("a", [1, 2, 3]), ("b", [4, 5])):
            order = sorted(
                ids,
                key=lambda i: hashlib.md5(
                    f"{PACK_SALT}|{i}".encode()
                ).hexdigest(),
            )
            off = 0
            for i in order:
                r = by_id[i]
                assert r.source == src
                assert r.seq_first == off // SEQ_TOKENS, i
                assert r.seq_offset == off % SEQ_TOKENS, i
                last = (off + n_tok[i] - 1) // SEQ_TOKENS
                assert r.n_seqs == last - r.seq_first + 1, i
                off += n_tok[i]
        # source "a" holds 5100 tokens: some doc must span a boundary
        assert any(by_id[i].n_seqs >= 2 for i in (1, 2, 3))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_curation_pipeline_and_funnel_consistent(spark):
    """The funnel's stage counts must agree with the composed pipeline's
    output and be monotonically non-increasing."""
    import __spark_entry__ as e

    qs = e.queries()
    surv = qs["curation_pipeline"](spark, SF).collect()
    funnel = {r.stage: r.n_docs for r in qs["curation_funnel"](spark, SF).collect()}
    assert funnel["4_after_chunk_dedup"] == len(surv)
    counts = [funnel[k] for k in sorted(funnel)]
    assert counts == sorted(counts, reverse=True)
    assert funnel["1_total"] == 500  # sf0.001 documents table size


def test_pii_scrub_organic_text(spark):
    """scrub_cols on organic (non-injected) PII: counts and the exact
    redacted string."""
    from smartreader_spark.functions.privacy import scrub_cols

    text = (
        "mail bob.smith+x@corp.example.org or admin@host.io, "
        "server 192.168.0.1 and 10.0.0.255, call +44 20 7946 0958 now"
    )
    df = spark.createDataFrame([(text,)], "text string")
    n_e, n_i, n_p, red = scrub_cols(F.col("text"))
    row = df.select(
        n_e.alias("e"), n_i.alias("i"), n_p.alias("p"), red.alias("r")
    ).collect()[0]
    assert (row.e, row.i, row.p) == (2, 2, 1)
    assert row.r == (
        "mail [EMAIL] or [EMAIL], server [IPV4] and [IPV4], "
        "call [PHONE] now"
    )


def test_pii_scrub_clean_text_untouched(spark):
    from smartreader_spark.functions.privacy import scrub_cols

    text = "no contact info here, just words and the number 42."
    df = spark.createDataFrame([(text,)], "text string")
    n_e, n_i, n_p, red = scrub_cols(F.col("text"))
    row = df.select(
        n_e.alias("e"), n_i.alias("i"), n_p.alias("p"), red.alias("r")
    ).collect()[0]
    assert (row.e, row.i, row.p) == (0, 0, 0)
    assert row.r == text


def test_decontaminate_flags_planted_overlap(spark):
    """doc 0 (benchmark slice: 0 % 97 == 0) shares an 8-gram with doc 1
    but not doc 2; only doc 1 is contaminated, benchmark rows excluded."""
    from smartreader_spark.functions.curation import decontaminate_ngrams

    shared = " ".join(f"w{i}" for i in range(8))
    rows = [
        (0, f"benchmark prefix {shared} benchmark suffix", "bench"),
        (1, f"a copycat document quoting {shared} verbatim here", "web"),
        (2, "entirely unrelated words with no overlap at all present", "web"),
    ]
    tmp = _write_docs(spark, rows)
    try:
        out = {r.doc_id: r for r in decontaminate_ngrams(spark, tmp).collect()}
        assert set(out) == {1, 2}                     # benchmark excluded
        assert out[1].contaminated and out[1].n_overlap >= 1
        assert not out[2].contaminated and out[2].n_overlap == 0
        assert out[2].n_grams > 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_decontaminate_short_doc_zero_grams(spark):
    """A doc shorter than the 8-token gram width has zero grams but must
    still appear in the output as clean (left join + coalesce path)."""
    from smartreader_spark.functions.curation import decontaminate_ngrams

    rows = [
        (0, " ".join(f"b{i}" for i in range(12)), "bench"),
        (1, "too short", "web"),
        (2, "exactly eight tokens right here makes one gram", "web"),
    ]
    tmp = _write_docs(spark, rows)
    try:
        out = {r.doc_id: r for r in decontaminate_ngrams(spark, tmp).collect()}
        assert set(out) == {1, 2}
        assert out[1].n_grams == 0 and out[1].n_overlap == 0
        assert out[1].contaminated is False
        assert out[2].n_grams == 1 and out[2].contaminated is False
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_pii_scrub_adjacency_order(spark):
    """Pins the overlap semantics when PII classes sit adjacent: the
    n_* columns are independent detector hits on the RAW text (so the
    dotted quad inside an email host counts as an IPv4 hit — the
    standard detector-metric convention), while the redaction chain is
    sequential (email first), so an overlapping span is redacted exactly
    once under the earlier class. The DuckDB oracle states the same
    semantics (counts via regexp_extract_all on the unredacted text)."""
    from smartreader_spark.functions.privacy import scrub_cols

    text = "x@10.0.0.1.example.com then 10.0.0.1 +1 5551234567 end"
    df = spark.createDataFrame([(text,)], "text string")
    n_e, n_i, n_p, red = scrub_cols(F.col("text"))
    row = df.select(
        n_e.alias("e"), n_i.alias("i"), n_p.alias("p"), red.alias("r")
    ).collect()[0]
    # detector hits on raw text: 1 email, 2 IPv4 (one inside the email
    # host), 1 phone — but the redacted string carries one [IPV4] only,
    # because the email redaction already consumed its host
    assert (row.e, row.i, row.p) == (1, 2, 1)
    assert row.r == "[EMAIL] then [IPV4] [PHONE] end"


def test_unigram_surprisal_oov_and_ordering(spark):
    """Pins the LM-filter semantics on a hand-computable corpus: common-
    vocabulary docs score the closed-form add-one surprisal; an all-hapax
    doc (every token below min_count) takes exactly the OOV surprisal
    ln(N+V+1); and a tightened threshold fails the gibberish doc only."""
    import math

    from smartreader_spark.functions.textqa import unigram_surprisal

    tmp = tempfile.mkdtemp(prefix="unigram_")
    try:
        rows = [
            (0, "the cat sat on the mat", "a"),
            (1, "the cat sat on the mat", "a"),
            (2, "zq1 zq2 zq3 zq4", "b"),
        ]
        spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        ).write.parquet(f"{tmp}/documents.parquet")

        out = {
            r["doc_id"]: r
            for r in unigram_surprisal(spark, tmp, max_mean_nats=2.0).collect()
        }
        # counts: the=4 cat=sat=on=mat=2, zq*=1 each -> N=16, V=5 kept,
        # denom=22; micro-nat quantization makes these exact
        q = lambda x: round(math.log(x) * 1e6)
        mean_common = round((2 * q(22 / 5) + 4 * q(22 / 3)) / 6e6, 6)
        mean_oov = round(4 * q(22.0) / 4e6, 6)
        assert out[0]["mean_surprisal_nats"] == mean_common
        assert out[1]["mean_surprisal_nats"] == mean_common
        assert out[2]["mean_surprisal_nats"] == mean_oov
        assert out[2]["n_tokens"] == 4
        assert mean_oov > mean_common
        assert (out[0]["passes_lm"], out[1]["passes_lm"], out[2]["passes_lm"]) == (
            True, True, False,
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_bigram_surprisal_context_sensitivity(spark):
    """Pins the order-2 LM semantics on a hand-computable corpus: the
    bigram gate is CONTEXT-sensitive — a doc whose tokens are common but
    whose transitions are scrambled scores high (every scrambled bigram
    is hapax and takes its context's OOV surprisal), while the unigram
    gate cannot tell the two docs apart."""
    import math

    from smartreader_spark.functions.textqa import bigram_surprisal

    tmp = tempfile.mkdtemp(prefix="bigram_")
    try:
        rows = [
            (0, "the cat sat on the mat", "a"),
            (1, "the cat sat on the mat", "a"),
            (2, "the mat sat cat on zz", "b"),
        ]
        spark.createDataFrame(
            rows, "doc_id long, text string, source string"
        ).write.parquet(f"{tmp}/documents.parquet")

        out = {
            r["doc_id"]: r
            for r in bigram_surprisal(spark, tmp, max_mean_nats=1.5).collect()
        }
        # dict counts: (the,cat)=2 (cat,sat)=2 (sat,on)=2 (on,the)=2
        # (the,mat)=3, five hapax from doc2; ctx: the=5 cat=sat=on=3
        # mat=1; V = 6 successor types + 1 = 7
        q = lambda x: round(math.log(x) * 1e6)
        mean_fluent = round((q(4) + 3 * q(10 / 3) + q(3)) / 5e6, 6)
        mean_scrambled = round((q(3) + q(8) + 3 * q(10)) / 5e6, 6)
        assert out[0]["mean_surprisal_nats"] == mean_fluent
        assert out[1]["mean_surprisal_nats"] == mean_fluent
        assert out[2]["mean_surprisal_nats"] == mean_scrambled
        assert out[2]["n_bigrams"] == 5
        assert mean_scrambled > mean_fluent
        assert (out[0]["passes_lm"], out[1]["passes_lm"], out[2]["passes_lm"]) == (
            True, True, False,
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_dataset_split_stable_under_growth(spark):
    """The property hash splits exist for: a document's assignment
    depends only on its id, so re-running over a grown (here: shrunk)
    corpus never reassigns existing documents; fractions land near the
    0.9/0.05/0.05 boundaries."""
    from smartreader_spark.functions.curation import dataset_split

    full = {r["doc_id"]: r["split"]
            for r in dataset_split(spark, SF).collect()}
    n = len(full)
    fr_train = sum(1 for s in full.values() if s == "train") / n
    fr_valid = sum(1 for s in full.values() if s == "validation") / n
    assert 0.85 <= fr_train <= 0.95 and 0.02 <= fr_valid <= 0.08

    tmp = tempfile.mkdtemp(prefix="split_")
    try:
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        docs.where(F.col("doc_id") % 3 == 0).write.parquet(
            f"{tmp}/documents.parquet"
        )
        sub = {r["doc_id"]: r["split"]
               for r in dataset_split(spark, tmp).collect()}
        assert sub and all(full[d] == s for d, s in sub.items())
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_training_layout_composes_gates_split_and_packing(spark):
    """training_layout's rows are exactly curation survivors ∩ train
    split, and its per-source offsets are the contiguous cumsum of the
    survivors' token counts (i.e. packing genuinely ran AFTER the
    gates, not over the raw corpus)."""
    from smartreader_spark.functions.curation import (
        curation_pipeline,
        dataset_split,
        training_layout,
    )

    layout = training_layout(spark, SF).collect()
    surv = {r["doc_id"] for r in curation_pipeline(spark, SF).collect()}
    train = {r["doc_id"] for r in dataset_split(spark, SF).collect()
             if r["split"] == "train"}
    assert {r["doc_id"] for r in layout} == (surv & train)

    by_source = {}
    for r in layout:
        by_source.setdefault(r["source"], []).append(r)
    assert by_source
    for rows in by_source.values():
        rows.sort(key=lambda r: r["pack_key"])
        cum = 0
        for r in rows:
            assert r["seq_first"] == cum // 2048
            assert r["seq_offset"] == cum % 2048
            cum += r["n_tokens"]
            assert r["n_seqs"] == (cum - 1) // 2048 - r["seq_first"] + 1
