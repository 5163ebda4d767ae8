"""Connected-components dedup clustering + IVF ANN.

The components operator is differentially checked two ways: handcrafted
graphs with known components here (chains — the case pairwise loser
rules get wrong — cycles, bridges, isolates), and the DuckDB
recursive-CTE transitive closure in the oracle gate (dedup_components).
The IVF test restates the whole operator independently in pure Python
(sequential-fold dot products, half-up rounding — the exact arithmetic
both engines use) and requires row-identical output.
"""

import math
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _components(spark, n_vertices, edge_list):
    from smartreader_spark.functions.components import connected_components

    verts = spark.createDataFrame(
        [(i,) for i in range(n_vertices)], "doc_id long"
    )
    edges = spark.createDataFrame(
        [(a, b) for a, b in edge_list] or [(0, 0)], "doc_a long, doc_b long"
    )
    if not edge_list:
        edges = edges.limit(0)
    out = connected_components(verts, edges)
    return {r["doc_id"]: r["component"] for r in out.collect()}


def test_components_chain_keeps_one_survivor(spark):
    # A~B, B~C, C~D near-dup chain: pairwise loser-drop would kill B, C
    # AND D; component semantics keeps exactly one representative (0)
    got = _components(spark, 6, [(0, 1), (1, 2), (2, 3)])
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 5}


def test_components_cycle_and_bridge(spark):
    # cycle 0-1-2-0, star at 5 bridged to the cycle via (2, 5), pair 7-8
    got = _components(
        spark, 9, [(0, 1), (1, 2), (2, 0), (5, 6), (2, 5), (7, 8)]
    )
    assert got == {0: 0, 1: 0, 2: 0, 5: 0, 6: 0, 3: 3, 4: 4, 7: 7, 8: 7}


def test_components_long_path_converges(spark):
    # a 64-vertex path is the worst case for naive min propagation
    # (diameter 63); pointer jumping must converge inside MAX_ITER=25
    n = 64
    got = _components(spark, n, [(i, i + 1) for i in range(n - 1)])
    assert got == {i: 0 for i in range(n)}


def test_components_no_edges_is_identity(spark):
    got = _components(spark, 5, [])
    assert got == {i: i for i in range(5)}


def test_components_observed_convergence_is_stable(spark):
    # r7: convergence detection rides the checkpoint job as an observed
    # metric. Pin that the fixpoint detection still fires (rounds stay
    # log-like on the worst-case path, NOT diameter-bound) and that a
    # rerun is label- and round-identical.
    import smartreader_spark.functions.components as C

    n = 64
    edges = [(i, i + 1) for i in range(n - 1)]
    got1 = _components(spark, n, edges)
    r1 = C.LAST_ROUNDS
    got2 = _components(spark, n, edges)
    assert got1 == got2 == {i: 0 for i in range(n)}
    assert r1 == C.LAST_ROUNDS
    assert 1 < r1 <= 10  # pointer jumping: ~log2(63), never 63


def test_components_convergence_sum_falls_back_when_metrics_never_arrive(
    spark, monkeypatch
):
    # a round whose observed label sum is never posted must not hang:
    # the bounded wait runs the sum as an aggregate, same labels, same
    # rounds
    import smartreader_spark.functions.components as C
    from smartreader_spark import observed
    from test_checkpoint import NeverPosted

    n = 16
    edges = [(i, i + 1) for i in range(n - 1)]
    _components(spark, n, edges)
    rounds = C.LAST_ROUNDS
    monkeypatch.setattr(C, "Observation", NeverPosted)
    monkeypatch.setattr(observed, "OBSERVED_WAIT_S", 0.1)
    assert _components(spark, n, edges) == {i: 0 for i in range(n)}
    assert C.LAST_ROUNDS == rounds


def test_dedup_components_labels_every_document(spark):
    from smartreader_spark.functions.components import dedup_components

    out = dedup_components(spark, SF).collect()
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert len(out) == n_docs
    comps = {r["component"] for r in out}
    # every component label is the id of its own canonical member
    canon = {r["doc_id"] for r in out if r["is_canonical"]}
    assert comps == canon
    by_id = {r["doc_id"]: r["component"] for r in out}
    # the representative is the minimum id in its component
    for r in out:
        assert r["component"] <= r["doc_id"]
        assert by_id[r["component"]] == r["component"]


def test_dedup_family_keep_best_prefers_quality_over_min_id(spark):
    """Pins the quality-first survivor rule: in a family whose longest
    member is NOT the min-id, the keeper is the max-n_chars doc with
    ties broken to the smaller id — while the component label itself
    stays the min id. Singletons keep themselves."""
    import shutil
    import tempfile

    from smartreader_spark.functions.components import dedup_family_keep_best

    tmp = tempfile.mkdtemp(prefix="keepbest_")
    try:
        same = "alpha beta gamma delta epsilon zeta"
        rows = [
            (0, same, 50, "a"),
            (1, same, 80, "a"),   # longest (tied with 2) -> keeper
            (2, same, 80, "a"),
            (3, "totally different words entirely elsewhere", 10, "b"),
        ]
        spark.createDataFrame(
            rows, "doc_id long, text string, n_chars long, source string"
        ).write.parquet(f"{tmp}/documents.parquet")
        out = {r["doc_id"]: r for r in dedup_family_keep_best(spark, tmp).collect()}
        assert {d: r["component"] for d, r in out.items()} == {0: 0, 1: 0, 2: 0, 3: 3}
        assert {d: r["keeper_doc_id"] for d, r in out.items()} == {0: 1, 1: 1, 2: 1, 3: 3}
        assert {d: r["is_kept"] for d, r in out.items()} == {
            0: False, 1: True, 2: False, 3: True,
        }
        assert out[0]["family_size"] == 3 and out[3]["family_size"] == 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_dedup_family_keep_best_partitions_match_components(spark):
    """On the real sf0.001 corpus: exactly one keeper per family, the
    keeper maximizes (n_chars, -doc_id) within its family, and the
    family partition is identical to dedup_components'."""
    from smartreader_spark.functions.components import (
        dedup_components,
        dedup_family_keep_best,
    )

    kb = dedup_family_keep_best(spark, SF).collect()
    comp = {r["doc_id"]: r["component"] for r in dedup_components(spark, SF).collect()}
    assert {r["doc_id"]: r["component"] for r in kb} == comp
    by_comp = {}
    for r in kb:
        by_comp.setdefault(r["component"], []).append(r)
    for fam in by_comp.values():
        keepers = [r for r in fam if r["is_kept"]]
        assert len(keepers) == 1
        best = min(fam, key=lambda r: (-r["n_chars"], r["doc_id"]))
        assert keepers[0]["doc_id"] == best["doc_id"]
        assert all(r["keeper_doc_id"] == best["doc_id"] for r in fam)
        assert all(r["family_size"] == len(fam) for r in fam)


def _round6(x: float) -> float:
    # Spark's F.round / DuckDB round: HALF_UP at the 6th decimal
    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def _dot(a, b):
    # sequential left fold — the exact order F.aggregate(zip_with(...))
    # and DuckDB's list_dot_product evaluate in
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _cos(a, b):
    return _dot(a, b) / (math.sqrt(_dot(a, a)) * math.sqrt(_dot(b, b)))


def test_ivf_topk_matches_pure_python_restatement(spark):
    from smartreader_spark.functions.similarity import (
        DEFAULT_K,
        DEFAULT_QUERIES,
        IVF_CELLS,
        IVF_NPROBE,
        ivf_topk,
    )

    rows = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e"))
        .collect()
    )
    vecs = {r["vec_id"]: r["e"] for r in rows}
    cents = [vecs[i] for i in range(DEFAULT_QUERIES, DEFAULT_QUERIES + IVF_CELLS)]

    def cell_ranking(v):
        # (rounded score desc, cell asc)
        return sorted(
            ((_round6(_cos(v, c)), cell) for cell, c in enumerate(cents)),
            key=lambda t: (-t[0], t[1]),
        )

    assign = {vid: cell_ranking(v)[0][1] for vid, v in vecs.items()}
    expected = []
    for q in range(DEFAULT_QUERIES):
        probed = {cell for _, cell in cell_ranking(vecs[q])[:IVF_NPROBE]}
        cand = [
            (vid, _round6(_cos(vecs[q], v)))
            for vid, v in vecs.items()
            if vid != q and assign[vid] in probed
        ]
        cand.sort(key=lambda t: (-t[1], t[0]))
        for rank, (vid, score) in enumerate(cand[:DEFAULT_K], 1):
            expected.append((q, vid, score, rank))

    got = [
        (r["query_id"], r["vec_id"], r["score"], r["rank"])
        for r in ivf_topk(spark, SF).collect()
    ]
    assert got == expected


def test_semantic_dedup_matches_pure_python_restatement(spark):
    """Full pure-Python twin of the SemDeDup operator: sampled-vector
    codebook, rounded-cosine cell assignment with the (score desc, cell
    asc) tie-break, unit-normalized within-cell pair dots, min-id
    representative — row-identical output required."""
    from smartreader_spark.functions.similarity import (
        IVF_CELLS,
        SEMDEDUP_THRESHOLD,
        semantic_dedup,
    )

    rows = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e"))
        .collect()
    )
    vecs = {r["vec_id"]: r["e"] for r in rows}
    cents = [vecs[i] for i in range(IVF_CELLS)]

    def assign(v):
        ranked = sorted(
            ((_round6(_cos(v, c)), cell) for cell, c in enumerate(cents)),
            key=lambda t: (-t[0], t[1]),
        )
        return ranked[0][1]

    cell = {vid: assign(v) for vid, v in vecs.items()}
    unit = {
        vid: [x / math.sqrt(_dot(v, v)) for x in v] for vid, v in vecs.items()
    }
    dup_of = {}
    ids = sorted(vecs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if cell[a] != cell[b] or b in dup_of and dup_of[b] <= a:
                continue
            if _round6(_dot(unit[a], unit[b])) >= SEMDEDUP_THRESHOLD:
                if b not in dup_of or a < dup_of[b]:
                    dup_of[b] = a
    expected = [
        (vid, cell[vid], dup_of.get(vid), vid not in dup_of) for vid in ids
    ]
    got = [
        (r["vec_id"], r["cell"], r["dup_of"], r["is_kept"])
        for r in semantic_dedup(spark, SF).collect()
    ]
    assert got == expected


def test_bm25_search_matches_pure_python_restatement(spark):
    """Pure-Python BM25 twin: same tokenizer, micro-quantized idf on the
    term dictionary, integer contribution sum, integer-score ranking."""
    import hashlib  # noqa: F401  (parity with sibling twins)
    import re

    from smartreader_spark.functions.retrieval import (
        BM25_QUERIES,
        BM25_TOPK,
        bm25_search,
    )

    docs = {
        r["doc_id"]: re.sub(r"\s+", " ", r["text"].strip().lower()).split(" ")
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }
    n_docs = len(docs)
    avgdl = float(sum(len(t) for t in docs.values())) / float(n_docs)
    tf = {
        did: {t: toks.count(t) for t in set(toks) if t != ""}
        for did, toks in docs.items()
    }
    df = {}
    for terms in tf.values():
        for t in terms:
            df[t] = df.get(t, 0) + 1

    def round_half_up(x):
        return int(Decimal(repr(x)).quantize(Decimal("1"), ROUND_HALF_UP))

    expected = []
    for qid, q in BM25_QUERIES:
        scored = {}
        for term in q.split():
            if term not in df:
                continue
            idf_micro = round_half_up(
                math.log(1.0 + (float(n_docs) - df[term] + 0.5) / (df[term] + 0.5))
                * 1e6
            )
            for did, terms in tf.items():
                if term not in terms:
                    continue
                dl = len(docs[did])
                w = (terms[term] * 2.2) / (
                    terms[term] + 1.2 * (0.25 + 0.75 * dl / avgdl)
                )
                c = round_half_up(idf_micro * w)
                s, n = scored.get(did, (0, 0))
                scored[did] = (s + c, n + 1)
        ranked = sorted(scored.items(), key=lambda kv: (-kv[1][0], kv[0]))
        for rank, (did, (s_micro, n_match)) in enumerate(ranked[:BM25_TOPK], 1):
            expected.append((qid, did, _round6(s_micro / 1e6), n_match, rank))

    got = [
        (r["query_id"], r["doc_id"], r["score"], r["n_terms_matched"], r["rank"])
        for r in bm25_search(spark, SF).collect()
    ]
    assert got == expected
    # every query with any matching term returns rows
    assert {q for q, *_ in got} == {q for q, *_ in expected}


def test_dsir_importance_shifts_toward_target(spark):
    """Target-slice documents must grade more target-like on average
    than the rest of the corpus (they trained the target model), and
    the output must cover every document exactly once."""
    from smartreader_spark.functions.curation import (
        DSIR_TARGET_SOURCE,
        dsir_importance,
    )

    out = dsir_importance(spark, SF).collect()
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert len(out) == n_docs
    tgt = [r["avg_logratio"] for r in out if r["source"] == DSIR_TARGET_SOURCE]
    rest = [r["avg_logratio"] for r in out if r["source"] != DSIR_TARGET_SOURCE]
    assert tgt and rest
    assert sum(tgt) / len(tgt) > sum(rest) / len(rest)
    for r in out:
        # sign consistency (avg is rounded, so only one-sided implications)
        if r["avg_logratio"] > 0:
            assert r["selected"]
        if r["selected"]:
            assert r["avg_logratio"] >= 0


def test_ann_pq_matches_pure_python_restatement(spark):
    """Pure-Python PQ/ADC twin: sub-codebooks from the training slice,
    rounded-dot argmax codes (tie → smallest centroid), micro-quantized
    LUTs, integer-score ranking — row-identical output required."""
    from smartreader_spark.functions.similarity import (
        DEFAULT_K,
        DEFAULT_QUERIES,
        PQ_KC,
        PQ_M,
        PQ_TRAIN_OFFSET,
        ann_pq,
    )

    rows = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e"))
        .collect()
    )
    vecs = {r["vec_id"]: r["e"] for r in rows}
    dim = len(next(iter(vecs.values())))
    d0 = dim // PQ_M
    train = [vecs[PQ_TRAIN_OFFSET + j] for j in range(PQ_KC)]
    cb = [
        [train[j][m * d0:(m + 1) * d0] for j in range(PQ_KC)]
        for m in range(PQ_M)
    ]

    def micro(x):
        return int(Decimal(x).quantize(Decimal(1), ROUND_HALF_UP))

    def code(v, m):
        sv = v[m * d0:(m + 1) * d0]
        ranked = sorted(
            ((_round6(_dot(sv, cb[m][j])), j) for j in range(PQ_KC)),
            key=lambda t: (-t[0], t[1]),
        )
        return ranked[0][1]

    codes = {vid: [code(v, m) for m in range(PQ_M)] for vid, v in vecs.items()}
    expected = []
    for q in range(DEFAULT_QUERIES):
        lut = [
            [micro(_dot(vecs[q][m * d0:(m + 1) * d0], cb[m][j]) * 1e6)
             for j in range(PQ_KC)]
            for m in range(PQ_M)
        ]
        cand = [
            (vid, sum(lut[m][codes[vid][m]] for m in range(PQ_M)))
            for vid in vecs
            if vid != q
        ]
        cand.sort(key=lambda t: (-t[1], t[0]))
        for rank, (vid, s_micro) in enumerate(cand[:DEFAULT_K], 1):
            expected.append((q, vid, _round6(s_micro / 1e6), rank))

    got = [
        (r["query_id"], r["vec_id"], r["score"], r["rank"])
        for r in ann_pq(spark, SF).collect()
    ]
    assert got == expected
