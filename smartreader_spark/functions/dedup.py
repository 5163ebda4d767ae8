"""Deduplication operators over the `documents` table.

All JVM-side (built-in functions only — no Python in the hot path):

* exact:   hash-groupBy on normalized text (map-side partial agg)
* minhash: shingle → per-band min-md5 signature → band-bucket self-join
           (classic MinHash+LSH with r=1 rows per band; the self-join is
           an equi-join on (band, signature) so Spark shuffles only
           signatures, never full texts)
* ngram:   exact n-gram Jaccard on candidate pairs (verification stage
           after LSH; at 100 TB you run it only on LSH survivors)
* simhash: 16-bit simhash from per-token md5 prefixes

At cluster scale the shuffle keys are all small fixed-width strings; text
columns are pruned before every shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..layout import spread
from ..memo import SessionMemo
from .similarity import _dim_of, _load, _srp_bucket
from .textqa import _norm, load_documents, tokens

NGRAM_N = 3
#: b×r LSH banding (VERDICT r5 #3): 8 bands of r=4 concatenated
#: min-hashes. Candidate probability 1-(1-s⁴)⁸ keeps ~0.99 recall at
#: Jaccard 0.8 while admitting ~1% of s=0.2 pairs — the old r=1 scheme
#: (1-(1-s)⁴) admitted ~59% of them, so at corpus scale the verify join
#: paid for a large low-similarity candidate set (measured comparison in
#: BASELINE.md). The 4 rows of band b are the four 8-hex-char slices of
#: md5(b || shingle): one hash evaluation per (shingle, band) — the
#: explode factor grows 4→8, not 4→32.
MINHASH_BANDS = 8
MINHASH_ROWS = 4


def _shingle_stream(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) rows WITHOUT per-doc dedup — duplicate shingles
    are harmless to the min-aggregations that consume this stream (min
    over a multiset equals min over its set). Shingles come from slicing
    the token array directly: one tokenize, zero window sort and zero
    wide shuffle (the r6 formulation posexploded every token through a
    per-doc window lead + a distinct — two corpus-wide exchanges).

    The repartition (a) spreads the single-file sf scan over the cluster
    (guide §2.5) and (b) is the projection barrier that keeps Catalyst
    from inlining the tokenizer split into every slice reference (the
    measured quadratic-recompute hazard of array formulations).

    Same per-doc shingle SET as `_shingle_table`: full 3-token windows
    for pos ≤ n−3; docs with < N tokens keep the whole token list as
    one shingle."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    base = docs.select("doc_id", tokens(F.col("text")).alias("toks")).repartition(
        par, "doc_id"
    )
    n = F.size("toks")
    shingles = F.when(
        n >= NGRAM_N,
        F.transform(
            F.sequence(F.lit(0), n - NGRAM_N),
            lambda i: F.concat_ws(" ", F.slice("toks", i + 1, NGRAM_N)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", "toks")))
    return base.select("doc_id", F.explode(shingles).alias("shingle"))


def _shingle_table(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) DISTINCT rows — the Jaccard-verify input, where
    set semantics matter. One exchange (the distinct) over the
    shuffle-free `_shingle_stream`."""
    return _shingle_stream(docs).distinct()


def _pair_cosine_arrow_fn(dim: int, precut: float):
    """Cogrouped-Arrow pair scorer for `embedding_near_dup_pairs`: for
    one (bucket, salt) cogroup, score every (a, b) pair with a > b
    excluded and emit rows whose cosine can possibly round to the
    threshold (`precut` is a conservative under-bound; the authoritative
    `round(cosine,6) >= threshold` filter stays in the Spark plan).

    Exactness (the guide §4.2 vectorized-native pattern, kept
    bit-identical to the JVM fold):

    * np.cumsum IS np.add.accumulate — the same sequential left fold
      over float64 as aggregate(zip_with(...)) — so per-pair dots and
      per-vector norms are bit-identical to the JVM higher-order
      expressions (property-verified on the real corpus in
      tests/test_functions.py::test_embedding_pairs_arrow_matches_jvm).
      A prefix that is all -0.0 is the only divergence (+0.0 vs -0.0)
      and cannot reach the threshold filter.
    * the 6-decimal rounding of survivors is Decimal(true-double)
      .quantize(1e-6, ROUND_HALF_UP) — the ann_pq discipline that
      matches Spark's and DuckDB's round() — applied to the handful of
      precut survivors, never per pair.
    """

    def gen(left, right):
        import numpy as np
        import pyarrow as pa
        from decimal import ROUND_HALF_UP, Decimal

        empty = pa.table(
            {
                "vec_a": pa.array([], pa.int64()),
                "vec_b": pa.array([], pa.int64()),
                "cosine": pa.array([], pa.float64()),
            }
        )
        if left.num_rows == 0 or right.num_rows == 0:
            return empty

        def mat(t):
            arr = t.column("embedding").combine_chunks()
            flat = arr.flatten().to_numpy(zero_copy_only=False)
            return (
                t.column("vec_id").to_numpy(zero_copy_only=False),
                flat.reshape(-1, dim).astype(np.float64, copy=False),
            )

        ia, A = mat(left)
        ib, B = mat(right)
        nb = np.sqrt(np.cumsum(B * B, axis=1)[:, -1])
        na = np.sqrt(np.cumsum(A * A, axis=1)[:, -1])
        six = Decimal("0.000001")
        out_a, out_b, out_c = [], [], []
        with np.errstate(invalid="ignore", divide="ignore"):
            for k in range(len(ia)):
                dots = np.cumsum(A[k] * B, axis=1)[:, -1]
                cos = dots / (na[k] * nb)
                m = (ib > ia[k]) & (cos >= precut)
                for j in np.nonzero(m)[0]:
                    out_a.append(int(ia[k]))
                    out_b.append(int(ib[j]))
                    out_c.append(
                        float(Decimal(float(cos[j])).quantize(six, ROUND_HALF_UP))
                    )
        if not out_a:
            return empty
        return pa.table(
            {
                "vec_a": pa.array(out_a, pa.int64()),
                "vec_b": pa.array(out_b, pa.int64()),
                "cosine": pa.array(out_c, pa.float64()),
            }
        )

    return gen


def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str,
                             threshold: float = 0.4,
                             n_planes: int = 4) -> DataFrame:
    """APPROXIMATE embedding-cosine near-duplicate pairs: only pairs whose
    embeddings share an SRP (sign-random-projection) bucket are candidates
    — an above-threshold pair split by a sign flip on any plane is NOT
    returned (the standard LSH recall/cost trade; fewer planes → higher
    recall, more candidates). The all-pairs exact twin, O(n²), lives in
    tests/test_functions.py as the recall reference.

    Scale shape:

    1. candidate generation — SRP bucket id (same deterministic
       md5-derived hyperplanes as similarity._srp_bucket, plane weights
       inlined as driver-computed literals — bit-identical, see
       _srp_weights). The bucket formula is SQL-reproducible, so the
       DuckDB oracle states the exact same candidate set.
    2. verify — a cogrouped-Arrow numpy stage scores each bucket's pairs
       (guide §4.2; see _pair_cosine_arrow_fn): np.cumsum is the same
       sequential left fold as the JVM's zip_with/aggregate, so the pair
       set and the float64 cosine bits equal the pure-expression salted
       self-join, which tests/test_functions.py keeps as the equivalence
       twin (it is ~3x slower at sf1.0).

    The 4-plane bucket space has only 16 values, so a bare bucket
    grouping hash-partitions into ≤16 partitions and AQE then coalesces
    those (small map output) down to ~2 tasks while the O(Σ bucket²)
    pair expansion — invisible to byte-based coalescing — runs serially
    (measured: 239.9 s at sf1.0 on 32 cores). So the grouping key is
    salted: side A carries salt = vec_id mod S, side B is exploded over
    all S salts, splitting every bucket into S independent slices."""
    schema = "vec_a bigint, vec_b bigint, cosine double"
    dim = _dim_of(spark, sf_dir)
    if dim is None:  # empty table
        return spark.createDataFrame([], schema)
    n_salt = 8  # cogroup fan-out: 2^n_planes buckets × 8 salts

    # each cogroup side gets its OWN scan subtree: a self-cogroup
    # from one shared plan trips an analyzer dedup defect where the
    # FlatMapCoGroupsInArrow node keeps the LEFT side's expression
    # ids in its right-attribute list, and column pruning then
    # strips the right child down to the grouping keys (observed:
    # right table arrived as [bucket, salt] under count()).
    # Independent reads have distinct ids from the start; the extra
    # 20k-row bucket computation is noise.
    def _emb_bucketed():
        return spread(_load(spark, sf_dir)).withColumn(
            "bucket", _srp_bucket(F.col("embedding"), n_planes, dim)
        )

    a = _emb_bucketed().select(
        "bucket",
        F.pmod(F.col("vec_id"), F.lit(n_salt)).cast("int").alias("salt"),
        "vec_id",
        "embedding",
    )
    b = _emb_bucketed().select(
        "bucket",
        F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))).alias("salt"),
        "vec_id",
        "embedding",
    )
    pairs = (
        a.groupBy("bucket", "salt")
        .cogroup(b.groupBy("bucket", "salt"))
        .applyInArrow(_pair_cosine_arrow_fn(dim, threshold - 2e-6), schema)
    )
    return (
        pairs.filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
        .orderBy("vec_a", "vec_b")
    )


def exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups: md5(normalized text) → group size + keeper.
    Shuffle key = 32-char digest; map-side combine makes this one cheap
    aggregation at any scale."""
    docs = load_documents(spark, sf_dir).select("doc_id", "text")
    return (
        docs.withColumn("fp", F.md5(_norm(F.col("text"))))
        .groupBy("fp")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
        .select("fp", "n_docs", "keeper_doc_id")
        .orderBy("fp")
    )


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str,
                      sh: DataFrame | None = None) -> DataFrame:
    """MinHash+LSH candidate pairs with b×r banding: per band b∈[0,8),
    the signature is the concatenation of r=4 independent min-hashes —
    the four 8-hex-char slices of md5(b || shingle), min'd separately
    over the doc's shingles. Docs sharing (band, signature) are
    candidates. Equi-join on fixed-width 32-char keys → hash shuffle, no
    cross product; the sharper 1-(1-s⁴)⁸ S-curve keeps the verify-join
    candidate set near-dup-dense (see MINHASH_BANDS note).

    `sh`: optional precomputed (doc_id, shingle) table (``_shingle_table``
    output, ideally cached) so a pipeline computing both candidates and
    the Jaccard verify shuffles the token stream once, not twice.

    r7 signature mining (same sigs, VERDICT r6 #6): the r6 shape
    exploded every shingle ×8 bands and shuffled the blown-up stream on
    (doc_id, band). Now the 8 band hashes are 8 projected columns of ONE
    pass over the shingle stream — the identical md5(b || shingle) count
    — and the 8×4 per-band mins are 32 map-side partial aggregates of a
    single (doc_id) rollup; the long (doc_id, band, sig) table the join
    needs is a post-aggregation explode of 8 structs per doc. No ×8 row
    blowup, one narrow exchange, and the shingle stream skips its
    distinct (min over a multiset ≡ min over its set)."""
    if sh is None:
        docs = load_documents(spark, sf_dir).select("doc_id", "text")
        sh = _shingle_stream(docs)
    hs = sh.select(
        "doc_id",
        *[
            F.md5(F.concat(F.lit(f"{b}|"), F.col("shingle"))).alias(f"h{b}")
            for b in range(MINHASH_BANDS)
        ],
    )
    wide = hs.groupBy("doc_id").agg(
        *[
            F.min(F.substring(F.col(f"h{b}"), 1 + 8 * k, 8)).alias(f"s_{b}_{k}")
            for b in range(MINHASH_BANDS)
            for k in range(MINHASH_ROWS)
        ]
    )
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat(
                    *[F.col(f"s_{b}_{k}") for k in range(MINHASH_ROWS)]
                ).alias("sig"),
            )
            for b in range(MINHASH_BANDS)
        ]
    )
    sigs = wide.select("doc_id", F.explode(bands).alias("bs")).select(
        "doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )

    a = sigs.alias("a")
    b = sigs.alias("b")
    pairs = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.sig") == F.col("b.sig")))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
        .orderBy("doc_a", "doc_b")
    )
    return pairs


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str,
                        threshold: float = 0.8,
                        sh: DataFrame | None = None,
                        cand: DataFrame | None = None) -> DataFrame:
    """Exact n-gram Jaccard over LSH candidate pairs (the verify stage of
    the dedup pipeline) — fully relational: intersections come from an
    equi-join on the shingle table (at scale, never materialize per-doc
    shingle arrays in a row).

    `sh` / `cand`: optional precomputed shingle table / candidate-pair
    DataFrames. When omitted, the shingle table is built ONCE, cached,
    and fed to both the LSH candidate generation and the verify joins —
    the token stream is shuffled once, not recomputed per stage."""
    if sh is None:
        docs = load_documents(spark, sf_dir).select("doc_id", "text")
        sh = _shingle_table(docs).cache()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    if cand is None:
        cand = minhash_lsh_pairs(spark, sf_dir, sh=sh)

    # intersection size per candidate pair via one equi-join on shingles
    inter = (
        cand.join(sh.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b"), ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    j = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "n_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )
    return j


SIMHASH_MAX_BUCKET = 1000

#: the localCheckpointed simhash near-dup pair table, once per input
#: (memo.py): dedup_simhash_pairs, dedup_components and
#: dedup_family_keep_best all mine the IDENTICAL pair graph from the same
#: raw table in one session — the first consumer pays the banded
#: self-join, the component queries reuse the materialized pairs.
_PAIRS_CACHE = SessionMemo("dedup.simhash_pairs")


def _sf_simhash_pairs(spark: SparkSession, sf_dir: str,
                      max_hamming: int = 3,
                      max_bucket_size: int | None = SIMHASH_MAX_BUCKET) -> DataFrame:
    def build():
        docs = spread(load_documents(spark, sf_dir).select("doc_id", "text"))
        return simhash_pairs_for_docs(
            docs, max_hamming=max_hamming, max_bucket_size=max_bucket_size
        ).localCheckpoint(eager=True)

    return _PAIRS_CACHE.get_or_build(
        spark, (sf_dir, max_hamming, max_bucket_size), (sf_dir,), build
    )


def simhash_near_dup_pairs(spark: SparkSession, sf_dir: str,
                           max_hamming: int = 3,
                           max_bucket_size: int | None = SIMHASH_MAX_BUCKET) -> DataFrame:
    """SimHash near-duplicate pairs, scale-shaped like the MinHash path:
    a 60-bit signature (15-hex-char md5 prefix — fits a signed 64-bit
    value on every engine) banded into 6 × 10-bit keys; docs sharing any
    band are candidates (pigeonhole: hamming ≤ 5 over 6 bands guarantees
    an equal band → NO recall loss at max_hamming ≤ 5), verified by exact
    bit_count(xor). Equi-join on (band, band-bits) — fixed-width keys, no
    cross product.

    Signature width matters at scale: a 16-bit signature has only 16
    values per 4-bit band, so at 10^6+ docs every bucket goes quadratic.
    10-bit bands give 1024 buckets per band; candidate volume stays
    ~n²/(6·1024) of all-pairs and shrinks further with wider bands.

    `max_bucket_size` (skew valve, default 1000): a degenerate corpus —
    thousands of byte-identical or near-identical docs — collapses one
    (band, bandbits) bucket and makes its self-join quadratic. Buckets
    larger than the cap are DROPPED from candidate generation (a k-doc
    bucket contributes k·(k−1)/2 pairs: 1000 caps a bucket at ~500k
    candidate rows). The documented trade: identical-doc floods are the
    job of the *exact* dedup stage that runs before simhash, so the
    dropped pairs are ones exact dedup already collapsed; audit what was
    dropped with ``simhash_oversized_buckets`` — the composed pipeline
    (pipeline/training.py) surfaces that count as a funnel row so the
    recall trade is observable in the primary path (ADVICE r3). The count
    table is at most 6·1024 rows, so the cap costs one broadcast join,
    never a shuffle. Pass ``max_bucket_size=None`` to disable."""
    return _sf_simhash_pairs(
        spark, sf_dir, max_hamming=max_hamming, max_bucket_size=max_bucket_size
    )


def simhash_banded_for_docs(docs: DataFrame) -> DataFrame:
    """60-bit simhash per doc exploded into 6 × 10-bit band keys —
    the shared candidate-generation table for pair mining and the
    oversized-bucket audit. `docs` needs (doc_id, text)."""
    sigs = simhash_wide_signatures(docs, n_bits=60)
    return sigs.withColumn(
        "band", F.explode(F.sequence(F.lit(0), F.lit(5)))
    ).select(
        "doc_id",
        "simhash",
        "band",
        # shiftright() in the Python API needs a literal shift; use expr
        # for the column-valued band shift
        F.expr("shiftright(simhash, band * 10) & 1023").alias("bandbits"),
    )


def simhash_pairs_for_docs(docs: DataFrame, max_hamming: int = 3,
                           max_bucket_size: int | None = SIMHASH_MAX_BUCKET,
                           banded: DataFrame | None = None) -> DataFrame:
    """DataFrame-level core of `simhash_near_dup_pairs` (same semantics,
    same scale shape) over any (doc_id, text) input — used standalone and
    as the near-dup stage of the composed training pipeline.

    `banded`: optional precomputed `simhash_banded_for_docs(docs)` table
    (ideally cached) so a pipeline that also audits the skew valve
    (`oversized_buckets_for_docs`) computes the 60-bit signatures once,
    not once per consumer (r7)."""
    if banded is None:
        banded = simhash_banded_for_docs(docs)
    if max_bucket_size is not None:
        small = (
            banded.groupBy("band", "bandbits")
            .agg(F.count("*").alias("bucket_n"))
            .filter(F.col("bucket_n") <= max_bucket_size)
            .select("band", "bandbits")
        )
        banded = banded.join(F.broadcast(small), ["band", "bandbits"])
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bandbits") == F.col("b.bandbits")))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash")).cast("long")
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
        .orderBy("doc_a", "doc_b")
    )
    return pairs


def simhash_oversized_buckets(spark: SparkSession, sf_dir: str,
                              max_bucket_size: int = SIMHASH_MAX_BUCKET) -> DataFrame:
    """Audit companion to `simhash_near_dup_pairs`: the (band, bandbits,
    bucket_n) buckets the skew valve dropped — record it alongside the
    dedup run's lineage so the recall trade is observable, not silent."""
    docs = spread(load_documents(spark, sf_dir).select("doc_id", "text"))
    return oversized_buckets_for_docs(docs, max_bucket_size=max_bucket_size)


def oversized_buckets_for_docs(docs: DataFrame,
                               max_bucket_size: int = SIMHASH_MAX_BUCKET,
                               banded: DataFrame | None = None) -> DataFrame:
    """DataFrame-level core of `simhash_oversized_buckets`. `banded` as
    in `simhash_pairs_for_docs` (share one signature pass)."""
    if banded is None:
        banded = simhash_banded_for_docs(docs)
    return (
        banded.groupBy("band", "bandbits")
        .agg(F.count("*").alias("bucket_n"))
        .filter(F.col("bucket_n") > max_bucket_size)
        .orderBy("band", "bandbits")
    )


def _simhash_wide(spark: SparkSession, sf_dir: str, n_bits: int = 60) -> DataFrame:
    docs = spread(load_documents(spark, sf_dir).select("doc_id", "text"))
    return simhash_wide_signatures(docs, n_bits=n_bits)


def simhash_wide_signatures(docs: DataFrame, n_bits: int = 60) -> DataFrame:
    """n-bit SimHash per document: for bit i, sign = Σ_tokens (bit_i(md5
    prefix) ? 1 : −1); bit set when sign > 0. Pure expressions: the
    ceil(n/4)-hex-char md5 prefix converts via conv(hex,16,10), bits via
    shiftright/bitwise-and. `docs` needs (doc_id, text). `n_bits` is at
    most 60: a wider md5 prefix (16 hex chars) overflows BIGINT for half
    of all tokens."""
    if not 1 <= n_bits <= 60:
        raise ValueError(f"simhash n_bits must be in 1..60, got {n_bits}")
    n_hex = (n_bits + 3) // 4
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens(F.col("text")))).alias("tok")
    ).withColumn("h", F.conv(F.substring(F.md5("tok"), 1, n_hex), 16, 10).cast("long"))

    # branch-free aggregate (r7 continuation): sum(±1) > 0 over tokens is
    # exactly 2*sum(bit_i) > n_tokens, so each of the 60 sums is a bare
    # shiftright+AND instead of a conditional — same integer signature
    # (A/B digest-identical), ~40% less generated aggregate code, which
    # also cuts the first-run janino compile cost. The expressions are
    # built as SQL strings (the codebook _lit_mat_sql discipline): the
    # Column-API construction of 60 aggregates + the 60-term bit
    # assembly was ~1.6 s of py4j driver time per fresh session.
    agg = toks.groupBy("doc_id").agg(
        F.expr("count(*) AS nt"),
        *[F.expr(f"sum(shiftright(h, {i}) & 1) AS b{i}") for i in range(n_bits)],
    )
    bits = " + ".join(
        f"if(b{i} * 2 > nt, {1 << i}L, 0L)" for i in range(n_bits)
    )
    return agg.select(
        "doc_id", F.expr(f"CAST(({bits}) AS BIGINT) AS simhash")
    )


def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document, as INT: `simhash_wide_signatures`
    with n_bits=16 (a 4-hex-char md5 prefix)."""
    return (
        _simhash_wide(spark, sf_dir, n_bits=16)
        .select("doc_id", F.col("simhash").cast("int").alias("simhash"))
        .orderBy("doc_id")
    )
