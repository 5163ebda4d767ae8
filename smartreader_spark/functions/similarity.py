"""Similarity search over the `embeddings` table (array<float> column).

* brute_force_topk — exact cosine top-k of every query against the corpus
  via a joined reduce (F.zip_with + F.aggregate, JVM-side); the baseline
  and the verifier for approximate variants.
* lsh_bucketed_topk — sign-random-projection LSH: embeddings bucketed by
  the sign pattern of d deterministic pseudo-random hyperplanes; top-k is
  computed within each bucket only. At 100 TB the bucket join replaces the
  full cross product with an equi-join on a d-bit key.
* ivf_topk — inverted-file index (the FAISS-IVF shape): a small coarse-
  quantizer codebook lives on the driver and is inlined into the plan as
  literals, so cell assignment is pure map-side expression work (zero
  shuffle, zero join); queries probe their `nprobe` nearest cells and
  score exactly within the probed inverted lists via one broadcast
  equi-join on the cell id.
* ann_pq — product quantization with asymmetric distance computation:
  per-subspace codebooks and per-query lookup tables are driver state
  inlined as literals, so encoding and scoring are map-side expressions.
* semantic_dedup — SemDeDup: the ivf_topk codebook assigns cells, and
  near-duplicates are scored only within a cell.

No Python UDFs; the dot products run inside codegen'd higher-order
functions. Scores are rounded to 6 decimals for cross-engine comparison.

Inputs without a codebook. ivf_topk, semantic_dedup and ann_pq collect
their codebook (or PQ training sample) from a fixed vec_id range. On an
empty `embeddings` table every operator returns its typed empty result,
as does a top-k operator whose query range holds no rows; on a non-empty
table whose sample comes back short, the operator raises
ValueError naming the vec_id range it needs (`_empty_or_raise`). The
check runs only after a short sample, so the normal path submits no
extra Spark job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DataType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..layout import spread
from ..localrel import local_frame

DEFAULT_K = 5
DEFAULT_QUERIES = 8  # vec_id < 8 are the query set (deterministic)
IVF_CELLS = 16      # coarse-quantizer codebook size for ivf_topk
IVF_NPROBE = 4      # cells probed per query

# Typed empty results, with the nullability the operators' real results
# carry: row_number() ranks and the is_kept test are never null, and
# ann_pq's query ids come from driver-side literals.
def _schema(*cols: tuple[str, DataType, bool]) -> StructType:
    return StructType([StructField(name, t, nullable) for name, t, nullable in cols])


_TOPK_SCHEMA = _schema(("query_id", LongType(), True), ("vec_id", LongType(), True),
                       ("score", DoubleType(), True), ("rank", IntegerType(), False))
_ANN_PQ_SCHEMA = _schema(("query_id", LongType(), False), ("vec_id", LongType(), True),
                         ("score", DoubleType(), True), ("rank", IntegerType(), False))
_SEMDEDUP_SCHEMA = _schema(("vec_id", LongType(), True), ("cell", IntegerType(), True),
                           ("dup_of", LongType(), True), ("is_kept", BooleanType(), False))


def _load(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cast float32 → double up front so the dot-product accumulates in
    # double on both engines (bit-identical with DuckDB's DOUBLE[] math)
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v)
    )


# --- r7 plan-shape helpers ----------------------------------------------
#
# Three measured facts drive the shapes below (OPTIMIZATION_r07.md §ANN):
#
# 1. The sf parquet inputs are ONE file / one row group, so every
#    corpus-side map stage ran on ≤2 of 32 cores (guide §2.5's
#    "unsplittable input" case). `layout.spread` repartitions right
#    after the read; the count derives from the session's parallelism,
#    never a local constant.
# 2. Building literal-heavy expressions through the Python Column API
#    costs one py4j round-trip PER OPERATOR (~10-17 s of driver time for
#    a 16×64 codebook). `_lit_vec_sql`/`_lit_mat_sql` emit the whole
#    literal as ONE SQL string — CAST('<repr>' AS DOUBLE) parses the
#    shortest-roundtrip decimal back to the bit-identical double — and
#    constant folding collapses it to a single array literal.
# 3. Fully unrolling a 64-term dot into a static expression tree blows
#    the JVM's 64 KB generated-method limit: codegen fails, the stage
#    falls back, and the interpreted unrolled tree is ~3x SLOWER than
#    the interpreted higher-order fold (35.9 s vs 13.0 s at 13M pairs).
#    So the per-element math deliberately STAYS in zip_with/aggregate
#    form — small trees that compile fast — and the wins come from
#    parallelism, single-evaluation of norms, and literal codebooks.


def _dim_of(spark: SparkSession, sf_dir: str):
    """Embedding dimensionality probed from one row (codebook-sized
    driver state, the ivf_topk collect precedent); None on empty."""
    row = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .select(F.size("embedding").alias("d"))
        .limit(1)
        .collect()
    )
    return int(row[0]["d"]) if row else None


def _empty_or_raise(spark: SparkSession, sf_dir: str, schema: StructType,
                    need: str) -> DataFrame:
    """Called once a driver-side codebook sample came back short: an
    empty `embeddings` table gives the typed empty result `schema`; any
    other table lacks the rows `need` describes, so raise."""
    if _dim_of(spark, sf_dir) is None:
        return local_frame(spark, [], schema)
    raise ValueError(f"{need}; {sf_dir}/embeddings.parquet lacks them")


def _dlit_sql(v) -> str:
    """One double literal for F.expr, bit-exact: repr() is the shortest
    string that round-trips the double, and casting a decimal string to
    DOUBLE is correctly rounded on every engine."""
    return f"CAST('{float(v)!r}' AS DOUBLE)"


def _lit_vec_sql(vals) -> str:
    return "array(" + ", ".join(_dlit_sql(v) for v in vals) + ")"


def _lit_mat_sql(rows) -> str:
    return "array(" + ", ".join(_lit_vec_sql(r) for r in rows) + ")"


def _norm_py(vals) -> float:
    """Driver-side `_norm` over a literal vector: the identical left
    fold in IEEE doubles (Python floats ARE doubles) + one correctly-
    rounded sqrt — bit-identical to evaluating `_norm` on the array."""
    import math

    acc = 0.0
    for v in vals:
        acc = acc + v * v
    return math.sqrt(acc)


def brute_force_topk(spark: SparkSession, sf_dir: str,
                     k: int = DEFAULT_K, n_queries: int = DEFAULT_QUERIES) -> DataFrame:
    """Exact top-k cosine neighbors for the first `n_queries` vectors.
    The query side is tiny → broadcast; corpus side streams once."""
    from pyspark.sql.window import Window

    # r7: spread the single-file scan over the cluster and compute each
    # side's norm ONCE before the join — cosine = dot/(qn·nrm) is the
    # identical value with one interpreted fold per pair instead of three.
    # The tiny query side branches off BEFORE the repartition so its
    # vec_id filter pushes into the scan (a broadcast subtree above the
    # exchange re-ran the whole corpus-side pass to produce 8 rows —
    # measured as the dominant cost of the sibling ivf query).
    base = _load(spark, sf_dir).select("vec_id", "embedding")
    emb = spread(base).withColumn("nrm", _norm(F.col("embedding")))
    queries = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q"),
        _norm(F.col("embedding")).alias("qn"),
    )
    score = F.round(
        _dot(F.col("q"), F.col("embedding")) / (F.col("qn") * F.col("nrm")), 6
    )
    scored = (
        emb.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .withColumn("score", score)
        .select("query_id", "vec_id", "score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "score", "rank")
        .orderBy("query_id", "rank")
    )


def _cell_scores_sql(centroids):
    """array<struct<s,nc>> of the rounded cosine of the `embedding`
    column (row norm precomputed in `nrm`) against every codebook
    centroid: scores[i] = round(dot(embedding, CB[i]) / (nrm ·
    ||CB[i]||), 6), the zip_with/aggregate fold with the row norm first
    in the product. nc = -cell, so lexicographic struct max / sort break
    score ties toward the SMALLEST cell id (mirrored by `ORDER BY s
    DESC, cell ASC` in the SQL oracle). The codebook folds to ONE
    array<array<double>> literal and the centroid norms (driver-computed,
    `_norm_py`, bit-identical) to one literal vector, so plan
    construction is a single expr parse instead of thousands of py4j
    calls, and the row norm is evaluated once per row."""
    cb = _lit_mat_sql(centroids)
    nrms = _lit_vec_sql([_norm_py(c) for c in centroids])
    n = len(centroids)
    return F.expr(
        f"transform(sequence(0, {n - 1}), i -> named_struct("
        f"'s', round(aggregate(zip_with(embedding, {cb}[i], (x, y) -> x * y), "
        f"0.0D, (acc, v) -> acc + v) / (nrm * {nrms}[i]), 6), "
        f"'nc', -i))"
    )


def ivf_topk(spark: SparkSession, sf_dir: str,
             k: int = DEFAULT_K, n_queries: int = DEFAULT_QUERIES,
             n_cells: int = IVF_CELLS, nprobe: int = IVF_NPROBE) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the third point on the
    exactness/cost curve next to brute force and SRP-LSH, and the shape
    that scales to 10^12 vectors:

    * The coarse quantizer is DRIVER state, as in any real IVF system
      (FAISS trains the codebook centrally and ships it to workers).
      Here it is `n_cells` deterministically sampled corpus vectors
      (vec_id ∈ [n_queries, n_queries + n_cells) — sampled training in
      place of k-means, deterministic so the DuckDB oracle can rebuild
      the identical codebook). Collecting it is O(n_cells · dim) —
      codebook-sized, not data-sized.
    * Cell assignment inlines the codebook as literals: argmax-cosine
      over `n_cells` codegen'd fold expressions, entirely map-side — at
      100 TB the corpus is scanned once with NO shuffle to build the
      inverted lists (contrast: a join-based assignment would shuffle
      n_cells × corpus rows).
    * Each query probes its `nprobe` nearest cells; candidates come from
      one equi-join of the corpus on the broadcast (query, cell) probe
      table — candidate volume is corpus × nprobe/n_cells, tunable
      recall/cost, never a cross product.
    """
    from pyspark.sql.window import Window

    emb = _load(spark, sf_dir).select("vec_id", "embedding")
    centroids = [
        r["embedding"]
        for r in emb.filter(
            (F.col("vec_id") >= n_queries)
            & (F.col("vec_id") < n_queries + n_cells)
        )
        .orderBy("vec_id")
        .collect()
    ]
    if not centroids:
        return _empty_or_raise(
            spark, sf_dir, _TOPK_SCHEMA,
            f"ivf_topk needs codebook rows with vec_id in "
            f"[{n_queries}, {n_queries + n_cells})",
        )

    # r7: spread the single-file scan; ONE interpreted row norm per
    # row (not one per centroid); codebook + centroid norms fold to
    # SQL literals — identical cosine values (helper block above).
    # The probe side branches off the PRE-spread scan so its vec_id
    # filter pushes into the scan — otherwise the broadcast subtree
    # re-ran the full 20k-row scoring pass to emit 8 query rows
    # (measured: the scored stage dropped 3.5 s → join-only cost)
    probe_src = emb.filter(F.col("vec_id") < n_queries).withColumn(
        "nrm", _norm(F.col("embedding"))
    )
    emb = spread(emb).withColumn("nrm", _norm(F.col("embedding")))
    scores = _cell_scores_sql(centroids)
    assigned = emb.withColumn(
        "cell", (-F.array_max(scores)["nc"]).cast("int")
    )
    # top-nprobe cells per query: sort the per-cell score structs
    # descending and slice — (s, nc) descending puts score ties on the
    # smallest cell first
    probes = probe_src.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q"),
        F.explode(
            F.transform(
                F.slice(F.reverse(F.array_sort(scores)), 1, nprobe),
                lambda s: (-s["nc"]).cast("int"),
            )
        ).alias("cell"),
        F.col("nrm").alias("qn"),
    )
    score = F.round(
        _dot(F.col("q"), F.col("embedding")) / (F.col("qn") * F.col("nrm")), 6
    )
    scored = (
        assigned.join(F.broadcast(probes), ["cell"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("score", score)
        .select("query_id", "vec_id", "score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "score", "rank")
        .orderBy("query_id", "rank")
    )


SEMDEDUP_THRESHOLD = 0.4  # same cosine bar as dedup_embedding_cosine
PQ_M = 8          # product-quantization subspaces (64-dim → 8×8)
PQ_KC = 16        # centroids per sub-codebook (4-bit codes)
PQ_TRAIN_OFFSET = DEFAULT_QUERIES + IVF_CELLS  # training vecs follow the IVF codebook


def ann_pq(spark: SparkSession, sf_dir: str,
           k: int = DEFAULT_K, n_queries: int = DEFAULT_QUERIES,
           m_sub: int = PQ_M, n_cent: int = PQ_KC) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (Jégou, Douze, Schmid 2011, "Product Quantization for Nearest
    Neighbor Search"; inner-product/MIPS variant): each vector is
    compressed to m_sub 4-bit codes (argmax inner product against a
    per-subspace codebook), and queries score candidates by summing
    per-subspace lookup-table entries over the codes — never touching
    the raw vectors. THE memory axis of the ANN trade space: at 10^12
    vectors, 64-dim float32 embeddings are ~256 TB while 8-byte PQ
    codes are ~8 TB — the difference between "fits on the cluster" and
    "doesn't".

    Determinism: code assignment takes argmax over 6-decimal-rounded
    subvector dots (the _cell_scores_sql discipline, tie → smallest
    centroid); the ADC lookup tables are quantized to integer
    micro-units driver-side with exact-binary half-up rounding
    (Decimal over the true double — the same value DuckDB's round()
    and Spark's BigDecimal round produce), so per-candidate scores are
    exact integer sums and ranking never compares floats.

    100-TB shape (the real ADC execution model, declaratively): the
    sub-codebooks AND the per-query LUTs are driver state inlined as
    literals — encoding and scoring are BOTH pure map-side expression
    work, zero shuffle, zero join; the only exchange is the top-k
    window on (query_id). The query set is reranking-sized (collected
    like the IVF codebook); corpus vectors stream through once.
    """
    from decimal import ROUND_HALF_UP, Decimal

    from pyspark.sql.window import Window

    emb = _load(spark, sf_dir).select("vec_id", "embedding")
    train = [
        r["embedding"]
        for r in emb.filter(
            (F.col("vec_id") >= PQ_TRAIN_OFFSET)
            & (F.col("vec_id") < PQ_TRAIN_OFFSET + n_cent)
        )
        .orderBy("vec_id")
        .collect()
    ]
    queries = [
        (r["vec_id"], r["embedding"])
        for r in emb.filter(F.col("vec_id") < n_queries)
        .orderBy("vec_id")
        .collect()
    ]
    if len(train) < n_cent:
        return _empty_or_raise(
            spark, sf_dir, _ANN_PQ_SCHEMA,
            f"ann_pq needs {n_cent} training rows with vec_id in "
            f"[{PQ_TRAIN_OFFSET}, {PQ_TRAIN_OFFSET + n_cent})",
        )
    if not queries:
        return local_frame(spark, [], _ANN_PQ_SCHEMA)
    dim = len(train[0])
    d0 = dim // m_sub
    # sub-codebook: centroid (m, j) = subspace-m slice of training vec j
    cb = [
        [train[j][m * d0:(m + 1) * d0] for j in range(n_cent)]
        for m in range(m_sub)
    ]

    def _pydot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    def _micro(x: float) -> int:
        # exact-binary half-away rounding of the true double — matches
        # Spark's BigDecimal(double) ROUND_HALF_UP and DuckDB's round()
        return int(Decimal(x).quantize(Decimal(1), ROUND_HALF_UP))

    # per-query ADC lookup tables, micro-quantized: lut[qi][m][j]
    lut = [
        [
            [_micro(_pydot(q[m * d0:(m + 1) * d0], cb[m][j]) * 1e6)
             for j in range(n_cent)]
            for m in range(m_sub)
        ]
        for _, q in queries
    ]

    # r7: the sub-codebook folds to ONE array<array<array<double>>> SQL
    # literal and the whole per-row code array is a single transform
    # expression — identical slice/zip_with/aggregate fold, identical
    # round + lexicographic argmax (tie → smallest j), but the plan is
    # built with ONE expr parse instead of thousands of py4j calls and
    # the scan is spread over the cluster (helper block above)
    cb_sql = "array(" + ", ".join(_lit_mat_sql(cb[m]) for m in range(m_sub)) + ")"
    codes_expr = F.expr(
        f"transform(sequence(0, {m_sub - 1}), m -> CAST(-array_max("
        f"transform(sequence(0, {n_cent - 1}), j -> named_struct("
        f"'s', round(aggregate(zip_with(slice(embedding, m * {d0} + 1, {d0}), "
        f"{cb_sql}[m][j], (x, y) -> x * y), 0.0D, (acc, v) -> acc + v), 6), "
        f"'nj', -j))).nj AS INT))"
    )
    coded = spread(emb).select("vec_id", codes_expr.alias("codes"))
    # ADC: score(q, x) = Σ_m lut[q][m][code_m(x)] — pure map-side
    # element_at lookups against literal int arrays (one expr string:
    # exact integer sums, order-free)
    per_query_sql = ", ".join(
        "named_struct('query_id', CAST({qid} AS BIGINT), 's_micro', "
        "CAST(0 AS BIGINT) + {terms})".format(
            qid=int(qid),
            terms=" + ".join(
                "element_at(array({lits}), codes[{m}] + 1)".format(
                    lits=", ".join(f"{int(v)}L" for v in lut[qi][m]), m=m
                )
                for m in range(m_sub)
            ),
        )
        for qi, (qid, _) in enumerate(queries)
    )
    scored = (
        coded.select("vec_id", F.explode(F.expr(f"array({per_query_sql})")).alias("q"))
        .select("vec_id", F.col("q.query_id").alias("query_id"),
                F.col("q.s_micro").alias("s_micro"))
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("s_micro"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "vec_id",
            F.round(F.col("s_micro") / 1e6, 6).alias("score"),
            "rank",
        )
        .orderBy("query_id", "rank")
    )


def semantic_dedup(spark: SparkSession, sf_dir: str,
                   threshold: float = SEMDEDUP_THRESHOLD,
                   n_cells: int = IVF_CELLS) -> DataFrame:
    """SemDeDup-style cluster-bounded semantic deduplication (Abbas et
    al. 2023, "SemDeDup: Data-efficient learning at web-scale through
    semantic deduplication"): assign every embedding to its nearest
    coarse-quantizer centroid, compute pairwise cosine ONLY within each
    cluster, and drop every vector that has an above-threshold neighbor
    with a smaller vec_id in its cluster (the smallest id is the kept
    representative — the paper keeps one exemplar per intra-cluster
    duplicate group; min-id is the deterministic choice).

    Relation to the other near-dup paths: `embedding_near_dup_pairs`
    bounds candidates by SRP bucket (recall degrades near hyperplanes);
    this op bounds them by k-means-style cell — the third published
    candidate-generation geometry, and the one SemDeDup showed scales
    to LAION-scale corpora. The codebook here is the same deterministic
    sampled-vector quantizer as `ivf_topk` (vec_id < n_cells, cell =
    vec_id), inlined as literals so assignment is pure map-side
    expression work.

    100-TB shape: one map-side assignment pass (no shuffle, no join to
    build clusters), then ONE equi-join on the cell id — pair volume is
    sum(cell_size²), controlled by n_cells, which at production scale
    grows with the corpus (SemDeDup uses ~110k clusters for LAION) to
    keep cells bounded. Vectors are L2-normalized ONCE before the join
    (a projection), so the pair score is a single zip_with dot — not a
    per-pair norm recomputation.
    """
    emb = _load(spark, sf_dir).select("vec_id", "embedding")
    centroids = [
        r["embedding"]
        for r in emb.filter(F.col("vec_id") < n_cells).orderBy("vec_id").collect()
    ]
    if not centroids:
        return _empty_or_raise(
            spark, sf_dir, _SEMDEDUP_SCHEMA,
            f"semantic_dedup needs codebook rows with vec_id in [0, {n_cells})",
        )

    # r7: spread the scan; ONE row norm feeds both the cell scores
    # and the unit normalization; codebook folds to SQL literals —
    # identical values (helper block above)
    emb = spread(emb).withColumn("nrm", _norm(F.col("embedding")))
    assigned = emb.withColumn(
        "cell", (-F.array_max(_cell_scores_sql(centroids))["nc"]).cast("int")
    )
    unit = assigned.select(
        "vec_id",
        "cell",
        F.transform("embedding", lambda x: x / F.col("nrm")).alias("u"),
    )
    a = unit.select(
        F.col("vec_id").alias("a_id"), "cell", F.col("u").alias("ua")
    )
    b = unit.select(
        F.col("vec_id").alias("b_id"), "cell", F.col("u").alias("ub")
    )
    pair_dot = _dot(F.col("ua"), F.col("ub"))
    pairs = (
        a.join(b, "cell")
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("cosine", F.round(pair_dot, 6))
        .filter(F.col("cosine") >= threshold)
    )
    dups = pairs.groupBy("b_id").agg(F.min("a_id").alias("dup_of"))
    return (
        unit.select("vec_id", "cell")
        .join(dups, unit["vec_id"] == dups["b_id"], "left")
        .select(
            "vec_id",
            "cell",
            F.col("dup_of"),
            F.col("dup_of").isNull().alias("is_kept"),
        )
        .orderBy("vec_id")
    )


def _srp_weights(n_planes: int, dim: int):
    """Driver-side plane weights: weight(p, i) = int(md5(f"{p}|{i}")[:4],
    16) / 32768 - 1, in [-1, 1). The DuckDB oracle computes the same
    value in-plan (`_srp_bucket_sql` in __spark_entry__.py:
    ('0x' || substr(md5(p|i), 1, 4))::INT / 32768.0 - 1.0). /32768.0 and
    -1.0 are exact in binary (power-of-two divisor; (k-32768)/32768 is
    representable), so the literal weight is bit-identical to it."""
    import hashlib

    return [
        [
            int(hashlib.md5(f"{p}|{i}".encode()).hexdigest()[:4], 16)
            / 32768.0
            - 1.0
            for i in range(dim)
        ]
        for p in range(n_planes)
    ]


def _srp_bucket(col, n_planes: int, dim: int):
    """Sign-random-projection bucket id: plane p = deterministic pseudo-
    random unit-free vector derived from md5(p||i) (`_srp_weights`, md5
    of plan constants, NOT of data — the same formula is reproducible in
    SQL); bucket bit p = sign of dot(plane_p, v). The weights fold to
    driver-side literals, so the plane dots are codegen arithmetic with
    no per-element md5/conv at runtime. `dim` is the embedding length
    (`_dim_of`)."""
    ws = _srp_weights(n_planes, dim)
    bucket = F.lit(0)
    for p in range(n_planes):
        pd = F.aggregate(
            F.zip_with(col, F.expr(_lit_vec_sql(ws[p])), lambda x, w: x * w),
            F.lit(0.0).cast("double"),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(pd > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def lsh_bucketed_topk(spark: SparkSession, sf_dir: str,
                      k: int = DEFAULT_K, n_queries: int = DEFAULT_QUERIES,
                      n_planes: int = 4) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's SRP bucket.
    The scale path — equi-join on the bucket id instead of a cross join."""
    from pyspark.sql.window import Window

    # r7: spread the single-file scan; literal-weight SRP planes (same
    # bucket bits — see _srp_weights); norms once per side (same cosine).
    # The query side branches off the PRE-spread scan so its filter
    # pushes into the scan (the ivf broadcast-subtree lesson)
    base = _load(spark, sf_dir).select("vec_id", "embedding")
    dim = _dim_of(spark, sf_dir)
    if dim is None:  # empty table
        return local_frame(spark, [], _TOPK_SCHEMA)
    emb_b = (
        spread(base)
        .withColumn("bucket", _srp_bucket(F.col("embedding"), n_planes, dim))
        .withColumn("nrm", _norm(F.col("embedding")))
    )
    queries = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q"),
        _srp_bucket(F.col("embedding"), n_planes, dim).alias("qbucket"),
        _norm(F.col("embedding")).alias("qn"),
    )
    score = F.round(
        _dot(F.col("q"), F.col("embedding")) / (F.col("qn") * F.col("nrm")), 6
    )
    scored = (
        emb_b.join(
            F.broadcast(queries),
            (F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != F.col("query_id")),
        )
        .withColumn("score", score)
        .select("query_id", "vec_id", "score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "score", "rank")
        .orderBy("query_id", "rank")
    )
