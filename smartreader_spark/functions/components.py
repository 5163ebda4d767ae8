"""Connected components over the near-duplicate pair graph.

Near-dup pairs are not an equivalence relation: A~B and B~C without A~C
is the normal case for drifting boilerplate, serial plagiarism, and
template families. Pairwise loser rules (drop every doc_b) over-drop on
chains — B loses to A and C loses to B even though C may be the only
surviving copy of its content. The curation-grade semantics (what the
CCNet/Gopher-style dedup stages actually want) is: group documents into
connected components of the near-dup graph and keep exactly one
canonical representative — the minimum doc_id — per component.

Scale shape
-----------
Iterative min-label propagation with pointer jumping, the
"hash-to-min" family (Rastogi et al., "Finding Connected Components in
MapReduce and Beyond"): every round each vertex takes the minimum of
its own label, its neighbors' labels (one equi-join on the symmetrized
edge list + one groupBy-min), and its label's label (one equi-join of
the label table against itself — the pointer jump that contracts paths
geometrically). Pointer jumping turns the O(diameter) naive propagation
into O(log n) rounds; near-dup graphs are almost all tiny dense
families, which converge in 2-3 rounds.

Per round the work is two shuffles on fixed-width long keys — no text,
no signatures — over a label table of one (long, long) row per vertex.
Labels are ``localCheckpoint``-ed each round so the plan does not grow
with the iteration count (lineage truncation is what makes round 20
cost the same as round 2), and convergence is detected by the label-sum
invariant: per-vertex labels are monotone non-increasing (every update
is a ``least``), so the sum (in decimal, overflow-proof at 10^12 docs)
is strictly decreasing until the fixpoint — one tiny aggregate per
round instead of a change-count join.

Reference parity: the reference has no graph stage (SmartReader is
single-document); this operator serves SURVEY §2's training-data
pipeline tier, composing with functions/dedup.py's pair miners.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from smartreader_spark.functions.dedup import _sf_simhash_pairs
from smartreader_spark.functions.textqa import load_documents
from smartreader_spark.layout import spread
from smartreader_spark.observed import observed_value

MAX_ITER = 25

# instrumentation: rounds the last connected_components call needed to
# converge (read by `tools/scale_step.py components` — the scale claim is
# that this stays O(log n) while the input grows)
LAST_ROUNDS = 0


def connected_components(vertices: DataFrame, edges: DataFrame,
                         max_iter: int = MAX_ITER) -> DataFrame:
    """Connected components of the undirected graph (`vertices`,
    `edges`). `vertices` needs a `doc_id` column; `edges` needs
    (`doc_a`, `doc_b`). Returns (doc_id, component) where `component`
    is the minimum doc_id reachable from `doc_id` (so component ids are
    themselves vertex ids, and the representative of a component is the
    vertex whose doc_id equals its component)."""
    global LAST_ROUNDS
    sym = edges.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    # the edge list is reused every round: materialize it once, ALREADY
    # hash-partitioned on the join key (checkpoint preserves physical
    # partitioning, so every round's neighbor join reuses it instead of
    # re-exchanging the edge list — guide §2.4 "share one exchange")
    par = vertices.sparkSession.sparkContext.defaultParallelism
    sym = sym.repartition(par, "src").localCheckpoint(eager=True)

    # convergence detection rides the checkpoint job itself: the
    # label-sum invariant is collected as an observed metric of the SAME
    # action that materializes the round (CollectMetrics is evaluated
    # while the partitions stream into the checkpoint), so each round is
    # ONE driver action instead of two — the per-round scheduling
    # latency was the measured floor of this operator (r7). The wait on
    # the metric is bounded; a metric not posted in time costs the round
    # one aggregate over its checkpoint instead.
    label_sum = F.sum(F.col("component").cast("decimal(38,0)")).alias("s")

    def _ckpt_with_sum(df: DataFrame):
        obs = Observation()
        ck = df.observe(obs, label_sum).localCheckpoint(eager=True)
        return ck, observed_value(obs, "s", lambda: ck.agg(label_sum).collect()[0][0])

    labels, prev_sum = _ckpt_with_sum(
        vertices.select(F.col("doc_id"), F.col("doc_id").alias("component"))
    )

    LAST_ROUNDS = 0
    for _ in range(max_iter):
        LAST_ROUNDS += 1
        # min over neighbors' labels (inner join: isolated vertices get
        # no row here and keep their label through the left join below)
        nbr_min = (
            sym.join(
                labels.select(
                    F.col("doc_id").alias("src"),
                    F.col("component").alias("src_comp"),
                ),
                "src",
            )
            .groupBy("dst")
            .agg(F.min("src_comp").alias("nbr_comp"))
            .select(F.col("dst").alias("doc_id"), "nbr_comp")
        )
        stepped = labels.join(nbr_min, "doc_id", "left").select(
            "doc_id",
            F.least(
                F.col("component"), F.coalesce("nbr_comp", F.col("component"))
            ).alias("component"),
        )
        # pointer jump: component <- label(component). Every label value
        # is a vertex id (it starts as one and only ever takes other
        # labels' values), so the inner self-join is total.
        jumped = (
            stepped.alias("l")
            .join(
                stepped.select(
                    F.col("doc_id").alias("cid"),
                    F.col("component").alias("ccomp"),
                ).alias("m"),
                F.col("l.component") == F.col("m.cid"),
            )
            .select(
                F.col("l.doc_id").alias("doc_id"),
                F.least(F.col("l.component"), F.col("m.ccomp")).alias("component"),
            )
        )
        labels, cur_sum = _ckpt_with_sum(jumped)
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels


def dedup_components(spark: SparkSession, sf_dir: str,
                     max_hamming: int = 3) -> DataFrame:
    """Component labels for every document under the simhash near-dup
    graph (the same pair miner as `dedup_simhash_pairs`, skew valve
    included): (doc_id, component, is_canonical). A downstream dedup
    keeps `is_canonical` rows — exactly one survivor per near-dup
    family, chains and all."""
    # r7: the pair graph comes from the session-shared miner memo
    # (identical to dedup_simhash_pairs' output — see _PAIRS_CACHE)
    docs = load_documents(spark, sf_dir).select("doc_id")
    pairs = _sf_simhash_pairs(spark, sf_dir, max_hamming=max_hamming).select(
        "doc_a", "doc_b"
    )
    labels = connected_components(docs.select("doc_id"), pairs)
    return (
        labels.select(
            "doc_id",
            "component",
            (F.col("doc_id") == F.col("component")).alias("is_canonical"),
        )
        .orderBy("doc_id")
    )


def dedup_family_keep_best(spark: SparkSession, sf_dir: str,
                           max_hamming: int = 3) -> DataFrame:
    """Near-dup family dedup with QUALITY-FIRST survivor selection:
    the same simhash pair graph and connected components as
    `dedup_components`, but the kept representative per family is the
    highest-quality member — max `n_chars`, ties to the smallest
    doc_id — instead of the min-id. This is what production curation
    actually wants: when a near-dup family mixes a full article with
    its truncated or boilerplate-laden variants, min-id keeps whichever
    happened to be crawled first; quality-keep retains the longest
    copy. (The same family-size/keeper columns double as the family
    audit table.)

    Scale shape: on top of the O(log n)-round component labels, one
    groupBy-min per family over a fixed-width struct key (the
    (-n_chars, doc_id) argmax encoding — no window over the full corpus,
    no text in the shuffle) and one component-keyed equi-join to tag
    members. Reference parity: SmartReader is single-document; this
    serves SURVEY §2's training-data pipeline tier with
    dedup_components."""
    docs = spread(load_documents(spark, sf_dir).select("doc_id", "n_chars"))
    pairs = _sf_simhash_pairs(spark, sf_dir, max_hamming=max_hamming).select(
        "doc_a", "doc_b"
    )
    labels = connected_components(docs.select("doc_id"), pairs)
    sized = labels.join(docs.select("doc_id", "n_chars"), "doc_id")
    best = sized.groupBy("component").agg(
        F.min(
            F.struct(
                (-F.col("n_chars")).alias("neg_chars"),
                F.col("doc_id").alias("d"),
            )
        ).alias("b"),
        F.count("*").alias("family_size"),
    )
    return (
        sized.join(best, "component")
        .select(
            "doc_id",
            "component",
            "n_chars",
            F.col("b.d").alias("keeper_doc_id"),
            "family_size",
            (F.col("doc_id") == F.col("b.d")).alias("is_kept"),
        )
        .orderBy("doc_id")
    )
