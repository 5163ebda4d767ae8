"""Physical-plan hygiene tests: the scale properties the engine promises
must be visible in .explain output — column pruning at the scan, broadcast
for small dims, no Python evaluation in built-in-only plans, codegen
coverage."""

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_extraction_scan_prunes_to_needed_columns(spark):
    """The extraction plan must read only (doc_id, spans) even when the
    source table carries extra columns."""
    from pyspark.sql import functions as F

    from smartreader_spark.pipeline.corpus import load_corpus
    from smartreader_spark.pipeline.extract import extract_articles

    wide = load_corpus(spark).withColumn("junk", F.lit("x")).withColumn(
        "more_junk", F.lit(1)
    )
    out = extract_articles(wide, num_partitions=2)
    # the junk columns must be projected away before the exchange feeding
    # MapInPandas (only doc_id + the reassembled html cross the shuffle)
    plan = plan_of(out)
    pre_map = plan.split("MapInPandas")[1] if "MapInPandas" in plan else plan
    assert "more_junk" not in pre_map, pre_map[:800]
    # stronger check on a parquet-backed scan:
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        wide.write.parquet(f"{tmp}/t")
        out2 = extract_articles(spark.read.parquet(f"{tmp}/t"), num_partitions=2)
        f2 = formatted(out2)
        read_schema = [l for l in f2.splitlines() if "ReadSchema" in l]
        assert read_schema, f2
        assert "junk" not in read_schema[0], read_schema[0]
        assert "doc_id" in read_schema[0] and "spans" in read_schema[0]


def test_filter_pushdown_reaches_parquet(spark):
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{SF}/lineitem.parquet").filter(
        F.col("l_shipdate") <= "1995-01-01"
    ).select("l_quantity")
    f = formatted(li)
    pushed = [l for l in f.splitlines() if "PushedFilters" in l]
    assert pushed and "l_shipdate" in pushed[0], f


def test_broadcast_join_chosen_for_dims(spark):
    import __spark_entry__ as e

    q = e.queries()["broadcast_join_topn"](spark, SF)
    plan = plan_of(q)
    assert "BroadcastHashJoin" in plan


def test_no_python_eval_in_analytical_plans(spark):
    """Dedup/QA/similarity ops must be pure JVM plans (no BatchEvalPython
    / ArrowEvalPython / MapInPandas nodes)."""
    import __spark_entry__ as e

    qs = e.queries()
    for name in ("dedup_exact", "dedup_minhash_lsh", "dedup_simhash",
                 "dedup_simhash_pairs", "token_counts", "bpe_token_counts",
                 "quality_scores", "language_guess",
                 "doc_fingerprints", "ann_brute_force", "ann_ivf",
                 "repetition_scores", "dedup_chunks_corpus",
                 "source_cap_sample", "source_temperature_sample",
                 "curation_pipeline", "sequence_pack",
                 "curation_funnel", "pii_scrub", "decontaminate_ngrams",
                 "unigram_surprisal", "bigram_surprisal",
                 "dataset_split", "training_layout",
                 "semantic_dedup", "bm25_search", "dsir_importance",
                 "ann_pq", "bpe_train", "bpe_fertility",
                 "event_sessions", "events_asof_error",
                 "source_length_stats"):
        plan = plan_of(qs[name](spark, SF))
        assert "Python" not in plan and "MapInPandas" not in plan, name


def test_events_asof_is_joinless(spark):
    """The as-of operator's whole point at scale: the error side is
    folded into the ordered window pass — the physical plan must contain
    NO join operator of any kind, and exactly one hash exchange on the
    entity key feeds the window."""
    import __spark_entry__ as e

    plan = plan_of(e.queries()["events_asof_error"](spark, SF))
    assert "Join" not in plan
    assert plan.count("hashpartitioning(user_id") == 1


def test_bpe_fertility_broadcasts_vocab_segmentation(spark):
    """The apply-side join (corpus tokens x final vocab segmentation)
    must be a broadcast hash join — the vocabulary is orders of
    magnitude smaller than the corpus — and never a cartesian."""
    import __spark_entry__ as e

    plan = plan_of(e.queries()["bpe_fertility"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_embedding_dedup_has_no_cross_product(spark):
    """dedup_embedding_cosine must candidate-generate via the SRP-bucket
    equi-join — no nested-loop / cartesian join may appear in the plan
    (the all-pairs theta-join dies at 10^12 rows)."""
    import __spark_entry__ as e

    qs = e.queries()
    for name in ("dedup_embedding_cosine", "ann_lsh_bucketed",
                 "semantic_dedup", "bm25_search", "dsir_importance"):
        plan = plan_of(qs[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_ann_ivf_is_broadcast_equi_join(spark):
    """ann_ivf's cell assignment must be map-side (codebook inlined as
    literals — no join, no shuffle to build the inverted lists) and the
    probe join must be a broadcast equi-join on the cell id: at 10^12
    vectors the corpus side is scanned once and never cross-joined."""
    import __spark_entry__ as e

    plan = plan_of(e.queries()["ann_ivf"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    # exactly one corpus-side scan feeds the probe join (the codebook is
    # literal state, not a second scan joined in)
    assert plan.count("Scan parquet") <= 2  # corpus + tiny query side


def test_extraction_plan_is_arrow_vectorized(spark):
    """The extraction stage itself must be the Arrow-batched MapInPandas
    operator (the north_star's vectorized UDF), not a row-wise UDF."""
    from smartreader_spark.pipeline.corpus import load_corpus
    from smartreader_spark.pipeline.extract import extract_articles

    out = extract_articles(load_corpus(spark), num_partitions=2)
    plan = plan_of(out)
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan  # row-at-a-time python — forbidden


def test_whole_stage_codegen_covers_analytics(spark):
    import __spark_entry__ as e

    df = e.queries()["agg_pushdown"](spark, SF)
    df.collect()  # let AQE finalize the plan
    plan = plan_of(df)
    # '*(n)' marks WholeStageCodegen stages in the executed-plan string
    assert "*(" in plan, plan[:500]
    # and the aggregation is map-side partial before the shuffle
    assert "partial_sum" in plan


def test_pipeline_end_to_end_plan_shape(spark):
    """The composed training pipeline's plan must show ONE extraction
    pass per leg (2 distinct MapInPandas, behind the cache barrier, even
    though dedup's self-joins reference the table many times), zero
    row-wise Python eval nodes, and zero cartesian joins — the VERDICT
    r3 #1 acceptance shape. Distinct-instance counting per
    tools/plan_audit.py: textual reprints of a cached build subplan are
    byte-identical; genuinely distinct operators differ."""
    import re

    from smartreader_spark.pipeline.training import training_pipeline

    df = training_pipeline(spark, "/root/testdata/sf0.001")
    df.collect()  # AQE-finalize
    plan = plan_of(df)

    def distinct(pattern):
        return len({m.strip() for m in re.findall(pattern, plan)})

    assert distinct(r"MapInPandas [^\n]*") == 2, plan[:500]
    assert distinct(r"(?:BatchEvalPython|ArrowEvalPython)[^\n]*") == 0
    assert distinct(r"(?:BroadcastNestedLoopJoin|CartesianProduct)[^\n]*") == 0
    # the stage barrier is the cache, not a driver collect
    assert "InMemoryTableScan" in plan
    # the near-dup pairs feed an anti-join and a count: nothing sorts them
    assert "rangepartitioning(doc_a" not in plan
    # the winning-language struct is one named column of the final
    # projection, not re-inlined into lang_guess and stopword_ratio
    final_plan = plan.split("== Initial Plan ==")[0]
    assert final_plan.count("array_max(") == 1, final_plan.count("array_max(")


def test_source_cap_window_group_limit_pushdown(spark):
    """rank_in_source <= K must compile to WindowGroupLimit (partial +
    final): per-source state on the map side is a K-row heap, not the
    source's whole document list — the property that makes the per-host
    cap safe on a skewed 100-TB corpus."""
    import __spark_entry__ as e

    plan = plan_of(e.queries()["source_cap_sample"](spark, SF))
    assert "WindowGroupLimit" in plan


def test_chunk_dedup_no_cartesian_and_pruned_scan(spark):
    """The passage-dedup plan must contain no nested-loop join (the
    occurrence count is a window over the chunk digest, not a self-join)
    and must prune the documents scan to (doc_id, text)."""
    import __spark_entry__ as e

    df = e.queries()["dedup_chunks_corpus"](spark, SF)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    reads = [l for l in formatted(df).splitlines() if "ReadSchema" in l]
    # the chunk leg reads (doc_id, text); the left doc-list leg prunes
    # all the way down to doc_id alone — no scan may read lang/source
    assert reads and all("doc_id" in r and "lang" not in r
                         and "source" not in r for r in reads), reads
    assert any("text" in r for r in reads), reads


def test_decontamination_broadcasts_benchmark_set(spark):
    """The benchmark gram-digest membership probe must be a broadcast
    hash join (the corpus-side grams never shuffle for it), with no
    nested-loop fallback."""
    import __spark_entry__ as e

    df = e.queries()["decontaminate_ngrams"](spark, SF)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_pii_scrub_is_shuffle_free(spark):
    """PII scrub is a pure map stage: no exchange other than the final
    presentation sort, and the scan pruned to (doc_id, text)."""
    import __spark_entry__ as e

    df = e.queries()["pii_scrub"](spark, SF)
    plan = plan_of(df)
    # the only Exchange allowed is the rangepartitioning for orderBy
    exchanges = [l for l in plan.splitlines() if "Exchange" in l]
    assert all("rangepartitioning" in l for l in exchanges), exchanges
    reads = [l for l in formatted(df).splitlines() if "ReadSchema" in l]
    assert reads and all("lang" not in r and "source" not in r
                         for r in reads), reads


def test_dataset_split_is_pure_projection(spark):
    """The hash split is a map stage: no exchange beyond the
    presentation sort, and the scan pruned to (doc_id, source)."""
    import __spark_entry__ as e

    df = e.queries()["dataset_split"](spark, SF)
    plan = plan_of(df)
    exchanges = [l for l in plan.splitlines() if "Exchange" in l]
    assert all("rangepartitioning" in l for l in exchanges), exchanges
    reads = [l for l in formatted(df).splitlines() if "ReadSchema" in l]
    assert reads and all("text" not in r and "lang" not in r
                         for r in reads), reads


def test_training_layout_single_window_no_cartesian(spark):
    """The curation→split→packing composition must stay equi-join-only
    (the gates' doc_id joins) with exactly one Window operator — the
    per-source packing cumsum; a second window or a nested-loop join
    would mean a stage re-derived instead of composed."""
    import __spark_entry__ as e

    df = e.queries()["training_layout"](spark, SF)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the gates use window-based ranking internally (source_cap, chunk
    # occurrence) — but the PACKING cumsum must appear exactly once:
    assert plan.count("RunningWindowFunction") <= 1
    assert "Window" in plan
