"""The session memo (smartreader_spark/memo.py) and its four sites: a
memoized result is never served for a rewritten input, and an evicted
entry's cached DataFrames are released."""

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from test_functions import SF


def _gates(spark, sf_dir):
    from smartreader_spark.functions import curation

    return curation._GATES_CACHE, curation.curation_pipeline(spark, sf_dir)


def _simhash_pairs(spark, sf_dir):
    from smartreader_spark.functions import dedup

    return dedup._PAIRS_CACHE, dedup.simhash_near_dup_pairs(spark, sf_dir)


def _pipeline_stages(spark, sf_dir):
    from smartreader_spark.pipeline import training

    return training._STAGES_CACHE, training.training_pipeline(spark, sf_dir)


def _bpe_train(spark, sf_dir):
    from smartreader_spark.functions import bpe

    return bpe._TRAIN_CACHE, bpe.learn_bpe_merges(spark, sf_dir)


def _docs(spark, parity):
    """Half of the sf docs plus exact copies of three of them (so the
    simhash pair table is non-empty)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").filter(
        F.col("doc_id") % 2 == parity
    )
    return docs.unionByName(
        docs.orderBy("doc_id").limit(3).withColumn(
            "doc_id", F.col("doc_id") + 100_000
        )
    )


@pytest.mark.parametrize(
    "site", [_gates, _simhash_pairs, _pipeline_stages, _bpe_train],
    ids=["gates", "simhash_pairs", "pipeline_stages", "bpe_train"],
)
def test_rewritten_input_is_never_served_from_memo(spark, tmp_path, site):
    sf_dir, ref_dir = str(tmp_path / "sf"), str(tmp_path / "ref")
    _docs(spark, 0).write.parquet(f"{sf_dir}/documents.parquet")
    memo, df = site(spark, sf_dir)
    before = df.collect()
    evicted = list(memo.values())

    # rewrite the table behind Spark's back (another job's overwrite: new
    # part-file names, and no cache refresh in this session)
    new_docs = _docs(spark, 1).toPandas()
    shutil.rmtree(f"{sf_dir}/documents.parquet")
    os.mkdir(f"{sf_dir}/documents.parquet")
    pq.write_table(
        pa.Table.from_pandas(new_docs, preserve_index=False),
        f"{sf_dir}/documents.parquet/part-00000-rewritten.parquet",
    )
    after = site(spark, sf_dir)[1].collect()
    _docs(spark, 1).write.parquet(f"{ref_dir}/documents.parquet")
    fresh = site(spark, ref_dir)[1].collect()
    assert before and after
    assert after == fresh
    assert after != before

    # the rewrite evicted the old entry and released its cached frames
    for value in evicted:
        items = value.values() if isinstance(value, dict) else [value]
        for old in items:
            if isinstance(old, DataFrame):
                assert not old.storageLevel.useMemory


def test_memo_hits_and_unpersists_evicted_cached_entry(spark):
    from smartreader_spark.memo import SessionMemo

    memo = SessionMemo("test")
    first = memo.get_or_build(spark, ("a",), (), lambda: spark.range(3).cache())
    first.count()
    assert first.storageLevel.useMemory
    assert memo.get_or_build(spark, ("a",), (), lambda: None) is first
    memo.get_or_build(spark, ("b",), (), lambda: spark.range(4).cache())
    assert not first.storageLevel.useMemory
    assert len(memo) == 1
    (key,) = memo
    assert key[0] == spark.sparkContext.applicationId
