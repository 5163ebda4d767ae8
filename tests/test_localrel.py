"""Driver-side rows as Arrow-backed local relations (localrel.py): the
same schema and rows as `spark.createDataFrame(rows, schema)` for every
schema the engine builds frames of, a `LocalTableScan` instead of a
pickled-row Python RDD in the plans, and no other way into Spark for
driver rows."""

import ast
import datetime
import glob
import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from smartreader_spark.functions.retrieval import BM25_QUERIES
from smartreader_spark.functions.similarity import (
    _ANN_PQ_SCHEMA,
    _SEMDEDUP_SCHEMA,
    _TOPK_SCHEMA,
)
from smartreader_spark.localrel import local_frame
from smartreader_spark.pipeline.extract import INPUT_SCHEMA
from smartreader_spark.sources.pdf_corpus import pdf_corpus_rows
from smartreader_spark.streaming.replay import FLUSH_TS, FLUSH_TYPE
from test_events import SF  # the sf tables the Spark tests share

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# every schema a production call site hands the helper, with rows of the
# shape that site builds (None where the schema allows it) and no rows
CASES = {
    "input_spans": (INPUT_SCHEMA, [
        ("a", [("html", "<p>x</p>", None, 0), ("image", "", "img/1.png", 8)]),
        ("b", []),
        ("c", None),
    ]),
    "pdf": ("doc_id long, pdf binary", pdf_corpus_rows(2)),
    "bm25_terms": ("query_id int, term string",
                   [(qid, t) for qid, q in BM25_QUERIES for t in q.split()]),
    "bpe_merges": ("merge_rank long, lhs string, rhs string, pair_count long",
                   [(0, "t", "h", 41), (1, "th", "e", 30)]),
    "cosine_pairs": ("vec_a bigint, vec_b bigint, cosine double", [(1, 2, 0.5)]),
    "topk": (_TOPK_SCHEMA, [(1, None, None, 1)]),
    "ann_pq": (_ANN_PQ_SCHEMA, [(1, 7, 0.25, 1)]),
    "semdedup": (_SEMDEDUP_SCHEMA, [(3, None, None, True)]),
    "flush_sentinel": ("event_id long, ts_s string, user_id long, "
                       "event_type string, value double, props string",
                       [(-1, FLUSH_TS, -1, FLUSH_TYPE, 0.0, "{}")]),
}


def jvm_schema(df) -> StructType:
    """The schema the JVM plan carries (PySpark caches its own copy of
    the schema it was handed on the Python object)."""
    return StructType.fromJson(json.loads(df._jdf.schema().json()))


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("with_rows", [True, False], ids=["rows", "empty"])
@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_matches_create_data_frame(spark, case, with_rows):
    schema, rows = CASES[case]
    rows = rows if with_rows else []
    want = spark.createDataFrame(rows, schema)
    got = local_frame(spark, rows, schema)
    assert jvm_schema(got) == jvm_schema(want) == want.schema
    assert got.collect() == want.collect()
    assert "LocalTableScan" in plan_of(got)
    assert "ExistingRDD" not in plan_of(got)


def test_local_frame_from_arrow_keeps_rows(spark):
    """An Arrow collect handed back (streaming/replay.drain) gives the
    rows and schema of the row path, timestamps, maps and nested arrays
    included."""
    src = spark.range(3).select(
        F.col("id"),
        F.window(F.timestamp_seconds(F.col("id") * 90), "1 minute").alias("w"),
        F.create_map(F.lit("k"), F.col("id").cast("string")).alias("m"),
        F.array(F.struct(F.col("id").alias("o"), F.lit("t").alias("t"))).alias("a"),
    )
    want = spark.createDataFrame(src.collect(), src.schema)
    got = local_frame(spark, src.toArrow(), src.schema)
    assert jvm_schema(got) == jvm_schema(want)
    assert got.collect() == want.collect()
    assert isinstance(got.collect()[1].w.start, datetime.datetime)
    assert "LocalTableScan" in plan_of(got)


@pytest.mark.parametrize("query", ["pipeline_end_to_end", "pdf_spans"])
def test_driver_rows_plan_as_local_relations(spark, query):
    """The synthetic PDF corpus enters both queries as a local relation:
    no pickled-row RDD scan, so no stage of Python workers that only
    unpickle rows (and no second worker pool under the driver)."""
    import __spark_entry__ as e

    df = e.queries()[query](spark, SF)
    df.collect()  # AQE-finalize
    plan = plan_of(df)
    assert "LocalTableScan" in plan, plan[:800]
    assert "ExistingRDD" not in plan, plan[:800]


def _create_data_frame_calls(path: str) -> list[int]:
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), path)
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
    ]


def test_only_the_helper_calls_create_data_frame():
    """Driver rows reach Spark through `local_frame` alone: a direct
    `createDataFrame(<list>)` would plan a Python-RDD scan again."""
    paths = sorted(glob.glob(os.path.join(REPO, "smartreader_spark", "**", "*.py"),
                             recursive=True))
    paths.append(os.path.join(REPO, "__spark_entry__.py"))
    calls = {
        os.path.relpath(p, REPO): lines
        for p in paths
        if (lines := _create_data_frame_calls(p))
    }
    assert set(calls) == {"smartreader_spark/localrel.py"}, calls
    assert len(calls["smartreader_spark/localrel.py"]) == 1, calls
