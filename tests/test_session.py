"""The shared test session (tests/conftest.py) is the engine's own
`make_session` session: the Arrow batch caps (bytes and records) the
benchmark runs with, and one core and one shuffle partition per CPU of
`SPARK_GRAFT_CPUS`, else of this process's CPU affinity; its catalog
directory lies outside the working directory, so a test run leaves no
`spark-warehouse/` there."""

import os

from smartreader_spark.pipeline.session import ARROW_MAX_BYTES, ARROW_MAX_RECORDS


def test_shared_session_is_make_sessions(spark):
    n = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    assert spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch") == str(ARROW_MAX_RECORDS)
    assert spark.conf.get("spark.sql.execution.arrow.maxBytesPerBatch") == str(ARROW_MAX_BYTES)
    assert spark.sparkContext.master == f"local[{n}]"
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(n)


def test_warehouse_is_outside_the_working_directory(spark):
    from urllib.parse import urlparse

    warehouse = os.path.abspath(urlparse(spark.conf.get("spark.sql.warehouse.dir")).path)
    assert os.path.commonpath([warehouse, os.getcwd()]) != os.getcwd(), warehouse


def _input_batches(spark, df) -> list[tuple[int, int]]:
    """(rows, text bytes) of each Arrow batch mapInPandas hands the
    Python worker for `df`'s one partition."""
    import pandas as pd

    def sizes(batches):
        for pdf in batches:
            yield pd.DataFrame({"n": [len(pdf)], "b": [int(pdf["s"].str.len().sum())]})

    return [(r.n, r.b) for r in df.coalesce(1).mapInPandas(sizes, "n long, b long").collect()]


def test_arrow_batches_are_bounded_by_bytes(spark):
    """mapInPandas input batches close at the byte cap: 12 rows of 512 KB
    (6 MiB) cross the Python boundary in batches of a few rows, each at
    most the cap plus one row; 1,000 rows of 400 bytes, far under both
    caps, cross in one batch."""
    from pyspark.sql import functions as F

    row = 512 * 1024
    big = _input_batches(spark, spark.range(12).select(F.repeat(F.lit("x"), row).alias("s")))
    assert sum(n for n, _ in big) == 12
    assert len(big) >= 12 * row // (ARROW_MAX_BYTES + row), big
    assert all(b <= ARROW_MAX_BYTES + row for _, b in big), big
    tiny = _input_batches(spark, spark.range(1000).select(F.repeat(F.lit("x"), 400).alias("s")))
    assert tiny == [(1000, 400_000)]
