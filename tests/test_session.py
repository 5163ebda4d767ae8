"""The shared test session (tests/conftest.py) is the engine's own
`make_session` session: the Arrow batch cap the benchmark runs with, and
one core and one shuffle partition per CPU of `SPARK_GRAFT_CPUS`, else
of this process's CPU affinity; its catalog directory lies outside the
working directory, so a test run leaves no `spark-warehouse/` there."""

import os

from smartreader_spark.pipeline.session import ARROW_MAX_RECORDS


def test_shared_session_is_make_sessions(spark):
    n = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    assert spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch") == str(ARROW_MAX_RECORDS)
    assert spark.sparkContext.master == f"local[{n}]"
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(n)


def test_warehouse_is_outside_the_working_directory(spark):
    from urllib.parse import urlparse

    warehouse = os.path.abspath(urlparse(spark.conf.get("spark.sql.warehouse.dir")).path)
    assert os.path.commonpath([warehouse, os.getcwd()]) != os.getcwd(), warehouse
