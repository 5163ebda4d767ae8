"""SparkSession factory with the engine's recommended configs."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

# Arrow batches of the sessions `make_session` builds are bounded by
# bytes: a batch closes at ARROW_MAX_BYTES or at ARROW_MAX_RECORDS rows,
# whichever comes first (Spark 4.1 applies both to mapInPandas input).
# r2 tuned a record cap of 8 for MB-sized pages, but a record cap bounds
# bytes only when a batch's documents are of similar size, and for tiny
# documents it mostly buys per-batch fixed cost: 250 sf docs of about
# 400 bytes per task made 32 round trips, the worker waiting 0.10-0.19 s
# per task for its next batch. Swept on both perfbench workloads at 1, 2
# and 4 MiB (CHANGES.md): training_pipeline's 250-doc tasks take one
# batch at any of them, and web_pages' ~3 MB files take 3-4, 2-3 and 1-2
# batches (at 8 records: 3); 2 MiB keeps a batch to a few MB-sized pages.
# The record cap only stops a batch of tiny rows from growing without
# end. bench.py (which sets no byte cap) and perfbench/layers.py import
# ARROW_MAX_RECORDS; the tests (tests/conftest.py) and tools run on the
# sessions built here.
ARROW_MAX_RECORDS = 1024
ARROW_MAX_BYTES = 2 << 20


def make_session(
    master: str | None = None,
    app_name: str = "smartreader-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Local/test session. On a real cluster these land in spark-submit
    conf; the Arrow byte cap bounds a Python worker's input batch to
    about ARROW_MAX_BYTES plus one document, whatever the documents'
    sizes (median fixture ≈115 KB → about 18 docs per batch; tiny sf
    docs → one batch per task).
    `master` and `shuffle_partitions` default to `SPARK_GRAFT_CPUS`
    cores, else to the CPUs this process may run on. The driver memory
    and JVM options take effect only in a process's first session: a
    later builder's values show in its conf but the JVM keeps its heap."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_MAX_RECORDS))
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(ARROW_MAX_BYTES))
        .config("spark.sql.files.maxPartitionBytes", "64m")
        # the catalog's default-database directory (static, so set here):
        # out of the working directory, which under pytest is the checkout
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(tempfile.gettempdir(), "smartreader-spark-warehouse"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "12g"))
        # Arrow feeding of MB-sized documents churns the old gen; G1's
        # humongous-allocation handling stalls feeder threads under many
        # concurrent mapInPandas tasks (measured: 3-10x wall blowup).
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:+UseParallelGC -Xms2g",
        )
    )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def package_zip() -> str:
    """Zip the smartreader_spark package for --py-files shipment to
    executors (multi-executor clusters don't share the driver's cwd) into
    the temporary directory; return the zip's path. Idempotent per
    content: rebuilt when any source file is newer."""
    import zipfile

    out_path = os.path.join(tempfile.gettempdir(), "smartreader_spark_pkg.zip")
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    newest = 0.0
    files = []
    for dirpath, _dirnames, filenames in os.walk(pkg_root):
        if "__pycache__" in dirpath:
            continue
        for fn in filenames:
            if fn.endswith(".py"):
                p = os.path.join(dirpath, fn)
                files.append(p)
                newest = max(newest, os.path.getmtime(p))
    if not os.path.exists(out_path) or os.path.getmtime(out_path) < newest:
        parent = os.path.dirname(pkg_root)
        with zipfile.ZipFile(out_path + ".tmp", "w", zipfile.ZIP_DEFLATED) as zf:
            for p in files:
                zf.write(p, os.path.relpath(p, parent))
        os.replace(out_path + ".tmp", out_path)
    return out_path


def warm_python_workers(spark: SparkSession, n_workers: int) -> None:
    """Pre-fork the Python worker pool while the cluster is otherwise idle.
    Creating workers lazily *during* the first real mapInPandas stage
    serializes their startup behind busy cores (measured: first-job wall
    up to 4× the steady state)."""
    import pandas as pd

    def noop(batches):
        for pdf in batches:
            yield pd.DataFrame({"n": [len(pdf)]})

    spark.range(n_workers * 4).repartition(n_workers).mapInPandas(
        noop, "n long"
    ).count()
