"""SparkSession factory with the engine's recommended configs."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow record cap of the sessions `make_session` builds. 8 is the r2
# sweep's best for MB-sized pages at 24 workers on 32 cores (BASELINE.md:
# 4→8 cut best wide walls 16.7s→8.2s; 16 regressed tail latency). A record
# cap approximates a byte cap only when a batch's documents are of similar
# size, and nothing upstream ensures that: layout.spread deals documents
# round-robin, so one partition mixes docs of every size. bench.py and
# perfbench/layers.py import this value; the test sessions set no cap of
# their own.
ARROW_MAX_RECORDS = 8


def make_session(
    master: str | None = None,
    app_name: str = "smartreader-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Local/test session. On a real cluster these land in spark-submit
    conf; the Arrow batch cap bounds Python-worker memory when documents
    are MB-sized (median fixture ≈115 KB → a 256-doc batch ≈30 MB)."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_MAX_RECORDS))
        .config("spark.sql.files.maxPartitionBytes", "64m")
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


def package_zip(out_path: str = "/tmp/smartreader_spark_pkg.zip") -> str:
    """Zip the smartreader_spark package for --py-files shipment to
    executors (multi-executor clusters don't share the driver's cwd).
    Idempotent per content: rebuilt when any source file is newer."""
    import os
    import zipfile

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


def ship_package(spark: SparkSession) -> None:
    """Make smartreader_spark importable on executors (addPyFile)."""
    spark.sparkContext.addPyFile(package_zip())


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
