"""Bounded replay (streaming/replay.py): stream/batch parity of the
extraction tier on pages generated here, and temporary-directory
hygiene of every bounded replay, on success and on failure.
"""

import os
import sys
import tempfile

import pytest
from pyspark.sql import functions as F

from smartreader_spark.kernel.serializer import html_to_input_spans
from smartreader_spark.pipeline.extract import (
    EXTRACT_SCHEMA,
    INPUT_SCHEMA,
    extract_articles,
)
from smartreader_spark.streaming.replay import drain, read_files

sys.path.append(
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
)
from pages import generate_pages  # noqa: E402  (perfbench/, read-only)
from test_events import SF  # noqa: E402  (the event tests' sf tables)


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    """12 generated pages (seed 7) as a spans table in 4 parquet files."""
    d = str(tmp_path_factory.mktemp("pages") / "spans")
    rows = [(p.doc_id, html_to_input_spans(p.html)) for p in generate_pages(7, 12)]
    spark.createDataFrame(rows, INPUT_SCHEMA).repartition(4).write.parquet(d)
    return d


def _sorted_rows(df):
    cols = [f.name for f in EXTRACT_SCHEMA.fields]
    return sorted((tuple(r) for r in df.select(*cols).collect()),
                  key=lambda t: t[0])


def test_stream_extract_matches_batch(spark, pages_dir):
    """The streaming extraction plan, drained in 2-file micro-batches,
    returns exactly the batch extraction's rows on every output column."""
    from smartreader_spark.streaming.extract_stream import stream_extract_bounded

    got = _sorted_rows(stream_extract_bounded(spark, pages_dir))
    want = _sorted_rows(extract_articles(spark.read.parquet(pages_dir)))
    assert len(want) == 12
    assert got == want


def _entry_dedup(spark, sf_dir):
    from __spark_entry__ import queries

    return queries()["stream_dedup_bounded"](spark, sf_dir)


def _replay(name):
    from smartreader_spark.streaming import (
        asof_stream,
        extract_stream,
        join_stream,
        window_stream,
    )

    return {
        "extract": extract_stream.stream_extract_bounded,
        "dedup": _entry_dedup,
        "windows": window_stream.stream_event_windows_bounded,
        "sessions": window_stream.stream_event_sessions_bounded,
        "interval_join": join_stream.stream_interval_join_bounded,
        "asof": asof_stream.stream_asof_error_bounded,
    }[name]


@pytest.mark.parametrize(
    "name", ["extract", "dedup", "windows", "sessions", "interval_join", "asof"]
)
def test_bounded_replay_leaves_no_temp_dirs(spark, pages_dir, tmp_path,
                                            monkeypatch, name):
    """Every temporary source, sink and checkpoint is gone when a bounded
    replay returns, and the returned rows do not depend on them."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    out = _replay(name)(spark, pages_dir if name == "extract" else SF)
    assert os.listdir(tmp_path) == []
    assert out.count() > 0


def test_failed_source_build_leaves_no_temp_dirs(spark, tmp_path,
                                                 tmp_path_factory, monkeypatch):
    """An sf dir without events.parquet fails the source build; its
    half-made source directory is removed."""
    from smartreader_spark.streaming.window_stream import (
        stream_event_windows_bounded,
    )

    no_events = str(tmp_path_factory.mktemp("no_events"))
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    with pytest.raises(Exception, match="events.parquet"):
        stream_event_windows_bounded(spark, no_events)
    assert os.listdir(tmp_path) == []


def test_failed_drain_leaves_no_temp_dirs(spark, pages_dir, tmp_path,
                                          monkeypatch):
    """A stream whose Python worker raises fails the drain; its sink and
    checkpoint directory is removed."""
    def fail_batch(batches):  # local, so the worker unpickles it by value
        for pdf in batches:
            raise ValueError(f"replay worker failure on {len(pdf)} rows")
        yield from ()

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    stream = read_files(spark, pages_dir, INPUT_SCHEMA, 1).select(
        "doc_id", F.size("spans").alias("n")
    ).mapInPandas(fail_batch, "doc_id string, n int")
    with pytest.raises(Exception, match="replay worker failure"):
        drain(spark, stream)
    assert os.listdir(tmp_path) == []
