"""One memo for work shared across queries of a Spark session.

Several operators build an expensive intermediate once and let every
later query of the session reuse it: the curation gate verdicts, the
simhash pair graph, the composed training-pipeline stages and the BPE
merge table. `SessionMemo` is that pattern's one implementation.

A key is ``(applicationId, *params, fingerprint)``. The fingerprint is
the sorted ``(relative path, length, modification time)`` of every file
under each input path, listed through Hadoop's ``FileSystem`` so every
filesystem scheme shares this code. A parquet overwrite writes new
part-file names, so a rewritten input always changes the key and is
never served from the memo. A DataFrame input (hashed and compared by
identity) goes into the key as itself; the key's strong reference keeps
its identity from being reused.

Each memo keeps one live entry. The entry it evicts has every DataFrame
it holds unpersisted (a no-op for localCheckpointed frames, frees
``.cache()``d ones). Builds, hits and misses are logged at INFO.
"""

from __future__ import annotations

import logging
import time
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

log = logging.getLogger(__name__)


def hadoop_path(spark: SparkSession, path: str) -> tuple:
    """(Hadoop FileSystem, Path) for `path` in any scheme the session can
    read: a bare local path, ``file://``, ``hdfs://``, ``s3a://``, ...
    (`os.path` understands only the first)."""
    root = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return root.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), root


def _fingerprint(spark: SparkSession, path: str) -> tuple:
    """Sorted (relative path, length, mtime) of every file under `path`
    (empty when `path` does not exist — the build then fails as usual)."""
    fs, root = hadoop_path(spark, path)
    if not fs.exists(root):
        return ()
    prefix = len(fs.makeQualified(root).toString())
    files, it = [], fs.listFiles(root, True)
    while it.hasNext():
        st = it.next()
        files.append(
            (st.getPath().toString()[prefix:], st.getLen(), st.getModificationTime())
        )
    return tuple(sorted(files))


def _frames(value: Any) -> list[DataFrame]:
    if isinstance(value, DataFrame):
        return [value]
    items = value.values() if isinstance(value, dict) else value
    return [v for v in items if isinstance(v, DataFrame)]


class SessionMemo(dict):
    """Maps ``(applicationId, *params, fingerprint)`` to a built value;
    holds at most one entry (a plain dict, so callers may ``.clear()``
    it to force a rebuild)."""

    def __init__(self, name: str):
        super().__init__()
        self.name = name

    def get_or_build(self, spark: SparkSession, params: tuple,
                     paths: tuple, build: Callable[[], Any]) -> Any:
        """The value for `params` over the files under `paths`, calling
        `build()` on a miss. Entries of `paths` that are not strings (an
        in-memory DataFrame source, None) are skipped: they are keyed by
        `params` alone."""
        app_id = spark.sparkContext.applicationId
        fingerprint = tuple(
            _fingerprint(spark, p) for p in paths if isinstance(p, str)
        )
        key = (app_id, *params, fingerprint)
        if key in self:
            log.info("memo %s: hit %s", self.name, params)
            return self[key]
        log.info("memo %s: miss %s", self.name, params)
        # evict BEFORE building: Spark's cache matches plans by path, so a
        # still-cached frame over a rewritten file would feed the new build
        for old_key, old in list(self.items()):
            del self[old_key]
            if old_key[0] == app_id:  # a stopped session's frames are gone
                for df in _frames(old):
                    df.unpersist()
        t0 = time.perf_counter()
        self[key] = value = build()
        log.info("memo %s: built in %.2f s", self.name, time.perf_counter() - t0)
        return value
