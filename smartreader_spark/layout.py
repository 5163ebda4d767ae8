"""The scan spreader: the one place that decides how a scan is spread
over the cluster before map-heavy work.

`spread` is a round-robin repartition. Why it exists and why it is
round-robin, from measurements:

1. *Parallelism.* The sf tables are one parquet file / one row group,
   so a scan feeds at most ~2 tasks and every map stage after it ran on
   ≤2 of 32 cores (OPTIMIZATION_r07.md). The default count is the
   session's ``defaultParallelism``, which tracks the cluster size; on a
   many-file input the extra exchange moves little next to the compute
   it unblocks, and at sf sizes it moves ~MBs. Below the ~0.5 s
   per-query floor it costs more than it saves (measured net-negative
   on dedup_exact), so callers spread only scans that feed real work.
   The sf loaders spread right after the read; the DataFrame-level
   entry points (the ``*_for_docs`` functions) leave the caller's
   partitioning alone.
2. *Balance.* Round-robin gives exact per-partition row counts and
   interleaves input order, so consecutive giant pages land on
   different partitions; with many documents per partition the byte
   totals equalize. A hash key on (log2 size bucket, salt) balanced
   worse: ~100 distinct keys hash-collided into few partitions (one task
   got 2× the bytes, BASELINE.md round 1), and a 16 × n salt still read
   1.41 max/mean partition bytes where round-robin read 1.03-1.14
   (perfbench pages ×4, 8 partitions).
3. *Stragglers.* For the extraction stage at cluster scale pass ``n`` ≈
   3-4× the total task slots; work stealing then absorbs the residual
   byte imbalance, since a partition is at most a few seconds of work.
   An in-partition descending-size sort was measured and rejected: it
   delayed every Python worker's first batch more than it saved.

Keyed repartitions (a join or grouping key), range repartitions and a
write's file count are not spreads and stay at their call sites.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread(df: DataFrame, n: int | None = None) -> DataFrame:
    """`df` round-robin repartitioned into `n` partitions (default: the
    session's defaultParallelism)."""
    return df.repartition(n or df.sparkSession.sparkContext.defaultParallelism)
