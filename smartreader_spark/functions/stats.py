"""Per-source corpus distribution statistics: exact length percentiles.

A curation dashboard's first question about a new source is "what does
its length distribution look like" — quota, packing, and quality knobs
are all set off these numbers. This is the EXACT baseline (Spark's
sort-based `percentile` aggregate, linearly interpolated — the same
continuous-quantile definition DuckDB's quantile_cont implements, so
the oracle is a genuine cross-engine check of the interpolation
arithmetic, not a restatement). Exact per-group percentiles buffer the
group's values; at 100 TB the production path swaps in
`approx_percentile` (t-digest, mergeable, bounded memory) at identical
call shape — the same exact-baseline/sketch-scale-path split as
ann_brute_force vs the bucketed ANN variants.

Determinism: inputs are integers (n_chars); both engines evaluate the
identical (1-g)*x[f] + g*x[f+1] interpolation in IEEE double, so the
6-decimal rounded values match bit-for-bit. The mean is one exact
integer sum and a single rounded division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .textqa import load_documents

PCTS = (0.25, 0.50, 0.75, 0.95)


def source_length_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_documents(spark, sf_dir)
    arr = ", ".join(f"{p}D" for p in PCTS)
    pct = F.expr(f"percentile(n_chars, array({arr}))")
    agg = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        pct.alias("pcts"),
    )
    cols = [
        F.round(F.element_at("pcts", i + 1), 6).alias(
            f"p{int(p * 100):02d}_chars"
        )
        for i, p in enumerate(PCTS)
    ]
    return agg.select(
        "source",
        "n_docs",
        "total_chars",
        "min_chars",
        "max_chars",
        *cols,
        F.round(F.col("total_chars") / F.col("n_docs"), 6).alias("mean_chars"),
    ).orderBy("source")
