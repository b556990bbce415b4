"""Corpus profiling: exact, deterministic equi-depth histograms.

The reference reports only fixed counters (pipeline/QA summaries,
/root/reference/src/neo4j/models.py:100-159); distribution-level
profiling is what a data engineer actually asks of a corpus first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def equidepth_bins(
    df: DataFrame, col: str, n_bins: int = 10, id_col: str = "doc_id",
) -> DataFrame:
    """Equi-depth (equal-frequency) histogram: rows ranked by
    (value, id) — a total order, so bins are deterministic — split into
    `n_bins` ntile buckets; emits per-bin (bin, n, lo, hi, mean).
    Exact, unlike approx_percentile sketches, at the cost of one global
    sort-shuffle of a SLIM (value, id) projection — the standard
    trade when the histogram must be reproducible (ntile's "earlier
    buckets one row larger" rule is shared by every SQL engine).

    Scale shape: the ntile window is a single ordered partition over
    (value, id) pairs only — acceptable for profiling runs; sustained
    100 TB pipelines would bucket by range boundaries from a first
    aggregate pass instead (repartitionByRange)."""
    from pyspark.sql.window import Window

    w = Window.orderBy(F.col("v").asc(), F.col("i").asc())
    binned = df.select(F.col(col).alias("v"), F.col(id_col).alias("i")) \
        .withColumn("bin", F.ntile(n_bins).over(w))
    return (
        binned.groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"),
             F.min("v").alias("lo"), F.max("v").alias("hi"),
             F.round(F.avg("v"), 6).alias("mean"))
        .select("bin", "n", "lo", "hi", "mean")
    )

