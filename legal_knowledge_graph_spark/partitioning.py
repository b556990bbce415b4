"""Partition-width control for compute-heavy scans of small files.

A few-MB parquet of short documents is one scan split, so the per-token
expression work stacked on it runs on one or two cores until the first
shuffle. ``repartition_compute`` widens such a scan to the session's
default parallelism; it is a no-op on inputs that already scan as many
splits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def repartition_compute(df: DataFrame) -> DataFrame:
    """Round-robin repartition to core count, for COMPUTE-heavy scans
    of small files: a few-MB parquet of short documents is one scan
    split, so the per-token work stacked on it (explode, md5, regex)
    runs on 1-2 cores until the first shuffle. Width = the session's
    default parallelism (cores here, cluster cores in production) —
    enough to use the machine, small enough that the per-task fixed
    cost stays negligible. The 10-20 MB round-robin exchange this adds
    is paid back ~10x by parallelizing the expression work above it.

    SCALE GUARD: a no-op when the input already has at least half the
    default parallelism in partitions — a 100 TB table scans as
    thousands of splits and must NOT be round-robin reshuffled just to
    explode it. The partition count comes from the compiled RDD DAG
    (no job runs)."""
    n = df.sparkSession.sparkContext.defaultParallelism
    try:
        cur = df.rdd.getNumPartitions()
    except Exception:  # defensive: exotic plans; widening is optional
        return df
    if cur >= max(2, n // 2):
        return df
    return df.repartition(n)
