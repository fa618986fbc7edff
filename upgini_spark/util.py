"""Small engine-wide helpers."""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_scan(df: DataFrame, factor: int = 1) -> DataFrame:
    """Spread an under-partitioned input before CPU-heavy work.

    A single-row-group parquet file (or any unsplittable input) gives
    the scan ONE task, so every expensive projection above it — row
    hashing, per-row array kernels, partial aggregation, exchange
    serialization — runs on one core while the rest of the cluster
    idles (guide §2.5 "input skew: one huge unsplittable file"). One
    cheap hash repartition on the full row buys full parallelism
    downstream.

    Scale-adaptive: the target is ``factor ×`` the session's default
    parallelism, and inputs that already provide at least that many
    partitions (any real multi-file table at cluster scale) pass
    through untouched — on a 100 TB layout this is a no-op, not a
    wasted shuffle. Row-identical by construction; callers are
    partition-invariant by engine design (oracle-hash enforced).
    """
    n = factor * df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    # hash-partition on the full row, NOT round-robin: a keyless
    # repartition(n) first pays a local sort of its input
    # (spark.sql.execution.sortBeforeRepartition, the SPARK-23207 retry
    # defense) — single-task for exactly the unsplittable scans this
    # helper targets, and measured slower than the win. A hash of the
    # row values is deterministic under task retries with no sort;
    # fully-identical duplicate rows co-locate, which is acceptable
    # spread skew for real data.
    cols = [df["`" + c.replace("`", "``") + "`"] for c in df.columns]
    return df.repartition(n, *cols)
