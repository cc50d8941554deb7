"""Shared operator plumbing."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def fan_out(df: DataFrame, min_partitions: int | None = None, enabled: bool = True) -> DataFrame:
    """Rebalance a narrow projection across the cluster before CPU-heavy
    per-row work (shingling, hashing, vector math).

    Motivation: scan parallelism equals the number of file splits — a
    single-row-group parquet file (or a heavily filtered scan) yields ONE
    task, serializing everything downstream until the first shuffle. The
    repartition is unconditional: inspecting the input's partition count
    first (df.rdd.getNumPartitions) forces a full physical-planning pass
    per query BUILD on the driver, which costs more than the shuffle of a
    narrow projection saves. Callers whose input is already well-split
    (e.g. a 100 TB scan with thousands of splits) pass enabled=False —
    the target below would otherwise SHRINK their parallelism.
    """
    if not enabled:
        return df
    spark = df.sparkSession
    target = min_partitions or max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
    )
    return df.repartition(target)


def ngram_hashes(token_hashes: Column, n: int) -> Column:
    """One long per n-token window of `token_hashes` (array<long> of
    per-token xxhash64 values), in window order: an order-sensitive
    chained fold ``xxhash64(... xxhash64(0, h1) ..., hn)``, so the gram
    key never exists as a string. xxhash64(acc, h) never overflows, so the
    plan is safe under ANSI sessions too."""
    cnt = F.size(token_hashes) - F.lit(n - 1)
    # Arrays shorter than n have no windows. sequence(1, 0) DESCENDS in
    # Spark ([1, 0]) and slice(th, 0, n) then throws
    # INVALID_PARAMETER_VALUE.START, so the empty case must be an
    # explicit empty array, not a clamped sequence bound.
    idx = F.when(cnt >= 1, F.sequence(F.lit(1), cnt)).otherwise(F.array().cast("array<int>"))
    return F.transform(
        idx,
        lambda i: F.aggregate(
            F.slice(token_hashes, i, n),
            F.lit(0).cast("long"),
            lambda acc, h: F.xxhash64(acc, h),
        ),
    )
