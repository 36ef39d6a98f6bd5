"""Scan-parallelism guard.

A CPU-heavy operator (shingling, hashing, signature computation) is only
as parallel as its *input partitioning*.  A small or badly-laid-out
table — one parquet file, one kafka partition, a single coalesced
upstream stage — funnels the whole computation through one task no
matter how many cores the cluster has.

``ensure_parallelism`` widens the plan ONLY when the scan is narrower
than the target: at real scale (thousands of input splits) it is a
no-op with zero added shuffle; on a narrow input it inserts one
round-robin repartition so the expensive projection above it fans out.
This is deliberately NOT a blanket ``repartition()`` — that would
shuffle the full payload (text bytes) even when the scan is already
wide, which at 100 TB is the single most expensive mistake an operator
can make.

``write_partitions`` is the other side: the width of the shuffle that
clusters rows by their output partition before a ``partitionBy`` write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition ``df`` round-robin iff its current plan has fewer
    partitions than ``min_partitions`` (default: the cluster's
    defaultParallelism).  Wide inputs pass through untouched."""
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    current = df.rdd.getNumPartitions()
    if current >= target:
        return df
    return df.repartition(target)


def write_partitions(spark) -> int:
    """Partition count of a keyed write's clustering shuffle
    (``repartition(n, *partition_chain)`` before a ``partitionBy``
    write): twice the cluster's cores.  Hashing on the chain still sends
    each partition value to one task, so the write makes one file per
    value; the explicit count keeps AQE from coalescing a small shuffle
    into ONE task that writes every partition value alone."""
    return 2 * spark.sparkContext.defaultParallelism
