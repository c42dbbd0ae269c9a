"""Conditional fan-out for CPU-bound narrow stages.

A Spark scan parallelizes by file splits and parquet row groups.  A
small input (one file, one row group — exactly what a local benchmark
table or a re-read side table looks like) therefore yields ONE
partition, and every expensive narrow stage downstream of it — shingle
explosion, higher-order array folds, per-row centroid argmins — runs
on ONE core while the rest of the executor sits idle.

``fan_out`` is the classic remedy, applied conditionally: repartition
to the session's default parallelism ONLY when the plan currently has
fewer partitions than that.  The shuffle it introduces moves the
not-yet-exploded input rows exactly once — the cheapest point in the
pipeline (pre-fan-out, pre-explode) — and buys a cores-times speedup
of the expensive stage.

At 100 TB this is a NO-OP by construction: a real corpus scan has
thousands of splits, `getNumPartitions() >= defaultParallelism`, and
the DataFrame is returned untouched — so operators can call it
unconditionally without ever adding a shuffle to a properly
partitioned input.  (The check costs a plan conversion, no job.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def fan_out(df: DataFrame) -> DataFrame:
    """Repartition ``df`` to ``defaultParallelism`` when it has fewer
    partitions than that; otherwise return it unchanged.

    Contract: the check reads the partition count ``df`` has now,
    before any shuffle this call adds.  That is the scan's split count
    only when no exchange sits between the scan and this call, so call
    it directly above a scan.  Above a join, aggregate or repartition
    it sees the exchange's count instead, which can exceed
    ``defaultParallelism`` while a one-partition scan branch below it
    still runs on one core."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
