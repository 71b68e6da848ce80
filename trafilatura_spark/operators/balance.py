"""Scale-adaptive input rebalance for compute-heavy projections.

A small corpus arriving as one (or few) parquet files yields one scan
task per row group, so a pure-projection operator — minhash signatures,
the repetition walks, gram explodes — runs its ENTIRE map-side on one
core while the rest of the cluster idles (guide §2.5 "input skew: one
huge unsplittable file ... repartition immediately after the read";
parquet row groups are the unsplittable unit here).

``spread_for_compute`` inserts a round-robin repartition ONLY when the
scan's task count is below the session's parallelism; at production
scale (thousands of files, splittable multi-row-group scans) the
condition is false and the operator keeps its shuffle-free
pipeline-into-the-scan shape.  Round-robin repartitioning is
deterministic under retries (Spark sorts before round-robin
redistribution, SPARK-23207) and carries only the operator's pruned
input columns.

Streaming DataFrames are returned unchanged (no partition introspection
mid-stream; the micro-batch source controls its own parallelism).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_for_compute(df: DataFrame) -> DataFrame:
    """Round-robin rebalance when (and only when) the plan would scan
    fewer partitions than the session has cores."""
    if df.isStreaming:
        return df
    try:
        sc = df.sparkSession.sparkContext
        target = sc.defaultParallelism
        current = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - introspection failure: keep the plan
        return df
    if current >= target:
        return df
    return df.repartition(target)
