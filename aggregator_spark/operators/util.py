"""Shared operator utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame


def scatter(df: DataFrame, partitions: int | None = None) -> DataFrame:
    """Round-robin repartition to the session's default parallelism.

    CPU-bound operators (shingling, hashing, vector math) must not
    inherit the scan's partitioning: a small parquet file arrives as ONE
    input split, which would serialize the whole computation on one
    core. At 100 TB the scan already yields thousands of splits and this
    repartition is a cheap rebalance; on small inputs it is the
    difference between 1× and N× parallelism. The shuffle it introduces
    is negligible next to the per-row work these operators do.

    The decision is read off the physical plan and runs no job:

    - a plan holding an exchange (or a persisted frame, whose cached
      plan is a query stage) is wrapped in ``AdaptiveSparkPlan``,
      whose partition count is fixed only at run time — asking for it
      (``df.rdd``) would run every upstream shuffle stage once here and
      again in the real action. Such a frame is always repartitioned:
      at most one extra round-robin exchange, never a second upstream
      run;
    - otherwise (a scan plus narrow operators) the RDD lineage is
      built without running anything, and a frame already at ≥ n
      partitions is returned as is — at 100 TB the scan arrives as
      thousands of splits and must not pay a full shuffle for nothing.
    """
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() != "AdaptiveSparkPlan" and df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)
