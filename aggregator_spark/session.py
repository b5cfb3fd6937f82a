"""SparkSession factory.

Defaults are chosen for correctness-vs-oracle and 100 TB-scale habits:

- ``spark.sql.session.timeZone=UTC`` — DuckDB timestamps are UTC-naive;
  pinning the session TZ makes date_trunc/extract agree.
- AQE on (coalesce post-shuffle partitions, skew-join splitting) — at
  cluster scale the same plan re-sizes itself from runtime stats.
- Arrow on — every Pandas UDF rides Arrow batches.
- shuffle partitions default to the local core count (the 200 default is
  wrong in both directions; on a real cluster this would be set to
  ~2-3x total cores or left to AQE's coalescing).
- a read lists up to 1024 paths without a Spark job: past Spark's
  default of 32 it starts a parallel listing job, which in a local
  session runs in the same JVM and only adds scheduling (the nightly
  feed manifest is 70 paths).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "aggregator-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cores = default_parallelism()
    if master is None:
        master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = cores

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
