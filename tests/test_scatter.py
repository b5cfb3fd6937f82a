"""``operators.util.scatter`` decides from the physical plan and runs no
Spark job: an exchange-bearing (adaptive) frame is always round-robin
repartitioned — reading its partition count would run every upstream
shuffle stage only to throw the result away — while a plain scan is
repartitioned only when it has fewer splits than asked for."""

from __future__ import annotations

from pyspark.sql import functions as F

from aggregator_spark.operators.util import scatter
from aggregator_spark.plans.lint import explain_formatted, plan_report


def _jobs_started(spark, fn):
    """(fn's result, ids of the Spark jobs started while fn ran)."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty(60_000)
    before = set(sc.statusTracker().getJobIdsForGroup())
    out = fn()
    bus.waitUntilEmpty(60_000)
    return out, set(sc.statusTracker().getJobIdsForGroup()) - before


def _round_robins(df) -> int:
    return explain_formatted(df).count("RoundRobinPartitioning")


def test_exchange_bearing_frame_runs_no_job(spark):
    agg = (
        spark.range(0, 1000)
        .select((F.col("id") % 7).alias("k"))
        .groupBy("k")
        .count()
    )
    out, jobs = _jobs_started(spark, lambda: scatter(agg, partitions=3))
    assert jobs == set(), f"scatter ran Spark jobs {sorted(jobs)}"
    # exactly one round-robin exchange on top of the aggregate's own
    before, after = plan_report(agg), plan_report(out)
    assert after.get("Exchange", 0) == before.get("Exchange", 0) + 1
    assert _round_robins(agg) == 0 and _round_robins(out) == 1
    assert out.rdd.getNumPartitions() == 3
    assert sorted(out.collect()) == sorted(agg.collect())


def test_single_split_scan_is_repartitioned(spark, tmp_path):
    path = str(tmp_path / "one")
    spark.range(0, 100).coalesce(1).write.parquet(path)
    scan = spark.read.parquet(path)
    assert scan.rdd.getNumPartitions() == 1
    out, jobs = _jobs_started(spark, lambda: scatter(scan, partitions=4))
    assert jobs == set()
    assert _round_robins(out) == 1
    assert out.rdd.getNumPartitions() == 4
    assert sorted(r.id for r in out.collect()) == list(range(100))


def test_scan_already_wide_enough_is_returned_as_is(spark, tmp_path):
    path = str(tmp_path / "many")
    spark.range(0, 100).repartition(4).write.parquet(path)
    scan = spark.read.parquet(path).where(F.col("id") > 10)
    assert scan.rdd.getNumPartitions() >= 4
    out, jobs = _jobs_started(spark, lambda: scatter(scan, partitions=4))
    assert jobs == set()
    assert out is scan
    assert scatter(scan, partitions=2) is scan
