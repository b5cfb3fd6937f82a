"""HLL sketch merge invariants and Count-Min counters, batch and
streaming."""

from __future__ import annotations

from pyspark.sql import functions as F

from aggregator_spark.operators.sketches import (
    daily_user_sketches,
    monthly_distinct_users,
)
from aggregator_spark.schemas import load_testdata

SF = "/root/testdata/sf0.001"


def test_sketch_merge_equals_direct_sketch(spark):
    """union(daily sketches) must estimate EXACTLY what one sketch over
    the whole month estimates — merge is register-max, lossless."""
    events = load_testdata(spark, SF, "events")
    merged = {
        (r["month"], r["est_users"])
        for r in monthly_distinct_users(events).collect()
    }
    direct = {
        (r["month"], r["est_users"])
        for r in events.groupBy(
            F.date_trunc("month", "ts").cast("date").alias("month")
        )
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg("user_id", F.lit(12))
            )
            .cast("long")
            .alias("est_users")
        )
        .collect()
    }
    assert merged == direct


def test_sketch_estimate_near_exact(spark):
    events = load_testdata(spark, SF, "events")
    est = {r["day"]: r["est_users"] for r in daily_user_sketches(events).collect()}
    exact = {
        r["day"]: r["n"]
        for r in events.groupBy(
            F.date_trunc("day", "ts").cast("date").alias("day")
        )
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert est.keys() == exact.keys()
    for day, n in exact.items():
        assert abs(est[day] - n) <= max(2, 0.05 * n)


def test_cms_counters_streaming_equals_batch(spark, tmp_path):
    """The Count-Min counter build is pure relational ops (explode +
    additive agg), so the SAME function runs unchanged on a stream
    (complete output mode — the sink holds the current counter table)
    and must equal the batch build over the same rows (the mergeable-
    sketch contract, incl. accumulation across two micro-batches)."""
    from aggregator_spark.operators.sketches import cms_build

    events = load_testdata(spark, SF, "events").select("event_id", "user_id")
    src = str(tmp_path / "cms_stream")
    first = events.filter(F.col("event_id") % 2 == 0)
    second = events.filter(F.col("event_id") % 2 == 1)
    first.coalesce(1).write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema("event_id long, user_id long").parquet(
        src
    )
    q = (
        cms_build(stream, "user_id")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("cms_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        second.coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in spark.sql("SELECT * FROM cms_out").collect()
    }
    want = {
        (r["row"], r["bucket"]): r["cnt"]
        for r in cms_build(events, "user_id").collect()
    }
    assert got == want
