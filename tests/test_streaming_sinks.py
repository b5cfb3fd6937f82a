"""foreachBatch sinks: batch-partitioned idempotent output and a
complete-mode top-k."""

from __future__ import annotations

import datetime

from aggregator_spark.schemas import EVENTS
from aggregator_spark.streaming.sinks import batch_partitioned_parquet_sink

T0 = datetime.datetime(2024, 1, 1, 12, 0, 0)


def _mk(event_id, minutes, user_id):
    return (
        event_id,
        T0 + datetime.timedelta(minutes=minutes),
        user_id,
        "click",
        1.0,
        "{}",
    )


def test_batch_partitioned_sink(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    spark.createDataFrame([_mk(1, 0, 7), _mk(2, 5, 8)], EVENTS).coalesce(
        1
    ).write.parquet(src)

    stream = spark.readStream.schema(EVENTS).parquet(src)
    q = (
        stream.writeStream.foreachBatch(batch_partitioned_parquet_sink(out))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    result = spark.read.parquet(out)
    assert result.count() == 2
    assert "batch_id" in result.columns


def test_streaming_topk_complete_mode(spark, tmp_path):
    """Complete-mode ranking over an updating aggregate: after each
    micro-batch the sink sees the FULL re-ranked top-k (ranking is not
    expressible in append mode — state is the whole aggregate)."""
    src = str(tmp_path / "src_topk")
    spark.createDataFrame(
        [_mk(1, 0, 7), _mk(2, 1, 7), _mk(3, 2, 8)], EVENTS
    ).coalesce(1).write.parquet(src)

    from pyspark.sql import functions as F

    latest: dict = {}

    def sink(df, bid):
        rows = df.orderBy(F.col("cnt").desc(), "user_id").collect()
        latest["top"] = [(r["user_id"], r["cnt"]) for r in rows[:2]]

    stream = spark.readStream.schema(EVENTS).parquet(src)
    agg = stream.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    q = (
        agg.writeStream.outputMode("complete")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_topk"))
        .start()
    )
    q.processAllAvailable()
    assert latest["top"] == [(7, 2), (8, 1)]
    # second wave flips the ranking; complete mode must re-emit it all
    spark.createDataFrame(
        [_mk(4, 3, 8), _mk(5, 4, 8)], EVENTS
    ).coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    assert latest["top"] == [(8, 3), (7, 2)]
