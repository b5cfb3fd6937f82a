"""Streaming ingest (memory sink, processAllAvailable) and multimodal
mapInPandas plumbing."""

from __future__ import annotations

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from aggregator_spark.operators.multimodal import (
    decode_image_features,
    sample_video_frames,
)
from aggregator_spark.schemas import LOGENTRY, MEDIA
from aggregator_spark.streaming.ingest import streaming_dedup_counts


def _write_scan_parquet(spark, path, extra=()):
    rows = [
        (datetime.datetime(2016, 9, 28, 1, 0), "71.3.0.1", 1, 4444, "US"),
        (datetime.datetime(2016, 9, 28, 2, 0), "71.3.0.1", 1, 4444, "US"),  # dup ip
        (datetime.datetime(2016, 9, 28, 3, 0), "71.3.0.2", 1, 4444, "US"),
        (datetime.datetime(2016, 9, 29, 1, 0), "71.3.0.1", 1, 4444, "US"),
        *extra,
    ]
    spark.createDataFrame(rows, LOGENTRY).write.mode("overwrite").parquet(path)


@pytest.mark.parametrize("variant", ["exact"])
def test_streaming_daily_counts(spark, tmp_path, variant):
    src = str(tmp_path / "scans")
    # a third day moves the 1-day watermark past the first day's window
    _write_scan_parquet(
        spark, src, [(datetime.datetime(2016, 9, 30, 1, 0), "71.3.0.3", 1, 4444, "US")]
    )
    stream = spark.readStream.schema(LOGENTRY).parquet(src)
    agg = streaming_dedup_counts(stream)
    assert agg.columns == ["date", "risk", "asn", "country", "count"]
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(f"out_{variant}")
        .option(
            "checkpointLocation", str(tmp_path / f"ckpt_{variant}")
        )
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = [
        (r["date"].date().isoformat(), r["risk"], r["asn"], r["country"], r["count"])
        for r in spark.sql(f"SELECT * FROM out_{variant}").collect()
    ]
    # day 1: ips .1 (twice) and .2 → 2 distinct. Append mode emits a
    # day once the watermark passes it: the newest two days stay open
    assert got == [("2016-09-28", 1, 4444, "US", 2)]


def test_streaming_exact_matches_batch(spark, tmp_path):
    """The streaming exact variant reproduces batch Q2+Q4 once the
    stream is drained (complete-mode aggregation over a bounded set)."""
    src = str(tmp_path / "scans2")
    _write_scan_parquet(spark, src)
    stream = spark.readStream.schema(LOGENTRY).parquet(src)
    q = (
        streaming_dedup_counts(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("out_complete")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["date"].date().isoformat(), r["count"])
            for r in spark.sql("SELECT * FROM out_complete").collect()
        }
    finally:
        q.stop()
    # per-day dedup: day1 has distinct ips {.1, .2} → 2, day2 has {.1} → 1
    assert got == {("2016-09-28", 2), ("2016-09-29", 1)}


def _scan_day(d: int) -> list[tuple]:
    """Day ``d`` of a tiny scan feed: 3-5 hosts, each scanned twice that
    day (a duplicate tuple), two of them on every day."""
    day = datetime.datetime(2016, 9, 1 + d)
    rows = []
    for i in range(3 + d % 3):
        host = ("71.3.0.1", "71.3.0.2")[i] if i < 2 else f"71.3.{d}.{i}"
        tup = (host, 1 + i % 2, 4444 + i % 3, ("US", "DE")[i % 2])
        rows.append((day + datetime.timedelta(hours=i), *tup))
        rows.append((day + datetime.timedelta(hours=i + 12), *tup))
    return rows


def _land_parquet(land, name: str, rows: list[tuple], order: int) -> None:
    """One parquet file per landing, its modification time setting the
    order in which the file source takes it."""
    cols = list(zip(*rows))
    table = pa.table(
        {
            "date": pa.array(cols[0], pa.timestamp("us", tz="UTC")),
            "ip": pa.array(cols[1], pa.string()),
            "risk": pa.array(cols[2], pa.int32()),
            "asn": pa.array(cols[3], pa.int64()),
            "country": pa.array(cols[4], pa.string()),
        }
    )
    path = str(land / f"{name}.parquet")
    pq.write_table(table, path)
    mtime = 1_500_000_000 + 60 * order
    os.utime(path, (mtime, mtime))


def test_streaming_dedup_state_is_bounded(spark, tmp_path):
    """The exact stream's dedup state holds only the days the watermark
    has not passed: after every one-day batch it is at most the newest
    two days' distinct tuples, the closed windows equal the batch
    aggregate, and a late duplicate for a closed day changes nothing."""
    from aggregator_spark.operators.aggregate import aggregate_counts

    days = 6
    land = tmp_path / "land"
    land.mkdir()
    feed = [_scan_day(d) for d in range(days)]
    for d, rows in enumerate(feed):
        _land_parquet(land, f"day{d}", rows, d)
    distinct = [len({r[1:] for r in rows}) for rows in feed]

    emitted: list[tuple] = []

    def drain() -> list:
        stream = (
            spark.readStream.schema(LOGENTRY)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(land))
        )
        q = (
            streaming_dedup_counts(stream)
            .writeStream.outputMode("append")
            .foreachBatch(lambda df, _: emitted.extend(map(tuple, df.collect())))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            # availableNow stops by itself once the landed files are read
            assert q.awaitTermination(120), "availableNow run did not finish"
        finally:
            q.stop()
        return [p for p in q.recentProgress if p["numInputRows"] > 0]

    def dedupe(p) -> dict:
        return next(s for s in p["stateOperators"] if s["operatorName"] == "dedupe")

    batches = drain()
    assert len(batches) == days
    for d, p in enumerate(batches):
        assert dedupe(p)["numRowsTotal"] <= distinct[d] + distinct[max(0, d - 1)], d

    # the 1-day watermark leaves the newest two days open
    closed = datetime.datetime(2016, 9, 1 + days - 2)
    expected = {
        (r["date"], r["risk"], r["asn"], r["country"], r["count"])
        for r in aggregate_counts(
            spark.createDataFrame([r for rows in feed for r in rows], LOGENTRY),
            threshold=-1,
        ).collect()
        if r["date"] < closed
    }
    assert len(emitted) == len(set(emitted))
    assert set(emitted) == expected

    # a re-scan of day 0's first tuple and a new host on day 1, landed
    # after the watermark passed both days: dropped as late
    late = [
        feed[0][0],
        (datetime.datetime(2016, 9, 2, 5), "71.3.9.9", 1, 4444, "US"),
    ]
    _land_parquet(land, "late", late, days)
    before = list(emitted)
    (late_batch,) = drain()
    assert dedupe(late_batch)["numRowsDroppedByWatermark"] == len(late)
    assert dedupe(late_batch)["numRowsTotal"] <= distinct[-1] + distinct[-2]
    assert emitted == before


def _media_df(spark):
    rows = [
        (1, "image", b"img-bytes-1", "image/png", None, None, None),
        (2, "image", b"img-bytes-2", "image/png", None, None, None),
        (3, "video", b"vid-bytes", "video/mp4", None, None, 3500),
        (4, "audio", b"aud-bytes", "audio/wav", None, None, 2000),
    ]
    return spark.createDataFrame(rows, MEDIA)


def test_decode_image_features_fake(spark):
    out = decode_image_features(_media_df(spark), fake=True).collect()
    assert {r["media_id"] for r in out} == {1, 2}
    for r in out:
        assert 64 <= r["width"] <= 319 and 64 <= r["height"] <= 319
        assert len(r["features"]) == 16
        assert all(0.0 <= f <= 1.0 for f in r["features"])
    # deterministic: same payload → same features
    again = decode_image_features(_media_df(spark), fake=True).collect()
    assert sorted(map(str, out)) == sorted(map(str, again))


def test_decode_image_real_path_rejects_unencoded_bytes(spark):
    # fake=False is now the REAL PNG codec: synthetic (non-PNG) payloads
    # fail per-row at execution time, not eagerly at plan time
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.base import PySparkException

    with pytest.raises((PySparkException, Py4JJavaError)):
        decode_image_features(_media_df(spark)).collect()


def test_sample_video_frames_fake(spark):
    out = sample_video_frames(_media_df(spark), every_ms=1000, fake=True).collect()
    # 3500 ms at 1 fps → 3 frames, video rows only
    assert [(r["media_id"], r["frame_index"]) for r in out] == [
        (3, 0),
        (3, 1),
        (3, 2),
    ]
    assert [r["frame_ts_ms"] for r in out] == [0, 1000, 2000]
    assert all(isinstance(r["frame_payload"], (bytes, bytearray)) for r in out)


def test_extract_audio_features_fake(spark):
    from aggregator_spark.operators.multimodal import extract_audio_features

    out = extract_audio_features(_media_df(spark), fake=True).collect()
    assert [r["media_id"] for r in out] == [4]
    r = out[0]
    assert r["duration_ms"] == 2000
    assert 0.0 <= r["rms"] <= 1.0
    assert len(r["mfcc"]) == 16
    # real path rejects synthetic (non-WAV) payloads at execution time
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.base import PySparkException

    with pytest.raises((PySparkException, Py4JJavaError)):
        extract_audio_features(_media_df(spark)).collect()


def test_resize_images_fake(spark):
    from aggregator_spark.operators.multimodal import resize_images

    out = resize_images(_media_df(spark), width=64, height=32, fake=True).collect()
    assert {r["media_id"] for r in out} == {1, 2}
    for r in out:
        assert (r["width"], r["height"]) == (64, 32)
        assert len(r["payload"]) == 16  # md5 digest stub
    # deterministic across runs
    again = resize_images(_media_df(spark), width=64, height=32, fake=True).collect()
    assert sorted(map(str, out)) == sorted(map(str, again))
    # real path rejects synthetic (non-PNG) payloads at execution time
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.base import PySparkException

    with pytest.raises((PySparkException, Py4JJavaError)):
        resize_images(_media_df(spark)).collect()
