"""scanlog_stream: the nightly feeds landed one day (five files) per
micro-batch and drained with ``availableNow`` through
``streaming.ingest.streaming_dedup_counts`` into the
``streaming.sinks.batch_partitioned_parquet_sink`` foreachBatch sink,
with a fresh checkpoint for each step.

Rows are parsed by the same chain ``sources.logentry.read_logentry_csv``
applies (``parse_timestamp_auto`` and ``try_cast``), over a streaming
CSV read. A step passes when every closed window equals the DuckDB
per-day distinct-IP count and all but the last two days have closed.
"""

from __future__ import annotations

import os
import shutil
import time

import gen_scanlog
import oracle
from harness import build_once
from wl_nightly import SIZES, THRESHOLD

FILES_PER_BATCH = SIZES["feeds"]
# the first ten of the nightly run's 14 days, to keep a run short
DAYS = 10
# the 1-day watermark trails the newest event, so the last two days
# stay open when the input ends
OPEN_DAYS = 2


def _land(dst: str, files: list[str]) -> None:
    """Copy the feeds into a landing directory, one modification time per
    day, so the file source takes them in day order."""
    os.makedirs(dst)
    for i, f in enumerate(files):
        target = os.path.join(dst, os.path.basename(f))
        shutil.copyfile(f, target)
        mtime = 1_500_000_000 + (i // FILES_PER_BATCH) * 60
        os.utime(target, (mtime, mtime))


def prepare(work: str, seed: int) -> dict:
    src, props = gen_scanlog.cached(os.path.join(work, "cache"), seed, THRESHOLD, **SIZES)
    files = sorted(f for f in os.listdir(src) if f.startswith("scans_"))
    files = [os.path.join(src, f) for f in files][: DAYS * FILES_PER_BATCH]
    land = build_once(os.path.join(src, f"landed{DAYS}"), lambda d: _land(d, files))
    rows = oracle.row_count(files)
    return {
        "land": land,
        "files": files,
        "props": {**props, "stream_days": DAYS, "stream_rows": rows},
        "rows": rows,
        "expected": oracle.daily_expected(files),
    }


def _stream(spark, land: str):
    from pyspark.sql import functions as F

    from aggregator_spark.sources.logentry import _RAW, parse_timestamp_auto
    from aggregator_spark.streaming.ingest import streaming_dedup_counts

    raw = (
        spark.readStream.schema(_RAW)
        .option("header", True)
        .option("maxFilesPerTrigger", FILES_PER_BATCH)
        .csv(land)
    )
    rows = raw.select(
        parse_timestamp_auto(F.col("date")).alias("date"),
        "ip",
        F.col("risk").try_cast("int").alias("risk"),
        F.col("asn").try_cast("long").alias("asn"),
        "country",
    )
    return streaming_dedup_counts(rows)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def run_stream(spark, ctx: dict, tag: str, wrap_sink=None) -> dict:
    from aggregator_spark.streaming.sinks import batch_partitioned_parquet_sink

    out = os.path.join(ctx["out"], f"stream_{tag}")
    shutil.rmtree(out, ignore_errors=True)
    sink = batch_partitioned_parquet_sink(f"{out}/windows")
    if wrap_sink is not None:
        sink = wrap_sink(sink)
    t0 = time.perf_counter()
    q = (
        _stream(spark, ctx["land"])
        .writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", f"{out}/checkpoint")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress = q.recentProgress
    emitted = spark.read.parquet(f"{out}/windows").select(
        "date", "risk", "asn", "country", "count").collect()
    ok, why = oracle.compare_windows(
        [tuple(r) for r in emitted], ctx["expected"], DAYS - OPEN_DAYS)
    wall = time.perf_counter() - t0
    return {"wall_s": wall, "ok": ok, "why": why, "progress": progress, "out": out}


def _batches(progress: list[dict]) -> list[dict]:
    return [p for p in progress if p["numInputRows"] > 0]


def _state(p: dict, op: str) -> dict:
    return next((s for s in p["stateOperators"] if s["operatorName"] == op), {})


def ingest_counters(progress: list[dict]) -> dict:
    """Counters of the public StreamingQueryProgress records."""
    from harness import median

    b = _batches(progress)
    last = b[-1]
    dedupe = [_state(p, "dedupe").get("numRowsTotal", 0) for p in b]
    secs = [p["durationMs"]["triggerExecution"] / 1e3 for p in b]
    return {
        "streaming.ingest.state_rows.dedupe": dedupe[-1],
        "streaming.ingest.state_mb.dedupe": _state(last, "dedupe").get("memoryUsedBytes", 0) / 1e6,
        "streaming.ingest.state_rows.window": _state(last, "stateStoreSave").get("numRowsTotal", 0),
        "streaming.ingest.state_growth_rows_per_batch.dedupe": (dedupe[-1] - dedupe[0]) / max(1, len(b) - 1),
        "streaming.ingest.add_batch_s": median([p["durationMs"].get("addBatch", 0) / 1e3 for p in b]),
        "streaming.ingest.wal_commit_s": median([p["durationMs"].get("walCommit", 0) / 1e3 for p in b]),
        "streaming.ingest.batch_growth": median(secs[-4:]) / median(secs[1:5]),
    }


def touch(spark, ctx: dict) -> None:
    from aggregator_spark.sources.logentry import read_logentry_csv

    read_logentry_csv(spark, ctx["files"][:FILES_PER_BATCH]).count()



def step(spark, ctx: dict, i: int) -> dict:
    r = run_stream(spark, ctx, str(i % 2))
    batch_s = [p["durationMs"]["triggerExecution"] / 1e3 for p in _batches(r["progress"])]
    counters = ingest_counters(r["progress"])
    counters["streaming.sinks.bytes_written"] = _dir_bytes(f"{r['out']}/windows")
    return {"wall_s": r["wall_s"], "ok": r["ok"], "why": r["why"], "batch_s": batch_s,
            "counters": counters,
            "dedupe_rows_per_batch": [_state(p, "dedupe").get("numRowsTotal", 0)
                                      for p in _batches(r["progress"])]}


def traced_step(spark, ctx: dict, i: int, tracer) -> dict:
    """The parse chain is timed on its own as a batch read of the landed
    files; the stream runs inside a ``streaming.ingest`` span, where each
    micro-batch is forced before the sink, which has its own span. The
    streaming counters come from the untraced steps, which forcing would
    change."""
    from aggregator_spark.sources.logentry import read_logentry_csv

    with tracer.span("sources.logentry", "read_logentry_csv", i):
        logentry = tracer.force(read_logentry_csv(spark, ctx["land"]))
    counters = {
        "sources.logentry.rows": logentry.count(),
        "sources.logentry.null_ts_rows": logentry.filter("date IS NULL").count(),
    }
    tracer.release()

    def wrap_sink(sink):
        def write(batch_df, batch_id):
            batch_df = tracer.force(batch_df)
            with tracer.span("streaming.sinks", "foreachBatch", i):
                sink(batch_df, batch_id)
            tracer.release()

        return write

    with tracer.span("streaming.ingest", "streaming_dedup_counts", i):
        r = run_stream(spark, ctx, f"traced{i % 2}", wrap_sink)
    return {"wall_s": r["wall_s"], "ok": r["ok"], "why": r["why"], "counters": counters}


def end_to_end(r: dict, ctx: dict) -> dict:
    from harness import median

    return {
        "wall_s": r["wall_s"],
        "rows_per_s": ctx["rows"] / r["wall_s"],
        "batch_p50_s": median(r["batch_s"]),
    }
