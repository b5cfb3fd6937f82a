"""Structured Streaming ingest — the incremental form of stage 1.

The reference is pure batch ("a week of scans arrives as files",
SURVEY.md §2.9); this is the beyond-reference goal: the same
dedup→group-count aggregation expressed over an unbounded stream with
event-time windows and late-data handling.

Batch plan (reference main.py:206-215):
    distinct(ip, day, ...) → groupBy(day, ...).count
Streaming plan (``streaming_dedup_counts``, exact):
    select(date_trunc(day, ts) as day, ...) → withWatermark(day)
      → dropDuplicates(ip, day, ...) → groupBy(window(day, 1 day), ...)
      .count

The dedup state stays bounded because the watermark sits on the dedup
key's own ``day`` column (see the function). Approximate (HLL++) daily
counts are batch only: the catalog key ``approx_distinct_daily``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def streaming_dedup_counts(
    stream: DataFrame,
    ts_col: str = "date",
    ip_col: str = "ip",
    key_cols: tuple[str, ...] = ("risk", "asn", "country"),
    watermark: str = "1 day",
) -> DataFrame:
    """Exact per-day distinct-IP counts: the batch Q2+Q4 (distinct
    (ip, day, keys) then count per (day, keys), reference
    main.py:206-215) over a stream, emitted in append mode once a day's
    window closes.

    The watermark sits on ``day``, which is part of the dedup key, so
    the dedup state holds one row per distinct (ip, day, keys) for the
    days the watermark has not passed and drops a day's rows once it
    does. A row whose day is already behind the watermark is dropped:
    its window has closed, so it changes no emitted count. Window
    [D, D+1) closes once a row of day D + 1 + ``watermark`` arrives."""
    deduped = (
        stream.select(
            F.date_trunc("day", F.col(ts_col)).alias("day"),
            F.col(ip_col).alias("ip"),
            *key_cols,
        )
        .withWatermark("day", watermark)
        .dropDuplicates(["ip", "day", *key_cols])
    )
    # a window, not a plain ``day`` group key: append mode emits a
    # window only once the watermark has passed its end
    return (
        deduped.groupBy(F.window("day", "1 day").alias("win"), *key_cols)
        .agg(F.count(F.lit(1)).alias("count"))
        .select(F.col("win.start").alias("date"), *key_cols, "count")
    )
