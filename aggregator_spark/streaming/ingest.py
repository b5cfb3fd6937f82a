"""Structured Streaming ingest — the incremental form of stage 1.

The reference is pure batch ("a week of scans arrives as files",
SURVEY.md §2.9); this is the beyond-reference goal: the same
dedup→group-count aggregation expressed over an unbounded stream with
event-time windows and late-data handling.

Batch plan (reference main.py:206-215):
    distinct(ip, day, ...) → groupBy(day, ...).count
Streaming plan:
    withWatermark(ts) → groupBy(window(ts, 1 day), keys)
      .agg(approx_count_distinct(ip))

Exact distinct-count over a stream needs per-key state proportional to
distinct IPs; ``approx_count_distinct`` (HyperLogLog++) keeps state
O(sketch) per group — at 100 TB/day this is the only sustainable shape.
The exact variant, ``streaming_dedup_counts``, watermarks the dedup key's
own ``day`` column, so its dedup state holds one row per distinct
(ip, day, keys) for the days the watermark has not passed (the newest
two under the default 1-day delay) and is evicted as it moves on. A row
whose day is already behind the watermark is dropped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def streaming_daily_counts(
    stream: DataFrame,
    ts_col: str = "date",
    ip_col: str = "ip",
    key_cols: tuple[str, ...] = ("risk", "asn", "country"),
    watermark: str = "1 day",
    window: str = "1 day",
) -> DataFrame:
    """Approximate (HLL++) distinct-IP counts per tumbling event-time
    window — bounded state, append-mode emission after watermark."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), *key_cols)
        .agg(F.approx_count_distinct(ip_col).alias("count"))
        .select(
            F.col("win.start").alias("date"), *key_cols, "count"
        )
    )


def streaming_dedup_within_watermark(
    stream: DataFrame,
    ts_col: str = "date",
    key_cols: tuple[str, ...] = ("ip", "risk", "asn", "country"),
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming dedup via ``dropDuplicatesWithinWatermark``: unlike
    plain ``dropDuplicates`` (whose state lives forever unless the
    event-time column is part of the key), state here is evicted as the
    watermark passes — the right primitive when "duplicate" means
    "same key within the delay horizon" rather than "ever seen".
    Emits the surviving raw rows (first arrival wins)."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


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
