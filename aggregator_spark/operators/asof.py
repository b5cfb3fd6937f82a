"""As-of and band (range) joins — join families the reference lacks
entirely (SURVEY.md §2.9: "semi/theta/range/as-of joins absent") but a
time-series / feature-engineering workload needs at scale.

Both are expressed as compositions of built-in DataFrame ops so Catalyst
owns the physical plan:

- **as-of join**: the classic union-then-window formulation. Tag the
  right ("quote") side 0 and the left ("trade") side 1, union, then a
  single ``last(..., ignorenulls)`` window per key ordered by
  (time, side) carries the most recent right-side row forward onto each
  left-side row. One shuffle on the key, no range-explosion, no
  per-key driver loop — the same plan shape scales to 100 TB because
  the window is partitioned by the join key. For a hyper-hot key (one
  device producing 90% of rows) use ``asof_join_bucketed``: identical
  semantics, window partitioned by (key, time bucket) with per-bucket
  carry-in rows, so per-task input is bounded by the bucket width.
- **band join**: a small static bands table broadcast against the fact
  with a non-equi (``BETWEEN``-style) condition — BroadcastNestedLoopJoin
  on a tiny build side, the right physical plan for O(10) bands at any
  fact scale.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F


def _struct_type(df: DataFrame, cols: Sequence[str]) -> str:
    inner = ",".join(f"{c}:{df.schema[c].dataType.simpleString()}" for c in cols)
    return f"struct<{inner}>"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    right_cols: Sequence[str],
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """For every row of ``left``, attach ``right_cols`` from the most
    recent ``right`` row with the same ``on`` key and ``right_time <=
    left_time`` (inclusive, DuckDB/kdb+ ASOF semantics); NULLs when no
    such row (left-outer flavor).

    ``right`` must be unique per (on, right_time) — pre-dedup if not,
    otherwise which same-timestamp row wins is undefined.

    Plan: union(tagged) → window(last ignorenulls) → filter to left
    rows. Exactly one hash exchange on ``on``; the sort and carry-
    forward both happen inside the key partition.
    """
    lcols = list(left.columns)
    rcols = list(right_cols)

    tagged_left = left.select(
        F.col(on).alias("__k"),
        F.col(left_time).alias("__t"),
        F.lit(1).alias("__side"),
        F.struct(*lcols).alias("__l"),
        F.lit(None).cast(_struct_type(right, rcols)).alias("__r"),
        F.lit(None).cast("timestamp").alias("__rt"),
    )
    tagged_right = right.select(
        F.col(on).alias("__k"),
        F.col(right_time).alias("__t"),
        F.lit(0).alias("__side"),
        F.lit(None).cast(_struct_type(left, lcols)).alias("__l"),
        F.struct(*rcols).alias("__r"),
        F.col(right_time).cast("timestamp").alias("__rt"),
    )
    unioned = tagged_left.unionByName(tagged_right)

    # side=0 (right) sorts before side=1 (left) at equal __t → inclusive <=
    w = (
        Window.partitionBy("__k")
        .orderBy("__t", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "__t",
        "__side",
        "__l",
        F.last("__r", ignorenulls=True).over(w).alias("__match"),
        F.last("__rt", ignorenulls=True).over(w).alias("__match_t"),
    ).filter(F.col("__side") == 1)
    return _asof_tail(carried, lcols, rcols, tolerance_seconds)


def _asof_tail(
    carried: DataFrame,
    lcols: Sequence[str],
    rcols: Sequence[str],
    tolerance_seconds: int | None,
) -> DataFrame:
    """Shared projection tail: tolerance mask + unpack the tagged
    structs into (left columns, asof_-prefixed right columns)."""
    if tolerance_seconds is not None:
        in_tol = (
            F.col("__t").cast("long") - F.col("__match_t").cast("long")
        ) <= F.lit(tolerance_seconds)
        carried = carried.withColumn(
            "__match", F.when(in_tol, F.col("__match"))
        )
    return carried.select(
        *[F.col(f"__l.{c}").alias(c) for c in lcols],
        *[F.col(f"__match.{c}").alias(f"asof_{c}") for c in rcols],
    )


def asof_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    right_cols: Sequence[str],
    bucket_seconds: int,
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """``asof_join`` with time-range bucketing for skewed keys —
    identical results, bounded per-task input.

    The plain formulation windows over ``partitionBy(on)``: one
    hyper-hot key (90% of rows on one device/user) lands on ONE task
    and the sort there is the straggler. Here the window partitions by
    ``(on, floor(time / bucket_seconds))`` instead, so a hot key
    spreads over its time buckets and per-task input is bounded by the
    key's per-bucket row count.

    Carry-in: a left row whose bucket holds no earlier right row still
    needs the newest right row from ANY earlier bucket. That is
    computed on a per-(key, bucket) summary table (one row per bucket
    per key — ``max_by`` with map-side partial aggregation, so the hot
    key never concentrates raw rows), then a cumulative
    ``last ignorenulls`` over the bucket axis yields each bucket's
    carry row, injected as a synthetic right row that sorts before
    everything in its bucket (``__side = -1``; a real right row at the
    exact bucket start is newer or equal, so it wins the tie by
    construction).

    Same preconditions as ``asof_join`` (right unique per (on, time));
    ``bucket_seconds`` trades skew spread (smaller) against summary-
    table size (larger). The summary window partitions by the bare key
    but holds #buckets rows per key, not #events.
    """
    lcols = list(left.columns)
    rcols = list(right_cols)
    lstruct = _struct_type(left, lcols)
    rstruct = _struct_type(right, rcols)

    def bucket(c: str):
        return F.floor(F.col(c).cast("long") / F.lit(bucket_seconds)).cast(
            "long"
        )

    tagged_left = left.select(
        F.col(on).alias("__k"),
        bucket(left_time).alias("__b"),
        F.col(left_time).cast("timestamp").alias("__t"),
        F.lit(1).alias("__side"),
        F.struct(*lcols).alias("__l"),
        F.lit(None).cast(rstruct).alias("__r"),
        F.lit(None).cast("timestamp").alias("__rt"),
    )
    tagged_right = right.select(
        F.col(on).alias("__k"),
        bucket(right_time).alias("__b"),
        F.col(right_time).cast("timestamp").alias("__t"),
        F.lit(0).alias("__side"),
        F.lit(None).cast(lstruct).alias("__l"),
        F.struct(*rcols).alias("__r"),
        F.col(right_time).cast("timestamp").alias("__rt"),
    )

    # newest right row per (key, bucket): partial-aggregated map-side,
    # so the hot key's raw rows never pile onto one reducer here
    rsum = tagged_right.groupBy("__k", "__b").agg(
        F.max_by(F.struct("__r", "__rt"), F.col("__t")).alias("__p")
    )
    # bucket axis = every (key, bucket) present on either side; the
    # cumulative last over strictly-earlier buckets is each bucket's
    # carry-in (tiny: one row per key per bucket)
    axis = (
        tagged_left.select("__k", "__b")
        .union(tagged_right.select("__k", "__b"))
        .distinct()
    )
    wb = (
        Window.partitionBy("__k")
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = (
        axis.join(rsum, ["__k", "__b"], "left")
        .select(
            "__k",
            "__b",
            F.last("__p", ignorenulls=True).over(wb).alias("__carry"),
        )
        .filter(F.col("__carry").isNotNull())
        .select(
            "__k",
            "__b",
            F.timestamp_seconds(F.col("__b") * F.lit(bucket_seconds)).alias(
                "__t"
            ),
            F.lit(-1).alias("__side"),
            F.lit(None).cast(lstruct).alias("__l"),
            F.col("__carry.__r").alias("__r"),
            F.col("__carry.__rt").alias("__rt"),
        )
    )

    unioned = tagged_left.unionByName(tagged_right).unionByName(carry)
    w = (
        Window.partitionBy("__k", "__b")
        .orderBy("__t", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "__t",
        "__side",
        "__l",
        F.last("__r", ignorenulls=True).over(w).alias("__match"),
        F.last("__rt", ignorenulls=True).over(w).alias("__match_t"),
    ).filter(F.col("__side") == 1)
    return _asof_tail(carried, lcols, rcols, tolerance_seconds)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    right_cols: Sequence[str],
    lower_seconds: float,
    upper_seconds: float,
    bucket_seconds: float | None = None,
) -> DataFrame:
    """Bounded time-range (interval) join: every (left, right) pair
    with the same ``on`` key and

        left_time + lower_seconds  <=  right_time  <  left_time + upper_seconds

    (half-open, microsecond precision). The third member of the time-
    join family: as-of takes the single newest match, band joins a
    static value range, this takes ALL matches inside a sliding window
    — the "events within the preceding day" feature-engineering shape.

    Scale design — the classic bucketed range join (what a plain
    SQL inequality join would execute as a per-key cross product):
    each right row lands in exactly ONE time bucket of width
    ``bucket_seconds`` (default: the window width, so a probe touches
    at most 2 buckets); each left row is replicated to the handful of
    buckets its window overlaps. The join is then a pure equi-join on
    (key, bucket) with the exact range predicate evaluated inside it —
    shuffle keyed by (key, bucket), per-pair output produced exactly
    once (right-bucket uniqueness), no nested-loop anywhere. Probe-side
    replication factor = ceil(window/bucket)+1, a constant chosen by
    the caller, independent of data volume.

    Returns left's columns plus ``right_cols`` prefixed ``r_``.
    """
    if upper_seconds <= lower_seconds:
        raise ValueError("upper_seconds must exceed lower_seconds")
    if bucket_seconds is None:
        bucket_seconds = upper_seconds - lower_seconds
    # round, not int(): int() truncates toward zero, so a fractional-
    # second bound whose microsecond product is not exactly binary-
    # representable (e.g. 0.7 * 1e6 = 699999.9999...) would land 1us
    # inside the intended bound, and truncation != floor for negative
    # lower bounds (ADVICE r6)
    b_us = int(round(bucket_seconds * 1_000_000))
    lo_us = int(round(lower_seconds * 1_000_000))
    up_us = int(round(upper_seconds * 1_000_000))
    if b_us <= 0:
        raise ValueError("bucket_seconds must be positive")

    lcols = list(left.columns)
    rcols = list(right_cols)
    lt = F.unix_micros(F.col(left_time).cast("timestamp"))
    rt = F.unix_micros(F.col(right_time).cast("timestamp"))

    probe = left.select(
        F.col(on).alias("__lk"),
        lt.alias("__lt"),
        F.struct(*lcols).alias("__l"),
    ).withColumn(
        "__lb",
        F.explode(
            F.sequence(
                F.floor((F.col("__lt") + F.lit(lo_us)) / F.lit(b_us)),
                F.floor((F.col("__lt") + F.lit(up_us)) / F.lit(b_us)),
            )
        ),
    )
    build = right.select(
        F.col(on).alias("__rk"),
        rt.alias("__rt"),
        F.struct(*[F.col(c) for c in rcols]).alias("__r"),
    ).withColumn("__rb", F.floor(F.col("__rt") / F.lit(b_us)))

    joined = probe.join(
        build,
        (F.col("__lk") == F.col("__rk"))
        & (F.col("__lb") == F.col("__rb"))
        & (F.col("__rt") >= F.col("__lt") + F.lit(lo_us))
        & (F.col("__rt") < F.col("__lt") + F.lit(up_us)),
        "inner",
    )
    return joined.select(
        *[F.col(f"__l.{c}").alias(c) for c in lcols],
        *[F.col(f"__r.{c}").alias(f"r_{c}") for c in rcols],
    )


def band_join(
    fact: DataFrame,
    value_col: str,
    bands: Sequence[tuple[str, float, float]],
) -> DataFrame:
    """Non-equi join of ``fact`` against a tiny (band, lo, hi) table:
    ``lo <= value < hi``. The bands side is broadcast →
    BroadcastNestedLoopJoin, O(rows × bands) with zero shuffle.
    """
    bands_df = fact.sparkSession.createDataFrame(
        list(bands), "band string, lo double, hi double"
    )
    v = F.col(value_col)
    return fact.join(
        F.broadcast(bands_df),
        (v >= F.col("lo")) & (v < F.col("hi")),
        "inner",
    )
