"""Per-key expanding-window anomaly detection: flag a value as an
outlier against the EXACT running moments of all strictly-earlier
values for the same key — the online feature-drift / sensor-outlier
primitive.

Cross-engine determinism (the driver hashes values): the running
moments are EXACT — sum(x) and sum(x*x) accumulate as decimal(30,6)
window sums (order-independent, no float accumulation drift), cast to
double once at the end; mean/variance/z are then one fixed-shape IEEE
double expression over those exact inputs, bit-identical on any
engine. The continuous output column is floor-quantized to micro-units
(floor never has cross-engine tie semantics, unlike round).

Scale design: one shuffle on the key (the window partition), O(1)
state per row inside the partition, no self-join — the naive
formulation is a per-key range self-join, quadratic in the hot key.
For a hyper-hot key, ``expanding_zscore_bucketed`` applies the same
time-bucketing remedy as ``asof_join_bucketed``: the window
partitions by (key, time bucket) and each bucket's carry-in moments
(n, s1, s2) come from a cumulative window over the buckets-sized
per-bucket summary. Because the moments are EXACT decimals, carry-in
plus local running sums equals the global running sums exactly, so
the bucketed form is bit-identical to the plain one (pinned by test)
— the skew fix costs nothing in semantics.

Value envelope: |value| must stay below ~1e12, so that value**2 fits
decimal(30,6) (24 integer digits). Outside the envelope the non-ANSI
decimal cast would silently NULL the square while count() still saw
the row — variance would under-sum and the zero-variance branch would
then flag everything — so the operator RAISES on envelope violations
instead (guarded square below). NaN/NULL values are exempt (skipped
like NULLs everywhere).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

MIN_PRIOR = 5  # fewer earlier observations than this -> never flagged
SIGMAS = 3.0


def _guarded_square(col: str = "__v"):
    """value**2 as decimal(30,6), raising on envelope overflow.

    Non-ANSI cast overflow yields NULL; a non-NULL, non-NaN value whose
    square cast is NULL is therefore outside the |value| < ~1e12
    envelope and must fail loudly (silent NULL corrupts the variance —
    ADVICE r6). NaN casts to NULL too and is a legitimate skip, not an
    overflow.
    """
    v = F.col(col)
    # try_cast, not cast: ANSI mode (the Spark 4 default) would raise
    # its own NUMERIC_VALUE_OUT_OF_RANGE inside the cast (and CAST
    # errors on NaN, which must stay a skip); try_cast yields NULL in
    # BOTH ANSI modes so the envelope check below is the single,
    # uniform failure path
    raw = (v * v).try_cast("decimal(30,6)")
    overflow = v.isNotNull() & ~F.isnan(v.cast("double")) & raw.isNull()
    return F.when(
        overflow,
        F.raise_error(
            F.concat(
                F.lit(
                    "expanding_zscore: |value| exceeds the decimal(30,6)"
                    " envelope (~1e12): "
                ),
                v.cast("string"),
            )
        ),
    ).otherwise(raw)


def expanding_zscore(
    events: DataFrame,
    key_col: str = "user_id",
    time_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    min_prior: int = MIN_PRIOR,
    sigmas: float = SIGMAS,
) -> DataFrame:
    """(id, key, n_prior, z_micro, is_anomaly) per input row.

    ``n_prior`` counts strictly-earlier rows (ties broken by ``id_col``
    so the frame is total and reproducible). ``z_micro`` =
    floor(1e6 * (x - mean)/stddev) over the prior window, NULL when the
    window is short (< min_prior) or degenerate (zero variance).
    ``is_anomaly`` is true when |x - mean| > sigmas * stddev, with the
    zero-variance window flagging ANY deviation (all priors equal, so
    any change is infinitely surprising).
    """
    w = (
        Window.partitionBy("__k")
        .orderBy("__t", "__id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # try_cast: NaN must quantize to NULL (a skip) without tripping
    # the ANSI cast; magnitude overflow of the VALUE itself is caught
    # by the tighter square-envelope guard
    vq = F.col("__v").try_cast("decimal(30,6)")
    sq = _guarded_square()
    xq = vq.cast("double")

    base = events.select(
        F.col(id_col).alias("__id"),
        F.col(key_col).alias("__k"),
        F.col(time_col).alias("__t"),
        F.col(value_col).alias("__v"),
    )
    stats = base.select(
        "__id",
        "__k",
        xq.alias("__x"),
        F.count(vq).over(w).alias("__n"),
        F.sum(vq).over(w).cast("double").alias("__s1"),
        F.sum(sq).over(w).cast("double").alias("__s2"),
    )
    return _zscore_tail(stats, id_col, key_col, min_prior, sigmas)


def _zscore_tail(
    stats: DataFrame,
    id_col: str,
    key_col: str,
    min_prior: int,
    sigmas: float,
) -> DataFrame:
    """Shared projection: (__id, __k, __x, __n, __s1, __s2) → the
    output schema. Both forms feed EXACTLY the same doubles in, so the
    expression tree below is the single place the flag semantics live."""
    mean = F.col("__s1") / F.col("__n")
    var = F.greatest(
        F.col("__s2") / F.col("__n") - mean * mean, F.lit(0.0)
    )
    dev = F.col("__x") - mean
    enough = F.col("__n") >= F.lit(min_prior)
    z = dev / F.sqrt(var)
    return stats.select(
        F.col("__id").alias(id_col),
        F.col("__k").alias(key_col),
        F.col("__n").cast("long").alias("n_prior"),
        F.when(enough & (var > F.lit(0.0)), F.floor(z * F.lit(1e6)))
        .cast("long")
        .alias("z_micro"),
        F.coalesce(
            enough
            & F.when(
                var > F.lit(0.0), F.abs(dev) > F.lit(sigmas) * F.sqrt(var)
            ).otherwise(F.abs(dev) > F.lit(0.0)),
            F.lit(False),
        ).alias("is_anomaly"),
    )


def expanding_zscore_bucketed(
    events: DataFrame,
    key_col: str = "user_id",
    time_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
    min_prior: int = MIN_PRIOR,
    sigmas: float = SIGMAS,
    bucket_seconds: int = 86_400,
) -> DataFrame:
    """``expanding_zscore`` with time-range bucketing for skewed keys —
    bit-identical results, bounded per-task input.

    The plain form windows over ``partitionBy(key)``: one hyper-hot
    key lands its entire history on one task. Here the running-moment
    window partitions by (key, floor(time / bucket_seconds)); the
    moments of everything BEFORE a row's bucket arrive as carry-in,
    computed by a cumulative window over the per-(key, bucket) summary
    table (one row per bucket per key — built with map-side partial
    aggregation, so the hot key never concentrates raw rows there
    either). Decimal sums are exact, so carry-in + local running sums
    equal the plain form's global running sums EXACTLY — same doubles,
    same flags.
    """
    b = F.floor(
        F.unix_micros(F.col("__t").cast("timestamp"))
        / F.lit(int(round(bucket_seconds * 1_000_000)))
    )
    base = events.select(
        F.col(id_col).alias("__id"),
        F.col(key_col).alias("__k"),
        F.col(time_col).alias("__t"),
        F.col(value_col).alias("__v"),
    ).withColumn("__b", b)
    # try_cast: NaN must quantize to NULL (a skip) without tripping
    # the ANSI cast; magnitude overflow of the VALUE itself is caught
    # by the tighter square-envelope guard
    vq = F.col("__v").try_cast("decimal(30,6)")
    sq = _guarded_square()
    xq = vq.cast("double")

    wl = (
        Window.partitionBy("__k", "__b")
        .orderBy("__t", "__id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = base.select(
        "__id",
        "__k",
        "__b",
        xq.alias("__x"),
        F.count(vq).over(wl).alias("__ln"),
        F.sum(vq).over(wl).alias("__ls1"),
        F.sum(sq).over(wl).alias("__ls2"),
    )
    # per-bucket totals: partial-aggregated map-side; the summary is
    # buckets-sized, never raw-row-sized
    totals = base.groupBy("__k", "__b").agg(
        F.count(vq).alias("__bn"),
        F.sum(vq).alias("__bs1"),
        F.sum(sq).alias("__bs2"),
    )
    wb = (
        Window.partitionBy("__k")
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = totals.select(
        "__k",
        "__b",
        F.sum("__bn").over(wb).alias("__cn"),
        F.sum("__bs1").over(wb).alias("__cs1"),
        F.sum("__bs2").over(wb).alias("__cs2"),
    )
    zero = F.lit(0).cast("decimal(30,6)")
    n_total = F.coalesce("__cn", F.lit(0)) + F.col("__ln")
    # NULL-SAFE join keys: the plain form keeps NULL-key rows (one
    # window partition) and NULL-time rows; a null-unsafe equi-join
    # here would silently drop them and break the bit-parity contract
    carry = carry.select(
        F.col("__k").alias("__ck"),
        F.col("__b").alias("__cb"),
        "__cn",
        "__cs1",
        "__cs2",
    )
    joined = local.join(
        carry,
        local["__k"].eqNullSafe(carry["__ck"])
        & local["__b"].eqNullSafe(carry["__cb"]),
    )
    # sums stay NULL on an empty window, like the plain form's window
    # sums — ANSI mode would otherwise throw on 0.0 / 0 in the tail
    stats = joined.select(
        "__id",
        "__k",
        "__x",
        n_total.alias("__n"),
        F.when(
            n_total > 0,
            (
                F.coalesce(F.col("__cs1"), zero)
                + F.coalesce(F.col("__ls1"), zero)
            ).cast("double"),
        ).alias("__s1"),
        F.when(
            n_total > 0,
            (
                F.coalesce(F.col("__cs2"), zero)
                + F.coalesce(F.col("__ls2"), zero)
            ).cast("double"),
        ).alias("__s2"),
    )
    return _zscore_tail(stats, id_col, key_col, min_prior, sigmas)
