"""Analytics query pack 9 — distributed statistics breadth:
per-group least-squares regression computed from exact integer/decimal
moments, and exact heavy hitters via the two-pass Misra-Gries plan
(operators/heavy_hitters.py).

Cross-engine float determinism follows the house rule: every aggregate
moment is computed EXACTLY (bigint / decimal sums), cast to double
once, and the final arithmetic expression is written with the same
shape on both engines — identical IEEE inputs + identical expression
tree = identical doubles, then round(..., 6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from aggregator_spark.schemas import load_testdata

# x anchor: day index relative to the events epoch keeps the moment
# magnitudes small (x in 0..~30), which keeps the normal-equation
# cancellation mild; any fixed anchor gives the same slope/r2
REGR_ANCHOR = "2024-01-01"

HH_K = 640  # heavy hitter bar: count * HH_K > total bigrams


def q_regr_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS of value against event day: slope, intercept,
    r-squared, and Pearson correlation, via the normal equations over
    exact moments (n, Sx, Sxx as bigint; Sy, Sxy, Syy as decimal sums).

    Scale shape: one map-side-partial aggregation producing six moment
    columns per group — the same single-shuffle cost as a plain
    group-count regardless of fact size; the regression arithmetic runs
    on the handful of grouped rows.
    """
    e = load_testdata(spark, sf_dir, "events")
    base = e.select(
        "event_type",
        F.datediff(
            F.col("ts").cast("date"), F.lit(REGR_ANCHOR).cast("date")
        )
        .cast("bigint")
        .alias("x"),
        F.col("value").cast("decimal(18,6)").alias("y"),
    )
    m = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("y") * F.col("x")).cast("double").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return m.select(
        "event_type",
        F.round(num / denx, 6).alias("slope"),
        F.round(
            (F.col("sy") - (num / denx) * F.col("sx")) / F.col("n"), 6
        ).alias("intercept"),
        F.round((num * num) / (denx * deny), 6).alias("r2"),
        # greatest(...,0): denx*deny is a true-zero quantity computed
        # from rounded doubles and can land epsilon-negative; DuckDB's
        # sqrt raises on a negative argument (Spark returns NaN) —
        # clamping makes both engines yield NULL via x/0 instead
        F.round(
            num / F.sqrt(F.greatest(denx * deny, F.lit(0.0))), 6
        ).alias("corr_xy"),
    ).orderBy("event_type")


def q_heavy_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus heavy hitters over word bigrams: every bigram whose
    count exceeds total/HH_K, found by the two-pass Misra-Gries plan —
    shuffle-free candidate generation, then an exact broadcast recount
    (operators/heavy_hitters.py). Same tokenizer as ``top_tokens``.
    """
    from aggregator_spark.operators.heavy_hitters import (
        bigram_stream,
        heavy_hitters,
    )
    from aggregator_spark.operators.util import scatter

    # bigram generation + MG pass are CPU-bound: don't inherit the
    # small scan's single split (scatter leaves a scan that already
    # has enough splits as it is).
    # Bigrams come from the Arrow worker, not a JVM HOF transform —
    # the interpreted-lambda path was the dominant sf10 cost (see
    # bigram_stream; 8.5 s → 2.3 s warm at sf1)
    docs = scatter(load_testdata(spark, sf_dir, "documents"))
    items = bigram_stream(docs)
    return heavy_hitters(items, "token", k_out=HH_K).orderBy("token")


ANALYTICS9_QUERIES = {
    "regr_value_by_type": q_regr_value_by_type,
    "heavy_bigrams": q_heavy_bigrams,
}


def q_dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit as one plan (operators/dq.py): key
    uniqueness, null checks, range checks, and the lake-side analogue
    of the reference's FK constraints (main.py:499-527) as anti-join
    orphan counts — a mix of passing and deliberately-failing checks so
    the report demonstrably counts."""
    from aggregator_spark.operators import dq

    events = load_testdata(spark, sf_dir, "events")
    orders = load_testdata(spark, sf_dir, "orders")
    customer = load_testdata(spark, sf_dir, "customer")
    lineitem = load_testdata(spark, sf_dir, "lineitem")
    return dq.dq_report(
        [
            dq.check_unique(events, ["event_id"], "events_event_id_unique"),
            dq.check_not_null(
                events, "user_id", "events_user_id_not_null"
            ),
            dq.check_in_range(
                events, "value", 0.0, 100.0, "events_value_in_0_100"
            ),
            dq.check_unique(
                customer, ["c_custkey"], "customer_custkey_unique"
            ),
            dq.check_referential(
                orders, "o_custkey", customer, "c_custkey",
                "orders_custkey_fk",
            ),
            dq.check_referential(
                lineitem, "l_orderkey", orders, "o_orderkey",
                "lineitem_orderkey_fk",
            ),
        ]
    )


ANALYTICS9_QUERIES["dq_report"] = q_dq_report
