"""Core aggregate: dedup → group-count → having → order.

Reference semantics (reference main.py:206-215):

    INSERT INTO count (
      SELECT date, risk, country, asn, count(*), 0 as count_amplified FROM (
        SELECT DISTINCT (ip), date_trunc('day', date) as date,
               risk, asn, country FROM logentry)
      GROUP BY date, asn, risk, country
      HAVING count(*) > %(count)s
      ORDER BY date DESC, country ASC, asn ASC, risk ASC)

Note ``DISTINCT (ip)`` is plain DISTINCT over all five select-list columns
(the parens are cosmetic, SURVEY.md §2.4 Q2). The threshold comparison is
strictly greater (reference main.py:64-69, 213).

Scale notes: Catalyst plans distinct→count(*) as two HashAggregates with a
map-side partial each, so only distinct (ip, day, risk, asn, country) tuples
cross the wire, then only group keys. At 100 TB the first shuffle dominates;
``approx_distinct=True`` swaps the exact two-phase distinct for a single
HyperLogLog++ aggregation (one shuffle of group keys only, no per-IP tuples
shuffled at all).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def dedup_observations(
    df: DataFrame,
    ts_col: str = "date",
    key_cols: tuple[str, ...] = ("ip", "risk", "asn", "country"),
) -> DataFrame:
    """Q2 (reference main.py:211): one row per (ip, day, *keys)."""
    return df.select(
        F.date_trunc("day", F.col(ts_col)).alias("date"), *key_cols
    ).distinct()


def group_count(
    df: DataFrame,
    group_cols: tuple[str, ...] = ("date", "asn", "risk", "country"),
    threshold: int = 100,
    count_col: str = "count",
) -> DataFrame:
    """Q4+F1 (reference main.py:206-215): group-count with strict HAVING."""
    return (
        df.groupBy(*group_cols)
        .agg(F.count(F.lit(1)).alias(count_col))
        .filter(F.col(count_col) > F.lit(threshold))
    )


def ordered_fact(df: DataFrame) -> DataFrame:
    """O1 (reference main.py:213): ORDER BY date DESC, country, asn, risk."""
    return df.orderBy(F.col("date").desc(), "country", "asn", "risk")


def aggregate_counts(
    logentry: DataFrame,
    threshold: int = 100,
    approx_distinct: bool = False,
    ordered: bool = True,
) -> DataFrame:
    """The full stage-1 aggregate (Q2+Q4+F1+Q7+O1, reference main.py:206-215).

    Returns columns (date, risk, country, asn, count, count_amplified) in
    the reference ``count`` table shape; ``count_amplified`` is the literal
    0.0 placeholder (Q7, reference main.py:209) later filled by
    :func:`aggregator_spark.operators.amplify.amplified_counts`.
    """
    if approx_distinct:
        grouped = (
            logentry.select(
                F.date_trunc("day", F.col("date")).alias("date"),
                "risk",
                "asn",
                "country",
                "ip",
            )
            .groupBy("date", "asn", "risk", "country")
            .agg(F.approx_count_distinct("ip").alias("count"))
            .filter(F.col("count") > F.lit(threshold))
        )
    else:
        grouped = group_count(dedup_observations(logentry), threshold=threshold)
    out = grouped.select(
        "date",
        "risk",
        "country",
        "asn",
        "count",
        F.lit(0.0).alias("count_amplified"),
    )
    return ordered_fact(out) if ordered else out
