"""Rollup cubes (Q13) + NULL→sentinel rewrite (Q14).

Reference (reference main.py:379-421): per granularity t ∈ {week, month,
quarter, year}:

    INSERT INTO agg_risk_country_{t} (
      SELECT date_trunc('{t}', date), risk, country,
             SUM(count), SUM(count_amplified)
      FROM fact_count GROUP BY CUBE(date_trunc('{t}', date), country, risk)
      ORDER BY date DESC, country)
    UPDATE agg_risk_country_{t} SET risk = 100    WHERE risk IS NULL
    UPDATE agg_risk_country_{t} SET country = 'T' WHERE country IS NULL

Spark's ``cube()`` is the direct equivalent (Expand + HashAggregate
physical plan). The sentinel rewrite deliberately mirrors the reference's
quirk of rewriting ALL NULLs — including genuine NULL data, not only
cube-generated ones (``F.grouping()`` could distinguish; fidelity says
don't — SURVEY.md §4.2 item 3). NULL period keys get a sentinel date.

Scale notes: CUBE over 3 keys expands every input row 8×; Catalyst does a
partial HashAggregate on the expanded rows before the single shuffle, so
the wire volume is bounded by (groups × 8), not (rows × 8). The four
granularities reuse one cached fact (reference re-scans the table 4×).
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, functions as F

GRANULARITIES = ("week", "month", "quarter", "year")

SENTINEL_RISK = 100  # "global"/DDOS risk row, reference main.py:408-412
SENTINEL_COUNTRY = "T"  # "Total" country row, reference main.py:413-417
SENTINEL_DATE = datetime.date(1970, 1, 1)  # all-period rollup key


def rollup_cube(
    fact: DataFrame,
    granularity: str,
    sentinel_risk: int = SENTINEL_RISK,
    sentinel_country: str = SENTINEL_COUNTRY,
    sentinel_date: datetime.date = SENTINEL_DATE,
) -> DataFrame:
    """One agg_risk_country_{granularity} table as a DataFrame."""
    if granularity not in GRANULARITIES:
        raise ValueError(f"granularity must be one of {GRANULARITIES}")
    period = F.date_trunc(granularity, F.col("date")).cast("date")
    return (
        fact.withColumn("__period", period)
        .cube("__period", "country", "risk")
        .agg(
            F.sum("count").alias("count"),
            # decimal-sum keeps the result independent of partial-agg
            # order (double addition is not associative); one final cast
            # back to double preserves the published schema.
            F.sum(F.col("count_amplified").cast("decimal(30,6)"))
            .cast("double")
            .alias("count_amplified"),
        )
        .select(
            F.coalesce(F.col("__period"), F.lit(sentinel_date)).alias("date"),
            F.coalesce(F.col("risk"), F.lit(sentinel_risk)).alias("risk"),
            F.coalesce(F.col("country"), F.lit(sentinel_country)).alias(
                "country"
            ),
            "count",
            "count_amplified",
        )
    )
