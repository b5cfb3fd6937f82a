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

All four granularities are one aggregation: each fact row is exploded
into one (granularity tag, ``date_trunc`` period) row per granularity, and
``groupingSets`` groups by the tag in every set × the 8 subsets of
(period, country, risk) — per tag exactly ``CUBE(period, country, risk)``.
The physical plan is Generate + Expand + HashAggregate; the reference
re-scans the fact once per granularity. ``rollup_cube`` is the
one-granularity case of the same plan. The sentinel rewrite deliberately
mirrors the reference's quirk of rewriting ALL NULLs — including genuine
NULL data, not only cube-generated ones (``F.grouping()`` could
distinguish; fidelity says don't — SURVEY.md §4.2 item 3). NULL period
keys get a sentinel date.

Scale notes: the tag × 8 grouping sets expand every input row 32×;
Catalyst does a partial HashAggregate on the expanded rows before the
single shuffle, so the wire volume is bounded by (groups × 32), not
(rows × 32).
"""

from __future__ import annotations

import datetime
import itertools

from pyspark.sql import DataFrame, functions as F

GRANULARITIES = ("week", "month", "quarter", "year")

SENTINEL_RISK = 100  # "global"/DDOS risk row, reference main.py:408-412
SENTINEL_COUNTRY = "T"  # "Total" country row, reference main.py:413-417
SENTINEL_DATE = datetime.date(1970, 1, 1)  # all-period rollup key


def tagged_cubes(
    fact: DataFrame,
    granularities: tuple[str, ...] = GRANULARITIES,
    sentinel_risk: int = SENTINEL_RISK,
    sentinel_country: str = SENTINEL_COUNTRY,
    sentinel_date: datetime.date = SENTINEL_DATE,
) -> DataFrame:
    """The agg_risk_country_{g} tables of every g in ``granularities`` as
    one DataFrame, each row tagged with its ``granularity``; ``cube_of``
    splits one table out."""
    unknown = set(granularities) - set(GRANULARITIES)
    if unknown or not granularities:
        raise ValueError(f"granularity must be one of {GRANULARITIES}")
    periods = F.array(
        *[
            F.struct(
                F.lit(g).alias("granularity"),
                F.date_trunc(g, F.col("date")).cast("date").alias("__period"),
            )
            for g in granularities
        ]
    )
    keys = ("__period", "country", "risk")
    sets = [
        ["granularity", *subset]
        for r in range(len(keys) + 1)
        for subset in itertools.combinations(keys, r)
    ]
    return (
        fact.select(F.inline(periods), *keys[1:], "count", "count_amplified")
        .groupingSets(sets, "granularity", *keys)
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
            "granularity",
            F.coalesce(F.col("__period"), F.lit(sentinel_date)).alias("date"),
            F.coalesce(F.col("risk"), F.lit(sentinel_risk)).alias("risk"),
            F.coalesce(F.col("country"), F.lit(sentinel_country)).alias(
                "country"
            ),
            "count",
            "count_amplified",
        )
    )


def cube_of(tagged: DataFrame, granularity: str) -> DataFrame:
    """One granularity's table out of ``tagged_cubes``' result."""
    return tagged.where(F.col("granularity") == granularity).drop("granularity")


def rollup_cube(
    fact: DataFrame,
    granularity: str,
    sentinel_risk: int = SENTINEL_RISK,
    sentinel_country: str = SENTINEL_COUNTRY,
    sentinel_date: datetime.date = SENTINEL_DATE,
) -> DataFrame:
    """One agg_risk_country_{granularity} table as a DataFrame: the
    one-granularity case of ``tagged_cubes``."""
    tagged = tagged_cubes(
        fact, (granularity,), sentinel_risk, sentinel_country, sentinel_date
    )
    return cube_of(tagged, granularity)
