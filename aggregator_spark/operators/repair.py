"""Dimension repair: anti-join discovery + placeholder append (Q15, U2-U4).

Reference (reference main.py:425-496):

    SELECT DISTINCT country FROM fact_count fc
    WHERE NOT EXISTS (SELECT 1 FROM dim_country dc WHERE fc.country = dc.id)
      AND country IS NOT NULL
    -- per row: INSERT INTO dim_country VALUES (id,'unknown','unknown',...)

and the ASN variant over (asn, country) vs dim_asn.number with a NULL
country → 'XY' fallback (main.py:488) and a first-wins Python dedup of
ASNs that appear with two countries (main.py:479-491).

The reference round-trips these rows through the driver (fetchall → INSERT
loop); here they stay distributed: ``left_anti`` join + ``unionByName``.
The first-wins dedup becomes a deterministic window ``row_number() == 1``
ordered by country (the reference's loop order is arbitrary dict order —
we pin it, SURVEY.md §2.6 U4). Discovery (``missing_*``) and placeholder
append (``with_*_placeholders``) are separate steps, so a caller that
also logs the missing keys (stage 2) computes each missing frame once and
feeds both the log and the append from it.

Scale notes: dims are broadcast; the anti-join never shuffles the fact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def missing_countries(fact: DataFrame, dim_country: DataFrame) -> DataFrame:
    """Q15a (reference main.py:432-437): fact countries absent from the dim."""
    return (
        fact.select("country")
        .where(F.col("country").isNotNull())
        .distinct()
        .join(
            F.broadcast(dim_country.select(F.col("id"))),
            F.col("country") == F.col("id"),
            "left_anti",
        )
    )


def with_country_placeholders(
    dim_country: DataFrame, missing: DataFrame
) -> DataFrame:
    """U2 (reference main.py:446-452): append one ('XX','unknown',...) row
    per ``missing_countries`` row — 'unknown' in every non-key column of
    whatever dim schema is given."""
    placeholders = missing.select(
        F.col("country").alias("id"),
        *[
            F.lit("unknown").cast(f.dataType).alias(f.name)
            for f in dim_country.schema.fields
            if f.name != "id"
        ],
    )
    return dim_country.unionByName(placeholders)


def repair_dim_country(fact: DataFrame, dim_country: DataFrame) -> DataFrame:
    """U2: ``dim_country`` plus placeholders for the fact's missing ids."""
    return with_country_placeholders(
        dim_country, missing_countries(fact, dim_country)
    )


def missing_asns(fact: DataFrame, dim_asn: DataFrame) -> DataFrame:
    """Q15b+U4 (reference main.py:464-494): (asn, country) pairs absent from
    dim_asn, deduped first-wins per asn (deterministic: country ASC)."""
    pairs = (
        fact.select("asn", "country")
        .where(F.col("asn").isNotNull())
        .distinct()
        .join(
            F.broadcast(dim_asn.select(F.col("number"))),
            F.col("asn") == F.col("number"),
            "left_anti",
        )
    )
    w = Window.partitionBy("asn").orderBy(F.col("country").asc_nulls_last())
    return (
        pairs.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def with_asn_placeholders(dim_asn: DataFrame, missing: DataFrame) -> DataFrame:
    """U3 (reference main.py:486-488): append (n,'unknown',country-or-'XY')
    per ``missing_asns`` row."""
    placeholders = missing.select(
        F.col("asn").alias("number"),
        F.lit("unknown").alias("title"),
        F.coalesce(F.col("country"), F.lit("XY")).alias("country"),
    )
    return dim_asn.unionByName(placeholders)


def repair_dim_asn(fact: DataFrame, dim_asn: DataFrame) -> DataFrame:
    """U3+U4: ``dim_asn`` plus placeholders for the fact's missing ASNs."""
    return with_asn_placeholders(dim_asn, missing_asns(fact, dim_asn))
