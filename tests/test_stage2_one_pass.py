"""Stage 2 pays for each derived table once: the four cubes are one tagged
grouping-sets pass, every published table costs one Spark job, nothing is
left registered with the cache manager (so a CSV rewritten at the same
path is read afresh the next night), and building the feed reader over
more paths than Spark's parallel-listing default starts no listing job."""

from __future__ import annotations

import datetime
import gzip
from collections import Counter

import pytest

from pyspark.sql import functions as F

from aggregator_spark.operators.cube import (
    GRANULARITIES,
    SENTINEL_COUNTRY,
    SENTINEL_DATE,
    SENTINEL_RISK,
    cube_of,
    rollup_cube,
    tagged_cubes,
)
from aggregator_spark.plans.stage2 import run_stage2
from aggregator_spark.schemas import FACT_COUNT
from aggregator_spark.sources.logentry import read_logentry_csv

STAGE1_CSV_SCHEMA = (
    "date timestamp, risk int, country string, asn long, count long, "
    "count_amplified double"
)

# spans weeks, months, quarters and years, with genuine NULL risk and
# country rows (the sentinel rewrite folds them into the rollup rows)
FACT_ROWS = [
    (datetime.date(2015, 12, 30), 0, "AA", 1, 3, 1.5),
    (datetime.date(2016, 1, 2), 0, "AA", 1, 4, 2.25),
    (datetime.date(2016, 1, 5), 1, "ZZ", 2, 5, 10.1),
    (datetime.date(2016, 3, 31), None, "AA", 3, 6, 0.7),
    (datetime.date(2016, 4, 1), 1, None, 4, 7, 3.3),
    (datetime.date(2016, 4, 1), None, None, 5, 8, 8.8),
    (datetime.date(2016, 9, 3), 0, "ZZ", 2, 9, 1353.0),
]


def _jobs_started(spark, fn):
    """(fn's result, ids of the Spark jobs started while fn ran)."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty(60_000)
    before = set(sc.statusTracker().getJobIdsForGroup())
    out = fn()
    bus.waitUntilEmpty(60_000)
    return out, set(sc.statusTracker().getJobIdsForGroup()) - before


def _cache_is_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _dims(spark):
    return (
        spark.createDataFrame(
            [(0, "r", 1.0)], "id int, slug string, amplification_factor double"
        ),
        spark.createDataFrame([("AA", "A")], "id string, name string"),
        spark.createDataFrame(
            [(1, "t", "AA")], "number long, title string, country string"
        ),
    )


def _reference_cube(fact, g):
    """The reference's per-granularity CUBE, one plan per granularity."""
    return (
        fact.withColumn("p", F.date_trunc(g, "date").cast("date"))
        .cube("p", "country", "risk")
        .agg(
            F.sum("count").alias("count"),
            F.sum(F.col("count_amplified").cast("decimal(30,6)"))
            .cast("double")
            .alias("count_amplified"),
        )
        .select(
            F.coalesce("p", F.lit(SENTINEL_DATE)).alias("date"),
            F.coalesce("risk", F.lit(SENTINEL_RISK)).alias("risk"),
            F.coalesce("country", F.lit(SENTINEL_COUNTRY)).alias("country"),
            "count",
            "count_amplified",
        )
    )


def _rows(df) -> Counter:
    return Counter(tuple(r) for r in df.collect())


def test_one_pass_equals_four(spark):
    fact = spark.createDataFrame(FACT_ROWS, FACT_COUNT)
    tagged = tagged_cubes(fact)
    assert {r[0] for r in tagged.select("granularity").distinct().collect()} == set(
        GRANULARITIES
    )
    for g in GRANULARITIES:
        one_pass = _rows(cube_of(tagged, g))
        assert one_pass == _rows(rollup_cube(fact, g)), g
        assert one_pass == _rows(_reference_cube(fact, g)), g
    # the all-NULL quirk: the genuine NULL-country rows land on 'T'
    year = _rows(cube_of(tagged, "year"))
    assert year[(datetime.date(2016, 1, 1), 1, "T", 7, 3.3)] == 1


def test_rollup_cube_rejects_unknown_granularity(spark):
    fact = spark.createDataFrame(FACT_ROWS, FACT_COUNT)
    with pytest.raises(ValueError):
        rollup_cube(fact, "day")


def test_each_published_table_costs_one_job(spark):
    fact = spark.createDataFrame(FACT_ROWS, FACT_COUNT)
    res = run_stage2(spark, fact, *_dims(spark))
    tables = res.tables()
    assert len(tables) == 9
    for name, df in tables.items():
        _, jobs = _jobs_started(
            spark, lambda: df.write.format("noop").mode("overwrite").save()
        )
        assert len(jobs) == 1, f"{name} started jobs {sorted(jobs)}"
    assert res.missing_countries == ["ZZ"]
    assert res.missing_asns == [2, 3, 4, 5]


def test_rewritten_stage1_csv_is_read_afresh(spark, tmp_path):
    """The stage-1 CSV lands at the same path every night; the second
    night's stage 2 must see the second night's rows."""
    spark.catalog.clearCache()  # what earlier tests in this session cached
    path = tmp_path / "count.csv"
    nights = [
        ("2016-09-01 00:00:00,0,AA,1,5,5.0\n",
         (datetime.date(2016, 9, 1), 0, "AA", 1, 5, 5.0)),
        ("2016-09-02 00:00:00,0,ZZ,2,7,7.0\n",
         (datetime.date(2016, 9, 2), 0, "ZZ", 2, 7, 7.0)),
    ]
    for text, row in nights:
        path.write_text(text)
        fact = spark.read.csv(
            str(path),
            schema=STAGE1_CSV_SCHEMA,
            timestampFormat="yyyy-MM-dd HH:mm:ss",
        )
        res = run_stage2(spark, fact, *_dims(spark))
        assert [tuple(r) for r in res.fact_count.collect()] == [row]
    assert _cache_is_empty(spark)


def test_feed_reader_starts_no_listing_job(spark, tmp_path):
    paths = []
    for i in range(40):
        p = tmp_path / f"scans_{i:02d}.csv.gz"
        with gzip.open(p, "wt") as fh:
            fh.write("date,ip,risk,asn,country\n")
            fh.write(f"2016-09-01 00:00:0{i % 10}+00,10.0.0.{i},1,{i},AA\n")
        paths.append(str(p))
    df, jobs = _jobs_started(spark, lambda: read_logentry_csv(spark, paths))
    assert jobs == set(), f"building the reader ran Spark jobs {sorted(jobs)}"
    assert df.count() == 40
