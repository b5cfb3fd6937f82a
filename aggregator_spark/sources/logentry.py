"""logentry CSV source: gzipped scan logs → typed DataFrame.

Reference load (reference main.py:161-175): Redshift
``COPY ... MANIFEST ... gzip IGNOREHEADER 1 TIMEFORMAT 'auto'``.
Spark equivalents: gzip is transparent to the CSV reader (one task per
gzip file — same per-object parallelism as Redshift's COPY); header rows
are skipped with ``header=True``; TIMEFORMAT 'auto' becomes a tolerant
timestamp cast, since production rows carry
``2016-08-05 02:00:06.0+00`` (reference README.md:20-22) while test
fixtures carry ISO-T ``2016-09-29T00:00:01+00:00``
(reference tests/aggregation_tests.py:101-105).

Columns are positional (COPY ignores header names): date, ip, risk,
asn, country — reference main.py:134-139.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

# raw read: everything string, parse timestamps ourselves (TIMEFORMAT auto)
_RAW = T.StructType(
    [
        T.StructField("date", T.StringType()),
        T.StructField("ip", T.StringType()),
        T.StructField("risk", T.StringType()),
        T.StructField("asn", T.StringType()),
        T.StructField("country", T.StringType()),
    ]
)


def parse_timestamp_auto(col):
    """TIMEFORMAT 'auto' (reference main.py:169): one tolerant cast,
    NULL when the string is no timestamp. The cast takes every shape
    the feeds carry — ISO-T ``2016-09-29T00:00:01+00:00``, production
    ``2016-08-05 02:00:06.0+00``, offsets ``+00``/``+0530``/``+05:30``/
    ``Z`` or none (session time zone), 1–9 fraction digits, a bare
    date, surrounding blanks. A per-format ``to_timestamp`` chain gives
    the same values (tests/test_logentry_timestamp.py) but throws and
    catches a parse exception per row for every format tried before
    the one that matches."""
    return col.try_cast("timestamp")


def read_logentry_csv(
    spark: SparkSession, paths: str | list[str], header: bool = True
) -> DataFrame:
    # enforceSchema: COPY IGNOREHEADER is positional — header NAMES are
    # ignored (test fixtures use ts/risk_id/cc, SURVEY.md §1.1)
    raw = (
        spark.read.option("header", header)
        .option("enforceSchema", True)
        .csv(paths, schema=_RAW)
    )
    return raw.select(
        parse_timestamp_auto(F.col("date")).alias("date"),
        "ip",
        # try_cast, NOT cast: under ANSI mode (Spark 4 default) a plain
        # cast ABORTS the whole load on one malformed numeric — a 100 TB
        # feed must degrade garbage to NULL instead (COPY MAXERROR-ish)
        F.col("risk").try_cast("int").alias("risk"),
        F.col("asn").try_cast("long").alias("asn"),
        "country",
    )


def logentry_from_rows(spark: SparkSession, csv_text: str) -> DataFrame:
    """Inline-CSV convenience mirroring the reference tests' StringIO
    COPY (reference tests/aggregation_tests.py:100-105); header row
    skipped, positional columns."""
    lines = [l for l in csv_text.strip().splitlines() if l.strip()]
    rows = [l.split(",") for l in lines[1:]]
    raw = spark.createDataFrame(rows, _RAW)
    return raw.select(
        parse_timestamp_auto(F.col("date")).alias("date"),
        "ip",
        # try_cast, NOT cast: under ANSI mode (Spark 4 default) a plain
        # cast ABORTS the whole load on one malformed numeric — a 100 TB
        # feed must degrade garbage to NULL instead (COPY MAXERROR-ish)
        F.col("risk").try_cast("int").alias("risk"),
        F.col("asn").try_cast("long").alias("asn"),
        "country",
    )
