"""``logentry.parse_timestamp_auto`` (TIMEFORMAT 'auto') is one
``try_cast`` to timestamp. It must give exactly what the per-format
``try_to_timestamp`` chain it replaced gave — the chain is kept here as
the reference — on every shape that chain listed, on offset, fraction
and padding variants, and on malformed input, in UTC and in a session
time zone with daylight saving."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aggregator_spark.sources.logentry import parse_timestamp_auto

# the replaced chain: first format that parses wins, then a bare cast
_REFERENCE_FORMATS = (
    "yyyy-MM-dd'T'HH:mm:ssXXX",
    "yyyy-MM-dd HH:mm:ss.SX",
    "yyyy-MM-dd HH:mm:ssX",
    "yyyy-MM-dd HH:mm:ss.S",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd",
)


def _reference_chain(col):
    parsed = None
    for fmt in _REFERENCE_FORMATS:
        attempt = F.try_to_timestamp(col, F.lit(fmt))
        parsed = attempt if parsed is None else F.coalesce(parsed, attempt)
    return F.coalesce(parsed, F.try_to_timestamp(col))


_OFFSETS = ("+00", "+00:00", "Z", "+0530", "+05:30", "-08", "-0800", "-08:00")

SHAPES = (
    # one example per reference format, in the chain's order
    ["2016-09-29T00:00:01+00:00", "2016-08-05 02:00:06.0+00",
     "2016-08-05 02:00:06+00", "2016-08-05 02:00:06.7",
     "2016-08-05 02:00:06", "2016-08-05"]
    # every offset spelling, with and without a fraction, T or blank
    + [f"2016-03-13 02:30:00{o}" for o in _OFFSETS]
    + [f"2016-03-13 02:30:00.0{o}" for o in _OFFSETS]
    + [f"2016-11-06T01:30:00{o}" for o in _OFFSETS]
    + ["2016-09-29T00:00:01", "2016-09-29T00:00:01.5"]
    # 1..9 fraction digits, with and without an offset
    + [f"2016-08-05 02:00:06.{'123456789'[:k]}" for k in range(1, 10)]
    + [f"2016-08-05 02:00:06.{'987654321'[:k]}+00" for k in range(1, 10)]
    # padding and DST-gap / DST-overlap wall times without an offset
    + [" 2016-08-05 02:00:06.0+00", "2016-08-05 02:00:06.0+00 ",
       "\t2016-08-05\t", "  2016-08-05 02:00:06  ",
       "2016-03-13 02:30:00", "2016-11-06 01:30:00"]
    # malformed, partial and invalid
    + ["2016-02-30 00:00:00", "2016-02-29 00:00:00", "2015-02-29",
       "2016-13-01", "2016-08-05 25:00:00", "2016-08-05 02:60:00",
       "2016-08-05 02:00:61", "2016-08-05 02:00", "2016-08-05T",
       "2016-08", "2016", "16-08-05", "2016/08/05", "2016-8-5",
       "2016-08-05 2:0:6", "2016-08-05 02:00:06.0+99",
       "2016-08-05 02:00:06+05:30:15", "not a date", "", " ", None]
)


@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
def test_cast_matches_format_chain(spark, tz):
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        df = spark.createDataFrame([(s,) for s in SHAPES], "s string")
        rows = df.select(
            "s",
            parse_timestamp_auto(F.col("s")).alias("new"),
            _reference_chain(F.col("s")).alias("ref"),
        ).collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert len(rows) == len(SHAPES)
    diff = [(r.s, r.new, r.ref) for r in rows if r.new != r.ref]
    assert diff == []
    parsed = {r.s for r in rows if r.new is not None}
    # the feed shapes all parse, the garbage does not
    assert {"2016-09-29T00:00:01+00:00", "2016-08-05 02:00:06.0+00",
            "2016-08-05"} <= parsed
    assert not {"not a date", "", "2016-02-30 00:00:00"} & parsed
