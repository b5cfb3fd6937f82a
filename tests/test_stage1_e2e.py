"""Stage-1 pipeline end-to-end: gzipped CSV files → aggregate → amplify →
single-file CSV artifact (reference Aggregator.run(), main.py:71-84)."""

from __future__ import annotations

import gzip

from aggregator_spark.plans.stage1 import run_stage1

SCAN_DAY1 = """\
ts,ip,risk_id,asn,cc
2016-09-28T00:00:01+00:00,71.3.0.1,1,4444,US
2016-09-28T10:00:01+00:00,71.3.0.1,1,4444,US
2016-09-28T00:00:01+00:00,71.3.0.2,1,4444,US
2016-09-28T00:00:01+00:00,71.3.0.1,2,4444,US
"""

SCAN_DAY2 = """\
ts,ip,risk_id,asn,cc
2016-09-29 02:00:06.0+00,71.3.0.1,1,4444,US
2016-09-29 03:00:06.0+00,71.3.0.3,1,5555,DE
"""


def test_stage1_end_to_end(spark, tmp_path):
    # two gzipped daily feeds, like the S3 manifest objects
    # (reference main.py:161-175; gzip is transparent to Spark's reader)
    for name, text in (("day1", SCAN_DAY1), ("day2", SCAN_DAY2)):
        with gzip.open(tmp_path / f"{name}.csv.gz", "wt") as f:
            f.write(text)

    dim_risk = spark.createDataFrame(
        [(1, 41.0), (2, 556.9)], "id int, amplification_factor double"
    )
    out_csv = str(tmp_path / "count.csv")
    res = run_stage1(
        spark,
        [str(tmp_path / "day1.csv.gz"), str(tmp_path / "day2.csv.gz")],
        dim_risk,
        threshold=0,
        output_csv=out_csv,
        count_rows=True,
    )
    assert res.logentry_rows == 6
    # published artifact: headerless, comma-delimited, ordered
    # date DESC, country, asn, risk (reference main.py:213, 232-256)
    lines = open(out_csv).read().splitlines()
    assert lines == [
        "2016-09-29 00:00:00,1,DE,5555,1,41.0",
        "2016-09-29 00:00:00,1,US,4444,1,41.0",
        "2016-09-28 00:00:00,1,US,4444,2,82.0",
        "2016-09-28 00:00:00,2,US,4444,1,556.9",
    ]

