"""asof_join_bucketed (operators/asof.py): identical results to the
plain as-of join, with the window partitioned by (key, time bucket) so
a hyper-hot key spreads over its buckets instead of one straggler task.
"""

from __future__ import annotations

import datetime
import random

from pyspark.sql import functions as F

from aggregator_spark.operators.asof import asof_join, asof_join_bucketed
from aggregator_spark.schemas import load_testdata

T0 = datetime.datetime(2024, 1, 1)


def _ts(minutes: float) -> datetime.datetime:
    return T0 + datetime.timedelta(minutes=minutes)


def _pairs(out):
    return sorted(
        (r["lid"], r["asof_rid"], r["asof_rt"]) for r in out.collect()
    )


def _mk(spark, lrows, rrows):
    left = spark.createDataFrame(lrows, "k long, lt timestamp, lid long")
    right = spark.createDataFrame(rrows, "k long, rt timestamp, rid long")
    return left, right


def test_bucketed_equals_plain_random(spark):
    rng = random.Random(42)
    lrows = [
        (rng.randrange(4), _ts(rng.uniform(0, 600)), i) for i in range(300)
    ]
    seen: dict[tuple[int, datetime.datetime], int] = {}
    for j in range(200):
        key = (rng.randrange(4), _ts(rng.uniform(0, 600)))
        seen[key] = 1000 + j
    rrows = [(k, t, rid) for (k, t), rid in seen.items()]
    left, right = _mk(spark, lrows, rrows)

    kw = dict(
        on="k", left_time="lt", right_time="rt", right_cols=["rid", "rt"]
    )
    plain = asof_join(left, right, **kw)
    for bucket_seconds in (3600, 7200, 86400):
        bucketed = asof_join_bucketed(
            left, right, bucket_seconds=bucket_seconds, **kw
        )
        assert _pairs(bucketed) == _pairs(plain), bucket_seconds


def test_bucketed_equals_plain_with_tolerance(spark):
    rng = random.Random(7)
    lrows = [(0, _ts(rng.uniform(0, 300)), i) for i in range(100)]
    rrows = [(0, _ts(m * 7.5), 1000 + m) for m in range(40)]
    left, right = _mk(spark, lrows, rrows)
    kw = dict(
        on="k",
        left_time="lt",
        right_time="rt",
        right_cols=["rid", "rt"],
        tolerance_seconds=900,
    )
    plain = asof_join(left, right, **kw)
    bucketed = asof_join_bucketed(left, right, bucket_seconds=3600, **kw)
    assert _pairs(bucketed) == _pairs(plain)


def test_carry_in_across_empty_buckets(spark):
    # one right row at t=0; left rows many buckets later — the carry
    # must survive buckets with no right rows at all
    left, right = _mk(
        spark,
        [(0, _ts(500), 1), (0, _ts(1000), 2), (1, _ts(1000), 3)],
        [(0, _ts(0), 100)],
    )
    out = asof_join_bucketed(
        left,
        right,
        on="k",
        left_time="lt",
        right_time="rt",
        right_cols=["rid"],
        bucket_seconds=3600,
    ).collect()
    got = {r["lid"]: r["asof_rid"] for r in out}
    assert got == {1: 100, 2: 100, 3: None}


def test_right_row_at_exact_bucket_boundary_beats_carry(spark):
    # right rows at t=60min (exact bucket start for 3600s buckets) and
    # earlier; a left row in that bucket must match the boundary row,
    # not the carry-in from the previous bucket
    left, right = _mk(
        spark,
        [(0, _ts(61), 1)],
        [(0, _ts(30), 100), (0, _ts(60), 200)],
    )
    out = asof_join_bucketed(
        left,
        right,
        on="k",
        left_time="lt",
        right_time="rt",
        right_cols=["rid"],
        bucket_seconds=3600,
    ).collect()
    assert {r["lid"]: r["asof_rid"] for r in out} == {1: 200}


def test_hot_key_equality_and_plan_shape(spark):
    """90%-one-key distribution: results equal the plain join, and the
    physical window partitions by (key, bucket) — the skew spread."""
    rng = random.Random(99)
    lrows, rrows = [], []
    seen = set()
    for i in range(2000):
        k = 0 if rng.random() < 0.9 else rng.randrange(1, 8)
        lrows.append((k, _ts(rng.uniform(0, 1440)), i))
    j = 0
    while len(rrows) < 600:
        k = 0 if rng.random() < 0.9 else rng.randrange(1, 8)
        t = _ts(rng.uniform(0, 1440))
        if (k, t) not in seen:
            seen.add((k, t))
            rrows.append((k, t, 10000 + j))
        j += 1
    left, right = _mk(spark, lrows, rrows)
    kw = dict(
        on="k", left_time="lt", right_time="rt", right_cols=["rid", "rt"]
    )
    bucketed = asof_join_bucketed(left, right, bucket_seconds=3600, **kw)
    assert _pairs(bucketed) == _pairs(asof_join(left, right, **kw))

    plan = bucketed._jdf.queryExecution().executedPlan().toString()
    # the main carry-forward window must partition by key AND bucket
    assert "windowspecdefinition(__k" in plan and "__b" in plan.split(
        "windowspecdefinition(__k"
    )[1][:40], plan[:2000]


def test_catalog_bucketed_query_matches_plain(spark, sf_dir):
    """The catalog twin (asof_click_purchase_bucketed) returns exactly
    the plain catalog query's rows."""
    import __spark_entry__ as m

    qs = m.queries()
    plain = sorted(map(tuple, qs["asof_click_purchase"](spark, sf_dir).collect()))
    bucketed = sorted(
        map(tuple, qs["asof_click_purchase_bucketed"](spark, sf_dir).collect())
    )
    assert bucketed == plain

