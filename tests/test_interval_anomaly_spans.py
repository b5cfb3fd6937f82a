"""Late round-6 operators: interval join semantics, expanding z-score
(plain and bucketed), bigram LM scoring, and duplicated-span removal.
Oracle hash-matches run in test_entry_oracle; these pin the SEMANTICS
on crafted inputs where the right answer is known by construction."""

from __future__ import annotations

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F

from aggregator_spark.operators.anomaly import expanding_zscore
from aggregator_spark.operators.asof import interval_join
from aggregator_spark.operators.corpus import bigram_logprob
from aggregator_spark.operators.dedup import dedup_span_rewrite

T0 = dt.datetime(2024, 3, 1, 12, 0, 0)


def _ts(seconds: float) -> dt.datetime:
    return T0 + dt.timedelta(seconds=seconds)


# ---------------------------------------------------------------- interval


def _naive_pairs(lrows, rrows, lo, up):
    out = set()
    for lid, lk, lt in lrows:
        for rk, rt in rrows:
            if lk == rk and lt + lo <= rt < lt + up:
                out.add((lid, rt))
    return out


@pytest.mark.parametrize("bucket", [None, 10, 3600])
def test_interval_join_equals_naive(spark, bucket):
    lrows = [(i, i % 3, _ts(60 * i + (i % 7))) for i in range(40)]
    rrows = [(j % 3, _ts(17 * j)) for j in range(200)]
    left = spark.createDataFrame(
        lrows, "lid long, k long, t timestamp"
    )
    right = spark.createDataFrame(rrows, "k long, rt timestamp")
    got = interval_join(
        left,
        right,
        on="k",
        left_time="t",
        right_time="rt",
        right_cols=["rt"],
        lower_seconds=-300,
        upper_seconds=120,
        bucket_seconds=bucket,
    )
    got_pairs = {(r["lid"], r["r_rt"]) for r in got.collect()}
    want = _naive_pairs(
        [(lid, k, t) for lid, k, t in lrows],
        rrows,
        dt.timedelta(seconds=-300),
        dt.timedelta(seconds=120),
    )
    assert got_pairs == want
    # output multiplicity: each qualifying pair exactly once
    assert got.count() == len(want)


def test_interval_join_boundaries(spark):
    # lower bound inclusive, upper bound exclusive, microsecond exact
    left = spark.createDataFrame([(1, 0, _ts(0))], "lid long, k long, t timestamp")
    right = spark.createDataFrame(
        [
            (0, _ts(-10)),  # == t + lower  -> in
            (0, _ts(-10.000001)),  # 1 us earlier -> out
            (0, _ts(4.999999)),  # just under upper -> in
            (0, _ts(5)),  # == t + upper -> out
        ],
        "k long, rt timestamp",
    )
    got = sorted(
        r["r_rt"]
        for r in interval_join(
            left, right, "k", "t", "rt", ["rt"], -10, 5
        ).collect()
    )
    assert got == [_ts(-10), _ts(4.999999)]


# ---------------------------------------------------------------- anomaly


def test_expanding_zscore_semantics(spark):
    # user 1: five identical values then a jump (zero-variance window
    # -> any deviation flags); user 2: too-short history never flags;
    # user 3: normal spread, then a 5-sigma outlier
    rows = []
    for i in range(5):
        rows.append((100 + i, 1, _ts(i), 10.0))
    rows.append((105, 1, _ts(5), 10.5))  # flagged: var == 0, dev > 0
    rows.append((106, 1, _ts(6), 10.0))  # var now > 0, small dev
    for i in range(4):
        rows.append((200 + i, 2, _ts(i), float(i * 100)))  # n_prior < 5
    vals3 = [10.0, 12.0, 11.0, 13.0, 9.0, 11.5, 10.5, 12.5]
    for i, v in enumerate(vals3):
        rows.append((300 + i, 3, _ts(i), v))
    rows.append((390, 3, _ts(99), 50.0))  # way outside
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    got = {r["event_id"]: r for r in expanding_zscore(df).collect()}

    assert [got[100 + i]["is_anomaly"] for i in range(5)] == [False] * 5
    assert got[105]["is_anomaly"] is True
    assert got[105]["z_micro"] is None  # zero-variance window
    assert got[105]["n_prior"] == 5
    assert all(not got[200 + i]["is_anomaly"] for i in range(4))
    assert got[390]["is_anomaly"] is True
    assert got[390]["n_prior"] == len(vals3)
    # z for the outlier matches a plain-Python computation
    mean = sum(vals3) / len(vals3)
    var = sum(v * v for v in vals3) / len(vals3) - mean * mean
    z = (50.0 - mean) / math.sqrt(var)
    assert got[390]["z_micro"] == math.floor(z * 1e6)
    # in-spread rows with enough history stay quiet
    assert got[300 + 7]["is_anomaly"] is False


# ---------------------------------------------------------------- spans


def _doc_df(spark, docs):
    return spark.createDataFrame(docs, "doc_id long, text string")


def test_dedup_span_rewrite_removes_second_occurrence(spark):
    span = " ".join(f"w{i}" for i in range(16))
    docs = [
        (1, f"alpha {span} beta"),
        (2, f"gamma delta {span} epsilon"),
        (3, "unique words only here nothing repeated at all"),
    ]
    got = {
        r["doc_id"]: r
        for r in dedup_span_rewrite(_doc_df(spark, docs)).collect()
    }
    # doc 1 holds the globally-first occurrence -> untouched
    assert got[1]["n_removed"] == 0
    assert got[1]["clean_text"] == f"alpha {span} beta"
    # doc 2 loses exactly the 16 duplicated tokens
    assert got[2]["n_removed"] == 16
    assert got[2]["clean_text"] == "gamma delta epsilon"
    # doc 3 untouched, canonical form
    assert got[3]["n_removed"] == 0
    assert got[3]["clean_text"] == docs[2][1]


def test_dedup_span_rewrite_overlap_and_total_dup(spark):
    # doc 5 duplicates doc 4's full 18 tokens: its gram starts 1,2,3
    # all flag, covered positions union to 1..18 -> emptied
    text = " ".join(f"t{i}" for i in range(18))
    docs = [(4, text), (5, text)]
    got = {
        r["doc_id"]: r
        for r in dedup_span_rewrite(_doc_df(spark, docs)).collect()
    }
    assert got[4]["n_removed"] == 0 and got[4]["clean_text"] == text
    assert got[5]["n_removed"] == 18 and got[5]["clean_text"] == ""
    assert got[5]["n_tokens"] == 18


def test_dedup_span_rewrite_corpus_grams_no_first_exception(spark):
    """Cross-corpus mode (r8): a span present in the ARCHIVE's gram
    index is removed from EVERY batch occurrence — including the
    batch-first one — while batch-only repeats keep their first
    occurrence, and archive grams absent from the batch change
    nothing."""
    from aggregator_spark.operators.dedup import span_gram_hashes

    archived = " ".join(f"a{i}" for i in range(16))
    batch_dup = " ".join(f"b{i}" for i in range(16))
    corpus = _doc_df(
        spark,
        [(100, f"stored {archived} copy"), (101, "other archive text")],
    )
    docs = [
        (1, f"lead {archived} tail"),        # archived span: removed
        (2, f"pre {batch_dup} post"),        # batch-first: kept
        (3, f"x {batch_dup} y"),             # batch repeat: removed
    ]
    got = {
        r["doc_id"]: r
        for r in dedup_span_rewrite(
            _doc_df(spark, docs), corpus_grams=span_gram_hashes(corpus)
        ).collect()
    }
    assert got[1]["n_removed"] == 16
    assert got[1]["clean_text"] == "lead tail"
    assert got[2]["n_removed"] == 0
    assert got[2]["clean_text"] == f"pre {batch_dup} post"
    assert got[3]["n_removed"] == 16
    assert got[3]["clean_text"] == "x y"


def test_dedup_span_rewrite_short_docs_pass_through(spark):
    docs = [(6, "short doc under sixteen tokens"), (7, "")]
    got = {
        r["doc_id"]: r
        for r in dedup_span_rewrite(_doc_df(spark, docs)).collect()
    }
    assert got[6]["n_removed"] == 0
    assert got[6]["clean_text"] == "short doc under sixteen tokens"
    assert got[7]["n_tokens"] == 0 and got[7]["clean_text"] == ""


# ---------------------------------------------------------------- bigram


def test_bigram_logprob_hand_computed(spark):
    docs = [(1, "a b a b"), (2, "a b c")]
    # corpus: unigrams a:3 b:3 c:1 (N=7)
    # bigrams: (a,b):3, (b,a):1, (b,c):1 ; c(w1=a)=3, c(w1=b)=2
    got = {
        r["doc_id"]: r for r in bigram_logprob(_doc_df(spark, docs)).collect()
    }

    def p(cb, cw1, cw2):
        return 0.75 * (cb / cw1) + 0.25 * (cw2 / 7)

    d1 = [p(3, 3, 3), p(1, 2, 3), p(3, 3, 3)]  # ab, ba, ab
    d2 = [p(3, 3, 3), p(1, 2, 1)]  # ab, bc
    assert got[1]["n_bigrams"] == 3 and got[2]["n_bigrams"] == 2
    assert got[1]["nll"] == pytest.approx(
        sum(-math.log(x) for x in d1) / 3, abs=1e-6
    )
    assert got[2]["nll"] == pytest.approx(
        sum(-math.log(x) for x in d2) / 2, abs=1e-6
    )


def test_zscore_bucketed_bit_identical(spark):
    from aggregator_spark.operators.anomaly import (
        expanding_zscore,
        expanding_zscore_bucketed,
    )

    events = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select("event_id", "user_id", "ts", "value")
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    plain = {tuple(r) for r in expanding_zscore(events).collect()}
    for width in (3600, 86_400):
        bucketed = {
            tuple(r)
            for r in expanding_zscore_bucketed(
                events, bucket_seconds=width
            ).collect()
        }
        assert bucketed == plain  # exact carry-in == global moments


def test_zscore_bucketed_carry_crosses_buckets(spark):
    # history strictly in earlier buckets: every prior moment must
    # arrive via carry-in (the local window is empty for each row)
    from aggregator_spark.operators.anomaly import (
        expanding_zscore,
        expanding_zscore_bucketed,
    )

    rows = [
        (i, 1, _ts(i * 7200), float(10 + (i % 3)))  # one row per 2h bucket
        for i in range(8)
    ]
    rows.append((99, 1, _ts(9 * 7200), 50.0))  # outlier, all carry-in
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    plain = {tuple(r) for r in expanding_zscore(df).collect()}
    buck = {
        tuple(r)
        for r in expanding_zscore_bucketed(df, bucket_seconds=7200).collect()
    }
    assert buck == plain
    flagged = {r[0] for r in buck if r[4]}
    assert flagged == {99}


def test_zscore_bucketed_keeps_null_key_and_time_rows(spark):
    # the plain form emits rows for NULL user_id (one window
    # partition) and NULL ts (sorts first); the bucketed twin's join
    # must be null-safe or those rows silently vanish
    from aggregator_spark.operators.anomaly import (
        expanding_zscore,
        expanding_zscore_bucketed,
    )

    rows = [
        (1, None, _ts(0), 1.0),
        (2, None, _ts(10), 2.0),
        (3, 7, None, 3.0),
        (4, 7, _ts(20), 4.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    got = expanding_zscore(df).collect()
    plain = {tuple(r) for r in got}
    buck = {
        tuple(r)
        for r in expanding_zscore_bucketed(df, bucket_seconds=60).collect()
    }
    assert len(plain) == 4
    assert buck == plain
    # the NULL-ts row sorts first, so it is the first prior of its key
    assert {r["event_id"]: r["n_prior"] for r in got}[4] == 1


# ------------------------------------------------------- r7 ADVICE pins


def test_zscore_envelope_overflow_raises(spark):
    # |value| > ~1e12 overflows the decimal(30,6) square; the non-ANSI
    # cast would NULL it silently (variance under-sums, zero-variance
    # branch then flags everything) — the operator must RAISE instead
    rows = [(i, 1, _ts(i), 10.0) for i in range(6)]
    rows.append((99, 1, _ts(9), 2.0e12))
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    with pytest.raises(Exception, match="envelope"):
        expanding_zscore(df).collect()


def test_zscore_nan_and_null_values_do_not_raise(spark):
    # NaN casts to NULL like a missing value — a legitimate skip, not
    # an envelope overflow; NULL values likewise
    rows = [
        (1, 1, _ts(0), float("nan")),
        (2, 1, _ts(1), None),
        (3, 1, _ts(2), 10.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    )
    got = {r["event_id"]: r for r in expanding_zscore(df).collect()}
    assert len(got) == 3
    assert got[3]["n_prior"] == 0  # NaN/NULL contributed nothing


def test_interval_join_fractional_second_bounds(spark):
    # int() truncates toward zero: lower=0.7 became 699999us (admits a
    # pair 1us early) and lower=-0.7 became -699999us (drops the exact
    # boundary pair) — bounds must round to the intended microsecond
    left = spark.createDataFrame([(1, 1, T0)], "lid long, k long, t timestamp")

    def pairs(lo, up, rt_offsets_us):
        right = spark.createDataFrame(
            [(1, T0 + dt.timedelta(microseconds=o)) for o in rt_offsets_us],
            "k long, rt timestamp",
        )
        got = interval_join(
            left,
            right,
            on="k",
            left_time="t",
            right_time="rt",
            right_cols=["rt"],
            lower_seconds=lo,
            upper_seconds=up,
        )
        return {
            int((r["r_rt"] - T0).total_seconds() * 1e6 + 0.5)
            * (1 if r["r_rt"] >= T0 else 1)
            for r in got.collect()
        }

    # lower inclusive at exactly +0.7s: 699_999us out, 700_000us in
    assert pairs(0.7, 1.0, [699_999, 700_000]) == {700_000}
    # negative lower bound: exactly -0.7s must be INCLUDED
    right = spark.createDataFrame(
        [(1, T0 - dt.timedelta(microseconds=700_000))],
        "k long, rt timestamp",
    )
    got = interval_join(
        left,
        right,
        on="k",
        left_time="t",
        right_time="rt",
        right_cols=["rt"],
        lower_seconds=-0.7,
        upper_seconds=0.1,
    ).collect()
    assert len(got) == 1
