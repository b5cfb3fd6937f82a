"""Tests of the benchmark's pure helpers. Run from the checkout root:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import datetime
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(__file__))

import gen_corpus  # noqa: E402
import gen_scanlog  # noqa: E402
import harness  # noqa: E402
import oracle  # noqa: E402
from spans import COUNTERS, layer_totals, self_times, stage_delta  # noqa: E402


def _stage(sid, status, run_ms=0, w=0, r=0, spill=0, attempt=0):
    return {"stageId": sid, "attemptId": attempt, "status": status, "executorRunTime": run_ms,
            "shuffleWriteBytes": w, "shuffleReadBytes": r, "diskBytesSpilled": spill}


def test_stage_delta_charges_each_finished_attempt_once():
    seen: set = set()
    stages = [_stage(0, "COMPLETE", 1500, w=2_000_000), _stage(1, "ACTIVE", 900),
              _stage(2, "SKIPPED")]
    jobs = [{"jobId": 0, "status": "SUCCEEDED"}, {"jobId": 1, "status": "RUNNING"}]
    d = stage_delta(seen, stages, jobs)
    assert d["stages"] == 1 and d["jobs"] == 1
    assert d["task_s"] == 1.5 and d["shuffle_write_mb"] == 2.0
    # the active stage and running job finish later: charged to the next delta
    stages[1]["status"] = "COMPLETE"
    jobs[1]["status"] = "SUCCEEDED"
    stages.append(_stage(0, "COMPLETE", 700, r=1_000_000, spill=3_000_000, attempt=1))
    d = stage_delta(seen, stages, jobs)
    assert d["stages"] == 2 and d["jobs"] == 1
    assert d["task_s"] == pytest.approx(1.6)
    assert d["shuffle_read_mb"] == 1.0 and d["spill_mb"] == 3.0
    assert stage_delta(seen, stages, jobs) == dict.fromkeys(COUNTERS, 0.0)


def _span(i, name, start, end, parent=None, iteration=0, **counters):
    return {"id": i, "name": name, "parent": parent, "start": start, "end": end,
            "iteration": iteration, "counters": dict.fromkeys(COUNTERS, 0.0) | counters}


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, "plans.stage2", 0.0, 10.0),
        _span(1, "operators.cube", 1.0, 4.0, parent=0),
        _span(2, "operators.cube", 3.0, 5.0, parent=0),  # overlaps the first
        _span(3, "operators.repair", 9.0, 12.0, parent=0),  # runs past the parent
        _span(4, "operators.calendar", 2.0, 3.0, parent=1),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(2.0)
    assert st[4] == pytest.approx(1.0)


def test_layer_totals_sum_calls_and_skip_nested_spans_of_the_same_layer():
    spans = [
        _span(0, "operators.dedup", 0.0, 4.0, jobs=5),
        _span(1, "operators.dedup", 1.0, 2.0, parent=0, jobs=2),
        _span(2, "operators.components", 2.0, 3.0, parent=0, jobs=1),
        _span(3, "operators.dedup", 5.0, 6.0, jobs=1),
        _span(4, "operators.dedup", 0.0, 9.0, iteration=1, jobs=9),
    ]
    t = layer_totals(spans, 0)
    assert t["operators.dedup"]["s"] == pytest.approx(5.0)
    assert t["operators.dedup"]["jobs"] == 6
    assert t["operators.components"]["jobs"] == 1


def test_median():
    assert harness.median([3, 1, 2]) == 2.0
    assert harness.median([4, 1, 2, 3]) == 2.5


def test_closed_loop_tags_steps_with_their_index_and_counts_failures(monkeypatch):
    clock = iter(range(100))  # one second passes per reading
    monkeypatch.setattr(harness.time, "perf_counter", lambda: next(clock))

    def step(i):
        if i == 1:
            raise RuntimeError("step raised")
        return {"wall_s": 1.0, "ok": i != 2, "why": "check failed"}

    results, attempted, failed = harness.closed_loop(4, step)
    assert [r["i"] for r in results] == [0, 3]
    assert (attempted, failed) == (4, 2)


@pytest.fixture(scope="module")
def feeds(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("feeds") / "set")
    props = gen_scanlog.generate(d, seed=7, days=3, feeds=2, rows_per_file=300, threshold=1)
    files = sorted(os.path.join(d, f) for f in os.listdir(d) if f.startswith("scans_"))
    return d, files, props


def test_scanlog_generator_is_seed_determined(feeds, tmp_path):
    d, files, props = feeds
    again = str(tmp_path / "again")
    assert gen_scanlog.generate(again, seed=7, days=3, feeds=2, rows_per_file=300, threshold=1) == props
    for f in files:
        with open(f, "rb") as a, open(os.path.join(again, os.path.basename(f)), "rb") as b:
            assert a.read() == b.read()
    assert props["files"] == 6 and 0 < props["distinct_ratio"] < 1


def _write_stage1_csv(path, rows):
    with open(path, "w") as fh:
        for ts, risk, cc, asn, n, amp in rows:
            fh.write(f"{ts},{risk},{cc},{asn},{n},{amp!r}\n")


def test_stage1_check_passes_the_recompute_and_fails_a_corrupted_csv(feeds, tmp_path):
    d, files, _ = feeds
    expected = oracle.stage1_expected(files, os.path.join(d, "dim_risk.csv"), threshold=1)
    assert expected, "the threshold must keep some groups"
    assert expected == sorted(expected, key=lambda r: (-int(r[0][:10].replace("-", "")), r[2], r[3], r[1]))
    good = str(tmp_path / "count.csv")
    _write_stage1_csv(good, expected)
    assert oracle.compare_rows(oracle.read_stage1_csv(good), expected) == (True, "")

    bad = list(expected)
    bad[0] = bad[0][:4] + (bad[0][4] + 1,) + bad[0][5:]
    for corrupt in (bad, expected[1:], expected[::-1]):
        _write_stage1_csv(good, corrupt)
        ok, why = oracle.compare_rows(oracle.read_stage1_csv(good), expected)
        assert not ok and why


def test_window_check_needs_complete_unique_closed_days(feeds):
    _, files, _ = feeds
    expected = oracle.daily_expected(files)
    day0 = min(k[0] for k in expected)
    rows = [(datetime.datetime.combine(k[0], datetime.time()),) + k[1:] + (n,)
            for k, n in expected.items() if k[0] == day0]
    assert oracle.compare_windows(rows, expected, min_days=1) == (True, "")
    assert not oracle.compare_windows(rows, expected, min_days=2)[0]
    assert not oracle.compare_windows(rows + rows[:1], expected, min_days=1)[0]
    assert not oracle.compare_windows(rows[1:], expected, min_days=1)[0]


def test_corpus_generator_plants_copies_after_their_originals(tmp_path):
    import pyarrow.parquet as pq

    props = gen_corpus.generate(str(tmp_path), seed=3, docs=200)
    with open(tmp_path / "planted.json") as fh:
        planted = json.load(fh)
    texts = pq.read_table(str(tmp_path / "documents.parquet")).column("text").to_pylist()
    assert props["planted_verbatim"] == len(planted["verbatim"]) > 0
    for i in planted["verbatim"]:
        assert texts[i] in texts[:i]
    assert all(len(texts[i].split()) < 50 for i in planted["short"])


def test_benchmark_json_names_the_metrics_the_runs_report():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == harness.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == harness.per_layer_units()
