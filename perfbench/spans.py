"""Spans and Spark counters for the traced run.

A span is recorded around each call the benchmark makes into a layer.
At every span boundary a probe reads the Spark status REST API and
charges the stage attempts and jobs that finished since the previous
boundary to the innermost open span: the stage-delta method of
``bench.py``'s ``ShuffleProbe``, applied per span instead of per key.
A span's inclusive counters are its own plus those of its children.

Spans are kept in memory and written to one JSON file when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time
import urllib.request

COUNTERS = ("jobs", "stages", "task_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb")
_DONE_STAGE = {"COMPLETE", "FAILED", "SKIPPED"}
_DONE_JOB = {"SUCCEEDED", "FAILED"}


def stage_delta(seen: set, stages: list[dict], jobs: list[dict]) -> dict:
    """Counters of the stage attempts and jobs in ``stages``/``jobs`` that
    have finished and are not yet in ``seen``; marks them seen. Only
    terminal attempts are marked, so one that finishes late is charged
    to the next delta."""
    out = dict.fromkeys(COUNTERS, 0.0)
    for s in stages:
        key = ("s", s.get("stageId", -1), s.get("attemptId", 0))
        if s.get("status") not in _DONE_STAGE or key in seen:
            continue
        seen.add(key)
        if s.get("status") == "SKIPPED":
            continue
        out["stages"] += 1
        out["task_s"] += (s.get("executorRunTime", 0) or 0) / 1e3
        out["shuffle_write_mb"] += (s.get("shuffleWriteBytes", 0) or 0) / 1e6
        out["shuffle_read_mb"] += (s.get("shuffleReadBytes", 0) or 0) / 1e6
        out["spill_mb"] += (s.get("diskBytesSpilled", 0) or 0) / 1e6
    for j in jobs:
        key = ("j", j.get("jobId", -1))
        if j.get("status") not in _DONE_JOB or key in seen:
            continue
        seen.add(key)
        out["jobs"] += 1
    return out


def add_counters(a: dict, b: dict) -> dict:
    return {k: a.get(k, 0.0) + b.get(k, 0.0) for k in set(a) | set(b)}


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of its interval covered by
    its direct children (overlapping children are counted once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_end = 0.0, s["start"]
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, cur_end), min(b, s["end"])
            if b > a:
                covered += b - a
                cur_end = b
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


class SparkProbe:
    """Reads finished stages and jobs from the Spark status REST API."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        if not sc.uiWebUrl:
            raise RuntimeError("the traced run needs spark.ui.enabled=true")
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.seen: set = set()

    def _get(self, path: str) -> list[dict]:
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def _quiesce(self, timeout_s: float = 10.0) -> list[dict]:
        """Wait until no stage attempt is active or pending, so a stage
        that finishes late is not charged to the next span."""
        deadline = time.monotonic() + timeout_s
        while True:
            stages = self._get("/stages")
            busy = any(s.get("status") in ("ACTIVE", "PENDING") for s in stages)
            if not busy or time.monotonic() > deadline:
                return stages
            time.sleep(0.02)

    def delta(self) -> dict:
        stages = self._quiesce()
        return stage_delta(self.seen, stages, self._get("/jobs"))


class Tracer:
    """Span recorder. One stack is shared by all threads: the benchmark
    waits while a streaming query calls back into it, so at any time one
    thread opens and closes spans."""

    def __init__(self, probe: SparkProbe, run_id: str) -> None:
        self.probe = probe
        self.run_id = run_id
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.lock = threading.RLock()
        self.forced: list = []

    def _charge(self) -> None:
        """Charge the work finished since the last boundary to the open
        span; work done while no span is open, such as the jobs that
        compute a layer's own counters, is dropped."""
        d = self.probe.delta()
        if self.stack:
            top = self.stack[-1]
            top["self_counters"] = add_counters(top["self_counters"], d)

    @contextlib.contextmanager
    def span(self, name: str, call: str, iteration: int):
        with self.lock:
            self._charge()
            s = {
                "id": len(self.spans),
                "name": name,
                "call": call,
                "run_id": self.run_id,
                "iteration": iteration,
                "parent": self.stack[-1]["id"] if self.stack else None,
                "start": time.time(),
                "end": None,
                "self_counters": dict.fromkeys(COUNTERS, 0.0),
            }
            self.spans.append(s)
            self.stack.append(s)
        try:
            yield s
        finally:
            with self.lock:
                self._charge()
                s["end"] = time.time()
                self.stack.pop()

    def force(self, df):
        """Materialize a layer's lazy output inside its window; later
        layers read the cached result. Released by ``release``."""
        from pyspark import StorageLevel

        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        df.count()
        self.forced.append(df)
        return df

    def release(self) -> None:
        for df in self.forced:
            df.unpersist()
        self.forced.clear()

    def finished(self) -> list[dict]:
        """Closed spans with self time and inclusive counters."""
        spans = [dict(s) for s in self.spans if s["end"] is not None]
        st = self_times(spans)
        by_id = {s["id"]: s for s in spans}
        for s in sorted(spans, key=lambda s: -s["id"]):
            s["self_s"] = st[s["id"]]
            s["counters"] = add_counters(s["self_counters"], s.get("counters", {}))
            if s["parent"] in by_id:
                p = by_id[s["parent"]]
                p["counters"] = add_counters(p.get("counters", {}), s["counters"])
        return spans

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.finished(), **extra}, fh, indent=1)


def layer_totals(spans: list[dict], iteration: int) -> dict[str, dict]:
    """Per layer name: summed inclusive seconds and counters of one
    iteration's spans. A span nested in a span of the same layer is
    already inside its parent's totals and is not added again."""
    by_id = {s["id"]: s for s in spans}
    out: dict[str, dict] = {}
    for s in spans:
        if s["iteration"] != iteration:
            continue
        p = by_id.get(s["parent"])
        while p is not None and p["name"] != s["name"]:
            p = by_id.get(p["parent"])
        if p is not None:
            continue
        t = out.setdefault(s["name"], dict.fromkeys(("s",) + COUNTERS, 0.0))
        t["s"] += s["end"] - s["start"]
        for k in COUNTERS:
            t[k] += s["counters"].get(k, 0.0)
    return out


@contextlib.contextmanager
def patched(targets: list[tuple[object, str]], wrap):
    """Replace ``module.attr`` for each target by ``wrap(module, attr,
    original)`` and restore the originals on exit."""
    saved = [(m, a, getattr(m, a)) for m, a in targets]
    try:
        for m, a, orig in saved:
            setattr(m, a, wrap(m, a, orig))
        yield
    finally:
        for m, a, orig in saved:
            setattr(m, a, orig)
