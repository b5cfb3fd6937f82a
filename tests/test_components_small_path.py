"""The r13 size-adaptive small-graph CC path (components.py module
docstring): when the canonical edge set measures under the driver
ceiling, both CC variants solve components with a driver-side
union-find instead of running the iterative Spark loops. These tests
pin:

- label EQUALITY between the small path and the forced-distributed
  loops (the property the 13 CC-dependent oracled keys lean on) across
  the graph shapes the operators actually produce (stars, chains,
  forests, duplicate/reversed/self edges);
- the threshold gate: above the ceiling the distributed loop runs
  (observed via the loop's per-round checkpoint ids), below it the
  union-find does;
- the env knob ``AGGREGATOR_SPARK_CC_DRIVER_EDGES`` is honored and the
  explicit argument overrides it;
- the small path's output is eagerly CHECKPOINTED — downstream join
  planning must see the same LogicalRDD leaf the loops produce, so
  every exchange-count pin over CC-consuming plans holds on both
  paths.

(The algorithmic property suites — test_properties.py, the concurrency
pins in test_components_concurrent.py — force ``driver_max_edges=0``
so the DISTRIBUTED machinery stays covered at test scale.)
"""

from __future__ import annotations

from pyspark.sql import functions as F

from aggregator_spark.operators.components import (
    CC_DRIVER_EDGES_ENV,
    connected_components,
    connected_components_star,
)

GRAPHS = {
    "star": [(0, i) for i in range(1, 9)],
    "chain": [(i, i + 1) for i in range(25)],
    "forest": [(i, i + 7) for i in range(0, 60, 3)]
    + [(100 + i, 100 + i + 1) for i in range(10)],
    "dups_and_reversed": [(3, 1), (1, 3), (3, 3), (5, 4), (4, 5), (9, 9)],
    "two_cliques": [(a, b) for a in range(5) for b in range(a + 1, 5)]
    + [(a, b) for a in range(20, 24) for b in range(a + 1, 24)],
}


def _labels(df) -> dict[int, int]:
    return {r["doc_id"]: r["component"] for r in df.collect()}


def test_small_path_equals_distributed(spark):
    for name, edges in GRAPHS.items():
        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        small = _labels(connected_components_star(df))
        dist = _labels(connected_components_star(df, driver_max_edges=0))
        assert small == dist, f"star labels diverge on {name}"
        small_p = _labels(connected_components(df))
        dist_p = _labels(connected_components(df, driver_max_edges=0))
        assert small_p == dist_p, f"propagate labels diverge on {name}"
        if name != "dups_and_reversed":
            # longstanding contract split the small paths PRESERVE:
            # star filters self-loops before canonicalizing, so a node
            # appearing ONLY in a self-edge (9,9) is absent from star
            # output but labeled by propagate — on every other shape
            # the variants agree
            assert small == small_p, f"variants diverge on {name}"


def test_threshold_gate(spark, monkeypatch):
    import aggregator_spark.operators.components as comp_mod

    calls = []
    real = comp_mod._driver_components

    def spy(edges, rows):
        calls.append(len(rows))
        return real(edges, rows)

    monkeypatch.setattr(comp_mod, "_driver_components", spy)
    edges = GRAPHS["chain"]  # 25 canonical edges
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    connected_components_star(df, driver_max_edges=25).collect()
    assert len(calls) == 1  # at the ceiling: small path
    connected_components_star(df, driver_max_edges=24).collect()
    assert len(calls) == 1  # above it: distributed loop, no collect


def test_env_knob_and_override(spark, monkeypatch):
    import aggregator_spark.operators.components as comp_mod

    calls = []
    real = comp_mod._driver_components
    monkeypatch.setattr(
        comp_mod,
        "_driver_components",
        lambda e, rows: (calls.append(1), real(e, rows))[1],
    )
    df = spark.createDataFrame(GRAPHS["star"], "doc_a long, doc_b long")
    monkeypatch.setenv(CC_DRIVER_EDGES_ENV, "0")
    connected_components_star(df).collect()
    assert not calls  # env forces distributed
    # explicit argument beats the env
    connected_components_star(df, driver_max_edges=1000).collect()
    assert len(calls) == 1


def test_small_path_output_is_checkpointed(spark):
    df = spark.createDataFrame(GRAPHS["star"], "doc_a long, doc_b long")
    out = connected_components_star(df)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan  # same leaf as the loops' final ckpt
    # and it joins downstream like any label relation
    nodes = spark.range(0, 9).select(F.col("id").alias("doc_id"))
    joined = nodes.join(out, "doc_id", "left")
    assert joined.count() == 9


def test_empty_pairs(spark):
    df = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components_star(df).collect() == []
    assert connected_components(df).collect() == []


def test_broadcast_hint_bounded_by_fixed_default(spark, monkeypatch):
    """r14 ADVICE: the broadcast hint on driver-computed labels is
    gated on the FIXED default edge bound, not the env knob — raising
    AGGREGATOR_SPARK_CC_DRIVER_EDGES (a driver-memory setting) must
    not force proportionally larger executor broadcasts."""
    import aggregator_spark.operators.components as comp_mod

    edges = spark.createDataFrame(
        GRAPHS["chain"], "doc_a long, doc_b long"
    )
    rows = GRAPHS["chain"]

    def hinted(df) -> bool:
        return "ResolvedHint" in (
            df._jdf.queryExecution().analyzed().toString()
        )

    # under the fixed bound: hinted
    assert hinted(comp_mod._driver_components(edges, rows))
    # knob raised far above the row count changes nothing (still
    # under the fixed bound)
    monkeypatch.setenv(CC_DRIVER_EDGES_ENV, str(1 << 24))
    assert hinted(comp_mod._driver_components(edges, rows))
    # above the fixed bound (shrunk for the test): no hint, labels
    # identical
    monkeypatch.setattr(comp_mod, "_CC_DRIVER_EDGES_DEFAULT", 4)
    out = comp_mod._driver_components(edges, rows)
    assert not hinted(out)
    assert _labels(out) == {i: 0 for i in range(26)}


def test_broadcast_hint_gate_in_canonical_edges(spark, monkeypatch):
    """The hint bound counts CANONICAL edges for both variants:
    connected_components hands the union-find the symmetric relation
    (two rows per edge), connected_components_star the canonical one,
    and both must hint a graph at the bound and neither one above
    it."""
    import aggregator_spark.operators.components as comp_mod

    def hinted(df) -> bool:
        return "ResolvedHint" in (
            df._jdf.queryExecution().analyzed().toString()
        )

    df = spark.createDataFrame(GRAPHS["chain"], "doc_a long, doc_b long")
    # 25 canonical edges, 50 symmetric rows
    monkeypatch.setattr(comp_mod, "_CC_DRIVER_EDGES_DEFAULT", 25)
    for cc in (connected_components, connected_components_star):
        out = cc(df)
        assert hinted(out), cc.__name__
        assert _labels(out) == {i: 0 for i in range(26)}
    monkeypatch.setattr(comp_mod, "_CC_DRIVER_EDGES_DEFAULT", 24)
    for cc in (connected_components, connected_components_star):
        assert not hinted(cc(df)), cc.__name__
