"""Connected components over candidate duplicate pairs — the iterative
resolution step that turns pairwise near-dup evidence (MinHash-LSH,
embedding cosine, ...) into dedup clusters: every document gets the min
doc_id of its component as cluster label.

Algorithm: iterative min-label propagation as pure DataFrame ops —
each round every node takes the min of its own label and its
neighbors' labels; converged when no label changes. Rounds needed =
graph diameter (near-dup graphs are shallow: mostly stars and short
chains), each round is one shuffle on node id. This is the standard
large-graph CC shape (cf. GraphFrames' label propagation) without any
graph library dependency; on the distributed path the driver only
ever sees the changed-row COUNT / convergence signature, never the
data.

Size-adaptive small-graph path (r13, guide §3.1's "pick the strategy
by the data's measured size" — the autoBroadcastJoinThreshold
pattern): after the exact-dup/signature contraction the component
graph is often orders smaller than the corpus (distinct perceptual
signatures, verified near-dup pairs). When the canonical edge set is
at most ``AGGREGATOR_SPARK_CC_DRIVER_EDGES`` rows (default 131072 —
~2 MB of id pairs, far under any driver's broadcast budget), both
variants solve the components with a driver-side union-find instead
of paying O(log² n) (star) / O(diameter) (propagate) Spark jobs of a
few hundred ms each on a graph that fits in one task. The size gate
and the fetch are ONE ``limit(ceiling + 1).collect()`` job on the
materialized edge checkpoint — the driver holds at most ceiling + 1
rows at ANY graph size, never speculative; above the threshold the
distributed loops run unchanged — that is the 100 TB path, where
the candidate graph is billions of edges. Labels are identical by
construction (component = min reachable id on both paths; pinned in
tests/test_components_small_path.py) and the result is checkpointed,
so downstream plans see the same LogicalRDD leaf either way.

The DuckDB oracle computes the same labels with a recursive CTE
(transitive closure → min reachable id), cross-checking the iterative
dataflow against a declarative fixpoint.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

CC_DRIVER_EDGES_ENV = "AGGREGATOR_SPARK_CC_DRIVER_EDGES"
_CC_DRIVER_EDGES_DEFAULT = 1 << 17


def _cc_driver_max_edges(override: int | None = None) -> int:
    """Edge-count ceiling for the driver union-find path. ``override``
    (an explicit function argument) wins; else the env knob — the
    scale-dependent setting stays parameterised per the round rules,
    with a local-and-production-sane default. The knob governs DRIVER
    memory only: the executor-side broadcast hint on the resulting
    labels stays bounded by the fixed default regardless of this
    setting (see _driver_components)."""
    if override is not None:
        return override
    return int(
        os.environ.get(CC_DRIVER_EDGES_ENV, str(_CC_DRIVER_EDGES_DEFAULT))
    )


def _driver_components(edges: DataFrame, rows: list) -> DataFrame:
    """Union-find over the collected (src, dst) ``rows`` of an edge
    relation → (doc_id, component = min reachable id) for every node
    appearing in an edge; ``edges`` supplies the id type only. The
    caller probed the materialized edge checkpoint with
    ``limit(ceiling + 1)`` — ONE bounded job that is both the size
    gate and the collect — so the driver never holds more than
    ceiling + 1 rows. Output is eagerly checkpointed so downstream
    join planning sees the same LogicalRDD leaf the distributed loops
    produce (plan pins unchanged), plus the broadcast hint below."""
    from pyspark.sql import types as T

    spark = edges.sparkSession
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for row in rows:
        s, d = row[0], row[1]
        if s not in parent:
            parent[s] = s
        if d not in parent:
            parent[d] = d
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[rd] = rs
    comp_min: dict = {}
    for node in parent:
        r = find(node)
        if r not in comp_min or node < comp_min[r]:
            comp_min[r] = node
    id_type = edges.schema.fields[0].dataType
    schema = T.StructType(
        [
            T.StructField("doc_id", id_type),
            T.StructField("component", id_type),
        ]
    )
    out = spark.createDataFrame(
        [(node, comp_min[find(node)]) for node in parent], schema
    )
    # createDataFrame parallelizes (an RDD scan with DEFAULT — large —
    # stats), which would demote downstream label joins to sort-merge;
    # the loops' checkpointed labels carry honest small stats and
    # broadcast at this size. The hint is bounded by the FIXED default
    # ceiling, not the env knob (r14, ADVICE): raising
    # AGGREGATOR_SPARK_CC_DRIVER_EDGES is a driver-memory setting and
    # must not silently force proportionally larger executor
    # broadcasts — above the fixed bound the labels go unhinted and
    # the planner sizes the join itself (labels ≤ 2×edges rows of two
    # ids, so the hinted relation is a few MB at most). The
    # distributed path above the driver ceiling carries no hint.
    # The bound is in CANONICAL edges whichever caller this is:
    # connected_components passes both directions of every edge,
    # connected_components_star one (src < dst) — counting the rows
    # with src <= dst reads the canonical count off either (a self-loop
    # appears once in the symmetric relation).
    out = out.localCheckpoint(eager=True)
    if sum(1 for r in rows if r[0] <= r[1]) <= _CC_DRIVER_EDGES_DEFAULT:
        out = F.broadcast(out)
    return out


def _ckpt_ids(df: DataFrame) -> set[int]:
    """RDD ids persisted by ``df.localCheckpoint(...)`` — read directly
    off the returned Dataset's ``LogicalRDD`` plan. The r12 form diffed
    the GLOBAL persistent-RDD set before/after the checkpoint call,
    which is thread-hostile: a concurrent driver thread's fresh
    checkpoint lands in the diff and gets unpersisted by this loop's
    cleanup (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND — observed r13 when the
    served-media views ran from a thread pool). Reading the id from the
    plan makes cleanup own exactly its own blocks, so CC loops and
    other checkpointing work may run on concurrent driver threads
    (guide §2.6 job overlap)."""
    return {df._jdf.queryExecution().logical().rdd().id()}


def _unpersist_ids(spark, ids: set[int]) -> None:
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        t = it.next()
        if t._1() in ids:
            t._2().unpersist(False)


def connected_components(
    pairs: DataFrame,
    left_col: str = "doc_a",
    right_col: str = "doc_b",
    max_iterations: int = 25,
    driver_max_edges: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b) undirected edges → (doc_id, component) with
    component = min doc_id reachable. Only nodes appearing in ``pairs``
    are returned (callers union in singletons if needed).

    ``driver_max_edges`` overrides the small-graph ceiling (module
    docstring); pass 0 to force the distributed loop (the cross-check
    and stress tests do)."""
    edges = pairs.select(
        F.col(left_col).alias("src"), F.col(right_col).alias("dst")
    )
    # localCheckpoint, NOT persist: an iterative loop whose next plan
    # references the previous one twice doubles the logical plan every
    # round — by iteration ~25 the planner itself OOMs. Checkpointing
    # truncates lineage so each round plans against a materialized
    # leaf. (Found the hard way on a 50k-doc / 55k-pair stress run.)
    spark = pairs.sparkSession
    sym = (
        edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    sym_ids = _ckpt_ids(sym)

    # size-adaptive path (module docstring): sym carries both
    # directions, so the ceiling is doubled to keep the two variants'
    # thresholds equivalent in CANONICAL edges. limit(2m+1).collect()
    # on the materialized checkpoint is ONE job that both sizes and
    # fetches the graph, bounded by construction either way.
    m2 = 2 * _cc_driver_max_edges(driver_max_edges)
    if m2 > 0:
        probe = sym.limit(m2 + 1).collect()
        if len(probe) <= m2:
            out = _driver_components(sym, probe)
            _unpersist_ids(spark, sym_ids)
            return out

    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    prev_ckpt_ids = _ckpt_ids(labels)

    for _ in range(max_iterations):
        # every node's candidate label = min over neighbors' labels
        nbr_min = (
            sym.join(labels, sym.src == labels.node)
            .groupBy("dst")
            .agg(F.min("label").alias("nbr_label"))
        )
        # carry the previous label through the projection so convergence
        # is a filter on the checkpointed result, not an extra join
        # LAZY checkpoint (r13, guide §1.2): the convergence count
        # below materializes it, so each round is one job, not two;
        # the previous round's blocks — which this step's lineage
        # reads — are released only after materialization (they would
        # otherwise occupy the block manager for the rest of the
        # session and degrade queries run after this operator)
        stepped = (
            labels.join(nbr_min, labels.node == nbr_min.dst, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
                F.col("label").alias("prev_label"),
            )
            .localCheckpoint(eager=False)
        )
        new_ids = _ckpt_ids(stepped)
        changed = stepped.filter(
            F.col("label") != F.col("prev_label")
        ).count()
        _unpersist_ids(spark, prev_ckpt_ids)
        prev_ckpt_ids = new_ids
        labels = stepped.select("node", "label")
        if changed == 0:
            break

    # the edge table is no longer referenced by the returned plan
    # (labels is checkpointed) — free it too
    _unpersist_ids(spark, sym_ids)
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("component")
    )


def connected_components_star(
    pairs: DataFrame,
    left_col: str = "doc_a",
    right_col: str = "doc_b",
    max_iterations: int = 30,
    driver_max_edges: int | None = None,
) -> DataFrame:
    """Alternating large-star / small-star connected components
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14). Same contract as :func:`connected_components` —
    (doc_a, doc_b) undirected edges → (doc_id, component=min reachable
    id), only nodes appearing in ``pairs`` returned — but converges in
    O(log² n) rounds instead of O(diameter): each round contracts paths
    toward the component minimum from both ends, so deep chains that
    cost the propagation variant one shuffle per hop collapse in a
    handful of rounds. This is the scale path for 100 TB dedup graphs
    whose diameter is unknown up front.

    Round = large-star (every node's larger neighbors rewire to the
    neighborhood min) then small-star (every node's smaller neighbors
    and itself rewire to the min of the smaller neighborhood). Fixpoint
    = edge set stable; detected with a count + order-independent
    xxhash64 checksum computed in one tiny aggregate (labels only ever
    decrease, so a stable signature means a stable star forest).
    """
    from pyspark.sql import Window

    spark = pairs.sparkSession
    src, dst = F.col("src"), F.col("dst")

    edges0 = (
        pairs.select(F.col(left_col).alias("src"), F.col(right_col).alias("dst"))
        .where(src != dst)
        .select(F.least(src, dst).alias("src"), F.greatest(src, dst).alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    edge0_ckpt_ids = _ckpt_ids(edges0)

    # size-adaptive path (module docstring): limit(m+1).collect() on
    # the materialized checkpoint is ONE job that both sizes and
    # fetches the graph — the driver holds at most ceiling + 1 rows
    # by construction, at ANY graph size
    m = _cc_driver_max_edges(driver_max_edges)
    if m > 0:
        probe = edges0.limit(m + 1).collect()
        if len(probe) <= m:
            out = _driver_components(edges0, probe)
            _unpersist_ids(spark, edge0_ckpt_ids)
            return out

    edges = edges0
    # nodes of the original graph: the output contract (every input
    # node labeled) must survive star rewiring, which can drop a
    # node's own edges once its whole neighborhood points past it.
    # Derived LAZILY from the checkpointed edge table (r13: the eager
    # node materialization was one more full barrier per invocation;
    # the union+distinct now runs inside the final labels job instead,
    # reading the already-materialized edges0 blocks — edges0 is kept
    # persisted until the labels are checkpointed below).
    nodes = (
        edges0.select(src.alias("node"))
        .union(edges0.select(dst.alias("node")))
        .distinct()
    )

    prev_sig = None
    prev_ckpt_ids: set[int] = set()
    for _ in range(max_iterations):
        # ---- large-star: for each node u, m = min(N(u) ∪ {u});
        # emit (v, m) for every neighbor v > u. The neighborhood min
        # attaches via a WINDOW over the src partition (r13, guide
        # §2.4: one exchange of the edge stream) instead of the
        # groupBy+self-join form (two exchanges + a join of the same
        # stream) — identical rows, one fewer shuffle and join per
        # half-round at every scale.
        nbrs = edges.union(edges.select(dst.alias("src"), src.alias("dst")))
        w = Window.partitionBy("src")
        large = (
            nbrs.withColumn("m", F.least(src, F.min("dst").over(w)))
            .where(dst > src)
            .select(dst.alias("src"), F.col("m").alias("dst"))
            .distinct()
        )
        # ---- small-star: orient u > v; for each u, m = min(smaller
        # neighborhood); emit (v, m) for each smaller neighbor v plus
        # (u, m); drop the (m, m) self loop. Same window form; the
        # (u, m) rows arrive once per edge instead of once per u —
        # collapsed by the trailing distinct, so the edge SET is
        # unchanged.
        om = large.select(
            F.greatest(src, dst).alias("src"), F.least(src, dst).alias("dst")
        ).withColumn("m", F.min("dst").over(w))
        # LAZY checkpoint: the convergence aggregate below is the
        # materializing action, so each round runs ONE job (step +
        # signature) instead of two (eager checkpoint, then a second
        # job re-reading it for the signature) — r13, guide §1.2. The
        # previous round's blocks are unpersisted only AFTER this
        # round materializes (the step's lineage reads them).
        stepped = (
            om.select(dst.alias("src"), F.col("m").alias("dst"))
            .union(om.select("src", F.col("m").alias("dst")))
            .where(src != dst)
            .select(F.least(src, dst).alias("src"), F.greatest(src, dst).alias("dst"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        new_ids = _ckpt_ids(stepped)
        edges = stepped
        row = edges.agg(
            F.count(F.lit(1)).alias("n"),
            # bit_xor: order-independent and cannot overflow (F.sum of
            # full-range xxhash64 values would, and ANSI mode errors)
            F.expr("bit_xor(xxhash64(src, dst))").alias("sig"),
        ).first()
        _unpersist_ids(spark, prev_ckpt_ids)
        prev_ckpt_ids = new_ids
        sig = (row["n"], row["sig"])
        if sig == prev_sig:
            break
        prev_sig = sig

    # converged: edges form a star forest (node > root); label each
    # node with its root, roots and isolated-after-rewire nodes with
    # themselves
    star = edges.select(dst.alias("node"), src.alias("label"))
    labels = nodes.join(star, "node", "left").select(
        F.col("node").alias("doc_id"),
        F.coalesce(F.col("label"), F.col("node")).alias("component"),
    )
    out = labels.localCheckpoint(eager=True)
    _unpersist_ids(spark, prev_ckpt_ids)
    _unpersist_ids(spark, edge0_ckpt_ids)
    return out


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    left_col: str = "doc_a",
    right_col: str = "doc_b",
    algorithm: str = "star",
) -> DataFrame:
    """Full dedup resolution: every document labeled with its component
    (singletons label themselves). Downstream keeps one doc per
    component (e.g. min id = the component label itself).
    ``algorithm``: 'star' (large-star/small-star, O(log²) rounds —
    the default: bounded rounds regardless of graph diameter) or
    'propagate' (min-label propagation, O(diameter) rounds — fine for
    known-shallow graphs, kept as the cross-checked twin)."""
    if algorithm == "star":
        comp = connected_components_star(pairs, left_col, right_col)
    else:
        comp = connected_components(pairs, left_col, right_col)
    return docs.select(F.col(id_col).alias("doc_id")).join(
        comp, "doc_id", "left"
    ).select(
        "doc_id", F.coalesce("component", F.col("doc_id")).alias("component")
    )
