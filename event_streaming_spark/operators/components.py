"""Distributed connected components (min-label propagation).

The dedup story needs more than pairs: near-dup PAIRS (MinHash-LSH,
embedding-cosine) must be folded into CLUSTERS so one canonical document
per cluster survives.  Transitive closure is inherently iterative — not
expressible as a fixed DataFrame plan — so this is one of the few places
the engine runs a driver-side loop over distributed steps.

Algorithm: label propagation toward the minimum node id.  Every node
starts labeled with itself; each round, a node's label becomes the min of
its own and its neighbors' labels.  Converges in O(component diameter)
rounds; near-dup clusters are shallow (dozens of docs, diameter ≲ 5), so
3-4 rounds in practice.  Per round: one shuffle join (edges ⋈ labels on
src) + one shuffle agg (min per node) — both partition on the same key,
so AQE coalesces.  The loop, its pins, its observed convergence metric
and its safety cap are operators/fixpoint.py's.

For graphs with pathological diameters (long chains — not a dedup
shape) the literature fix is the large-star/small-star contraction
(Kiveris et al., "Connected Components in MapReduce and Beyond"), which
converges in O(log²n); it accepts the same edge input (below).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from event_streaming_spark.operators.fixpoint import Round, iterate, pin_observed
from event_streaming_spark.operators.graph import symmetrized
from event_streaming_spark.operators.materialize import materialize


#: Target edge rows per iteration partition.  The iteration's shuffles
#: are sized explicitly because AQE's runtime coalescing never reaches
#: the materialization path (``localCheckpoint`` plans via ``.rdd``,
#: which is non-adaptive) — without this a 2k-edge graph pays 32-task
#: scheduling floors EVERY round, and an 10¹²-edge graph would pin the
#: session default regardless of volume.
_CC_ROWS_PER_PARTITION = 250_000


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iters: int = 30
) -> DataFrame:
    """Components of an undirected graph.

    ``nodes``: single-column DataFrame of node ids (any orderable type).
    ``edges``: two-column DataFrame of endpoints (same type).
    Returns ``(node, component)`` where component = min node id reachable.

    Precondition: edge endpoints ⊆ ``nodes`` (every caller here builds
    edges as pairs of existing ids).  Endpoints absent from ``nodes``
    are labeled too (they enter through the round-0 identity step), but
    for such graphs a component's label can be an edge-only id — callers
    relying on keep=(id==component) must not pass dangling endpoints.

    Rounds propagate labels along edges AND through the label graph
    itself (``component(component(v))`` — pointer doubling), so a chain
    of diameter d converges in O(log d) rounds instead of O(d); each
    extra hop is one equi-join over the (node-count-sized) label frame.
    """
    n_col = nodes.columns[0]
    # One evaluation of the edge subplan (in near-dup callers it is the
    # whole LSH candidate pipeline), one pin job, edge count observed on it.
    bidir, m = pin_observed(
        symmetrized(edges, edges.columns[0], edges.columns[1]).distinct(),
        "cc-edges",
        F.count(F.lit(1)).alias("n"),
    )
    # Size every iteration shuffle to the measured edge volume, clamped
    # to the cluster's parallelism band — small graphs stop paying
    # per-task floors 2×/round, huge ones get partitions that fit in
    # executor memory.
    n_edges = m["n"]
    sc = bidir.sparkSession.sparkContext
    p = int(max(2, min(sc.defaultParallelism * 4, n_edges // _CC_ROWS_PER_PARTITION + 2)))
    bidir = materialize(bidir.repartition(p, "src"), "cc-edges")
    labels = materialize(
        nodes.select(F.col(n_col).alias("node"), F.col(n_col).alias("component"))
        .repartition(p, "node"),
        "cc-labels",
    )

    def _step(
        labels: DataFrame,
        with_hop: bool,
        identity: bool = False,
        track_changes: bool = False,
    ) -> DataFrame:
        """One min-label propagation step (edge push + pointer doubling).

        Pointer doubling: a node whose label points at an intermediate
        node adopts THAT node's label too.  component(v) is the min id
        of some node reachable from v, so component(component(v)) is
        also reachable — the fixpoint (min reachable id) is unchanged;
        a diameter-d chain finishes in O(log d) rounds.  Shallow
        near-clique graphs DO pay the extra label-frame self-join in
        each step after the first — measured net-positive across all CC
        consumers in r5 (deep components dominate wall time; the
        shallow-graph overhead is one node-count-sized equi-join).

        ``identity=True`` (the very first step only): labels are still
        the node⇒node identity, so edges⋈labels is just the edge list
        renamed — skip the join outright (one fewer shuffle join in
        round 0).

        ``track_changes=True`` (the round's FINAL step): each node's
        pre-step label rides the aggregate as ``__old`` (the labels
        branch has exactly one row per node, so max() recovers it; the
        min-label candidates carry NULL), so the round can count the
        nodes this step changed.
        """
        if identity:
            nbr = bidir.select(F.col("dst").alias("node"), F.col("src").alias("component"))
        else:
            nbr = bidir.join(labels, bidir.src == labels.node).select(
                F.col("dst").alias("node"), "component"
            )
        if track_changes:
            tag = lambda df, old: df.withColumn(  # noqa: E731
                "__old", old.cast(labels.schema["component"].dataType)
            )
            cand = tag(labels, F.col("component")).union(tag(nbr, F.lit(None)))
        else:
            cand = labels.union(nbr)
        if with_hop:
            l2 = labels.select(F.col("node").alias("c2n"), F.col("component").alias("c2"))
            hop = labels.join(l2, labels.component == F.col("c2n")).select(
                "node", F.col("c2").alias("component")
            )
            cand = cand.union(
                tag(hop, F.lit(None)) if track_changes else hop
            )
        agg_cols = [F.min("component").alias("component")]
        if track_changes:
            agg_cols.append(F.max("__old").alias("__old"))
        return (
            cand.repartition(p, "node")
            .groupBy("node")
            .agg(*agg_cols)
        )

    def round_(labels: DataFrame, rnd: int) -> Round:
        # TWO propagation steps per materialized round: the per-round
        # fixed floors (pin job, AQE sub-jobs per exchange, driver
        # analysis) dominate wall clock on every catalog graph, so
        # halving the pin count nearly halves the loop's wall.  The
        # middle step stays unmaterialized inside the same job; its
        # repartition exchange is canonical-identical across its three
        # consumers, so ReuseExchange computes it once.  Convergence is
        # the FINAL step's exact changed-label count: a step that changes
        # no label IS the fixpoint (labels only decrease).
        labels = labels.select("node", "component")
        cand = _step(
            _step(labels, with_hop=rnd >= 1, identity=rnd == 0),
            with_hop=True,
            track_changes=True,
        )
        changed = F.sum(
            (F.col("__old").isNull() | (F.col("component") < F.col("__old"))).cast("long")
        ).alias("n_changed")
        return Round(cand, changed, lambda m: not m["n_changed"])

    return iterate("cc-labels", labels, round_, max_rounds=max_iters, bound="cap").select(
        "node", "component"
    )


# ---------------------------------------------------------------------------
# Large-star / small-star contraction (Kiveris et al., "Connected
# Components in MapReduce and Beyond", SoCC'14) — the O(log² n)-round
# alternative promised above for graphs whose diameter is NOT shallow
# (long chains, web-link graphs).  Label propagation needs O(diameter)
# rounds; star contraction halves tall trees every alternation, so a
# 10⁶-node path converges in ~40 rounds instead of 10⁶.
#
# Both operations are one groupBy-min + one join per round over the
# (shrinking) edge list — the same shuffle shape as a round of label
# propagation, so at 100 TB the cost per round is identical and only the
# round COUNT differs.  Edges are kept canonical (lo < hi), so the edge
# list never exceeds its input size and monotonically contracts toward
# one star per component.
# ---------------------------------------------------------------------------


def _canon(df: DataFrame) -> DataFrame:
    """Undirected edges in canonical (lo < hi) form, self-loops dropped."""
    return (
        df.select(
            F.least("a", "b").alias("lo"), F.greatest("a", "b").alias("hi")
        )
        .where(F.col("lo") != F.col("hi"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor v > u to min(Γ(u) ∪ {u})."""
    bidir = edges.select(F.col("lo").alias("u"), F.col("hi").alias("v")).union(
        edges.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
    )
    m = bidir.groupBy("u").agg(F.min("v").alias("mv")).select(
        "u", F.least("mv", "u").alias("m")
    )
    out = (
        bidir.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
    )
    return _canon(out)


def _small_star(edges: DataFrame) -> DataFrame:
    """For each node u, link all smaller neighbors (and u) to their min."""
    # canonical edges already point hi -> lo; group by the larger endpoint
    grp = edges.groupBy("hi").agg(F.min("lo").alias("m"))
    nbrs = edges.join(grp, "hi").select(
        F.col("lo").alias("a"), F.col("m").alias("b")
    )
    selfs = grp.select(F.col("hi").alias("a"), F.col("m").alias("b"))
    return _canon(nbrs.union(selfs))


def connected_components_star(
    nodes: DataFrame, edges: DataFrame, max_iters: int = 60
) -> DataFrame:
    """Components via alternating large-star/small-star contraction.

    Same contract as :func:`connected_components` — ``(node, component)``
    with component = min reachable node id — but O(log² n) rounds on
    pathological diameters.  Convergence: the canonical edge list is a
    fixpoint of both operations exactly when every component is a star
    centered at its min node; detected by an unchanged (count,
    bit_xor-of-xxhash64) checksum of the edge list — type-safe for any
    orderable node id and overflow-free under ANSI mode.
    """
    n_col = nodes.columns[0]
    s_col, d_col = edges.columns[0], edges.columns[1]
    sig = (F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64("lo", "hi")).alias("h"))
    cur, prev = pin_observed(
        _canon(edges.select(F.col(s_col).alias("a"), F.col(d_col).alias("b"))),
        "ccstar-edges",
        *sig,
    )

    def step(cur: DataFrame, _rnd: int) -> Round:
        def unchanged(m: dict) -> bool:
            nonlocal prev
            same, prev = m == prev, m
            return same

        return Round(_small_star(_large_star(cur)), sig, unchanged)

    cur = iterate("ccstar-edges", cur, step, max_rounds=max_iters, bound="cap")

    # Converged: each component is a star (center = min id = lo side).
    # Same contract as connected_components: endpoints that appear only
    # in EDGES still get labeled (union them into the node frame), and a
    # node is labeled exactly ONCE — on max_iters exhaustion short of the
    # star fixpoint a node can still be the hi of several centers, so
    # take the min center (deterministic best-effort) instead of
    # emitting conflicting duplicate rows.
    all_nodes = (
        nodes.select(F.col(n_col).alias("node"))
        .union(edges.select(F.col(s_col).alias("node")))
        .union(edges.select(F.col(d_col).alias("node")))
        .distinct()
    )
    centers = cur.groupBy("hi").agg(F.min("lo").alias("center")).withColumnRenamed(
        "hi", "node"
    )
    labels = all_nodes.join(centers, "node", "left")
    return labels.select(
        "node", F.coalesce("center", "node").alias("component")
    )
