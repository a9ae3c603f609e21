"""Graph analytics: integer-deterministic PageRank.

Use case in the curation pipeline: after near-dup detection produces a
document graph, centrality picks the CANONICAL representative per
cluster (the doc most-connected to its duplicates) and surfaces hub
documents whose text radiates through the corpus — a ranking signal
pair-level similarity can't provide.

Determinism design: classic PageRank iterates floating-point averages,
whose parallel summation is order-dependent — unreproducible across
partitionings, let alone engines.  This implementation does the entire
recurrence in SCALED INTEGERS with explicit floor division:

    r₀(v)    = SCALE
    c_k(u)   = r_k(u) div outdeg(u)            -- integer contribution
    r_{k+1}(v) = BASE + (DAMP_NUM · Σ c_k(u)) div DAMP_DEN
               where BASE = ((DAMP_DEN-DAMP_NUM)·SCALE) div DAMP_DEN

Every step is exact int64 arithmetic, so any partitioning, any engine,
any run produces bit-identical ranks; the oracle unrolls the same
recurrence as generated SQL.  The truncation error vs. float PageRank
is ≤ outdeg ulps per node per round — irrelevant for ranking.

Scale shape: each round is one shuffle join (ranks ⋈ edges on src) and
one shuffle agg (sum per dst) — the same shape as a round of label
propagation (components.py), partitioned on the same key so AQE
coalesces; rounds are fixed (iters), not data-dependent.  Every loop in
this module runs through operators/fixpoint.py, which owns pinning,
observed convergence metrics and what running out of rounds means.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from event_streaming_spark.operators.fixpoint import Round, iterate, pin_observed
from event_streaming_spark.operators.materialize import materialize

SCALE = 1_000_000
DAMP_NUM, DAMP_DEN = 85, 100  # damping 0.85 as an exact rational
BASE = ((DAMP_DEN - DAMP_NUM) * SCALE) // DAMP_DEN

#: PageRank/PPR iterations chained UNMATERIALIZED before a lineage cut.
#: Safe because the recurrence references the previous ranks exactly
#: ONCE per iteration (the update joins the pinned node universe, not
#: the ranks frame), so plan size grows linearly in the chunk — r11's
#: shape referenced ranks twice per iteration, which would re-evaluate
#: the whole chain once per reference if left unmaterialized.  Catalog
#: callers run 3-4 iterations → the loop body costs ZERO checkpoint
#: jobs; longer schedules cut lineage every 4th round.
_PR_CHUNK = 4


def symmetrized(
    edges: DataFrame, s: str, d: str, directed: bool = False, **carry: str
) -> DataFrame:
    """``(src, dst, *carry)`` projection of ``edges``, where ``carry`` maps
    an output name to an input column copied onto both directions (an
    edge weight).  Undirected graphs get both directions from ONE
    evaluation of the edge subplan — explode a 2-array of structs instead
    of union-ing two references to the subplan (which would re-run it, or
    force an extra pin job before the union)."""
    extra = [F.col(c).alias(k) for k, c in carry.items()]
    if directed:
        return edges.select(F.col(s).alias("src"), F.col(d).alias("dst"), *extra)
    return (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(s).alias("src"), F.col(d).alias("dst"), *extra),
                    F.struct(F.col(d).alias("src"), F.col(s).alias("dst"), *extra),
                )
            ).alias("e")
        ).select("e.src", "e.dst", *(f"e.{k}" for k in carry))
    )


def _ranked(
    base: DataFrame, e: DataFrame, iters: int, init: Column, teleport: Column, name: str
) -> DataFrame:
    """The exact-integer PageRank loop shared by PageRank and PPR.

    ``base``: the pinned node universe (its columns are carried);
    ``e``: the pinned ``(src, dst)`` edges.  The new rank is ``teleport``
    plus the damped contribution — it never reads the old rank directly —
    so each round references the previous ranks frame exactly once and
    rounds chain unmaterialized (_PR_CHUNK).  The final frame is pinned
    so every consumer (often several joins downstream) reads a
    checkpoint, not the unrolled chain."""
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))

    def step(ranks: DataFrame, _rnd: int) -> Round:
        contrib = (
            ranks.join(deg, ranks.node == deg.src, "inner")
            .select("src", F.expr("pr_scaled div outdeg").alias("c"))
            .join(e, "src")
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        damped = F.expr(f"({DAMP_NUM} * coalesce(s, 0)) div {DAMP_DEN}")
        return Round(
            base.join(contrib, base.node == contrib.dst, "left").select(
                *base.columns, (teleport + damped).cast("long").alias("pr_scaled")
            )
        )

    ranks = iterate(
        name,
        base.withColumn("pr_scaled", init.cast("long")),
        step,
        max_rounds=iters,
        pin_every=_PR_CHUNK,
        bound="contract",
    )
    return materialize(ranks, name)


def pagerank_integer(
    nodes: DataFrame, edges: DataFrame, iters: int = 3, directed: bool = False
) -> DataFrame:
    """``(node, pr_scaled)`` after ``iters`` exact-integer rounds.

    ``nodes``: one column of ids.  ``edges``: two columns (src, dst);
    undirected by default (each edge contributes both ways).  Nodes with
    no out-edges keep rank BASE + damped 0 (their mass is dropped, the
    simple dangling-node convention — documented, mirrored in the
    oracle).
    """
    n_col = nodes.columns[0]
    s, d = edges.columns[0], edges.columns[1]
    # ONE evaluation of the edge subplan (in every near-dup caller it is
    # the whole LSH candidate pipeline) and ONE materialization job: the
    # bidirectional expansion rides the same pass as explode(array(fwd,
    # rev)) instead of pin-then-union-then-pin (r11: 2 setup jobs → 1).
    e = materialize(symmetrized(edges, s, d, directed).distinct(), "pr-edges")
    univ = materialize(nodes.select(F.col(n_col).alias("node")), "pr-nodes")
    return _ranked(univ, e, iters, F.lit(SCALE), F.lit(BASE), "pr-ranks")


def sql_pagerank_integer(
    nodes_sql: str, edges_sql: str, iters: int = 3, directed: bool = False
) -> str:
    """ANSI twin: the same recurrence with the iterations UNROLLED as
    chained CTEs (standard SQL forbids aggregation in a recursive term,
    and the round count is fixed anyway).  ``nodes_sql`` yields column
    ``node``; ``edges_sql`` yields ``src, dst``."""
    undirect = (
        f"SELECT src, dst FROM raw UNION SELECT dst AS src, src AS dst FROM raw"
        if not directed
        else "SELECT DISTINCT src, dst FROM raw"
    )
    parts = [
        f"WITH raw AS MATERIALIZED ({edges_sql})",
        f"e AS MATERIALIZED ({undirect})",
        "deg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM e GROUP BY src)",
        f"r0 AS MATERIALIZED (SELECT node, {SCALE}::BIGINT AS pr_scaled FROM ({nodes_sql}))",
    ]
    for k in range(iters):
        parts.append(
            f"""s{k} AS MATERIALIZED (
  SELECT e.dst, sum(r{k}.pr_scaled // deg.outdeg) AS s
  FROM r{k} JOIN deg ON deg.src = r{k}.node JOIN e ON e.src = r{k}.node
  GROUP BY e.dst
)"""
        )
        parts.append(
            f"""r{k + 1} AS MATERIALIZED (
  SELECT r{k}.node,
         ({BASE} + ({DAMP_NUM} * coalesce(s{k}.s, 0)) // {DAMP_DEN})::BIGINT AS pr_scaled
  FROM r{k} LEFT JOIN s{k} ON s{k}.dst = r{k}.node
)"""
        )
    return ",\n".join(parts) + f"\nSELECT node, pr_scaled FROM r{iters}"


def ppr_integer(
    nodes: DataFrame, edges: DataFrame, iters: int = 4, directed: bool = False
) -> DataFrame:
    """Personalized PageRank, same exact-integer recurrence as
    :func:`pagerank_integer` but with the teleport mass restricted to a
    SEED set — the 'expand this flagged set through the similarity
    graph' primitive (contamination spread, trust propagation, dedup
    cluster seeding).

    ``nodes``: columns ``(node, is_seed)`` with is_seed ∈ {0, 1}.
    r₀(v) = SCALE·is_seed; each round
    r_{k+1}(v) = is_seed(v)·BASE + (DAMP_NUM·Σ c_k(u)) div DAMP_DEN.
    Non-seed sinks decay toward 0; mass concentrates around the seeds'
    neighborhoods.  Every op is int64, bit-identical across engines.
    """
    e = materialize(
        symmetrized(edges, edges.columns[0], edges.columns[1], directed).distinct(),
        "ppr-edges",
    )
    base = materialize(
        nodes.select(
            F.col("node"), F.col("is_seed").cast("long").alias("is_seed")
        ),
        "ppr-nodes",
    )
    seed = F.col("is_seed")
    return _ranked(base, e, iters, seed * SCALE, seed * F.lit(BASE), "ppr-ranks")


def sql_ppr_integer(
    nodes_sql: str, edges_sql: str, iters: int = 4, directed: bool = False
) -> str:
    """ANSI twin of :func:`ppr_integer` — ``nodes_sql`` yields
    ``(node, is_seed)``; ``edges_sql`` yields ``(src, dst)``."""
    undirect = (
        "SELECT src, dst FROM raw UNION SELECT dst AS src, src AS dst FROM raw"
        if not directed
        else "SELECT DISTINCT src, dst FROM raw"
    )
    parts = [
        f"WITH raw AS MATERIALIZED ({edges_sql})",
        f"e AS MATERIALIZED ({undirect})",
        "deg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM e GROUP BY src)",
        "b AS MATERIALIZED (SELECT node, cast(is_seed AS BIGINT) AS is_seed "
        f"FROM ({nodes_sql}))",
        f"r0 AS MATERIALIZED (SELECT node, is_seed, (is_seed * {SCALE})::BIGINT AS pr_scaled FROM b)",
    ]
    for k in range(iters):
        parts.append(
            f"""s{k} AS MATERIALIZED (
  SELECT e.dst, sum(r{k}.pr_scaled // deg.outdeg) AS s
  FROM r{k} JOIN deg ON deg.src = r{k}.node JOIN e ON e.src = r{k}.node
  GROUP BY e.dst
)"""
        )
        parts.append(
            f"""r{k + 1} AS MATERIALIZED (
  SELECT b.node, b.is_seed,
         (b.is_seed * {BASE}
          + ({DAMP_NUM} * coalesce(s{k}.s, 0)) // {DAMP_DEN})::BIGINT AS pr_scaled
  FROM b LEFT JOIN s{k} ON s{k}.dst = b.node
)"""
        )
    return ",\n".join(parts) + f"\nSELECT node, is_seed, pr_scaled FROM r{iters}"


# ---------------------------------------------------------------------------
# Degree-oriented triangle enumeration (Schank/Wagner ordering).
# ---------------------------------------------------------------------------


def triangles(edges: DataFrame, a: str = "doc_a", b: str = "doc_b") -> DataFrame:
    """Enumerate each triangle of the undirected graph exactly once as
    ``(n1, n2, n3)`` with ``n1 < n2 < n3``.

    Scale design: orienting every edge from its lower-(degree, id)
    endpoint caps out-degree at O(sqrt(|E|)), so the wedge join never
    squares a hub's adjacency — the difference between O(Σ deg²) and
    O(|E|^{3/2}) on power-law graphs.  Wedges close via ONE equi-join
    against oriented edges (both wedge ends canonicalized by the same
    (degree, id) total order, so the closing edge has a known direction
    — no OR-join, no second pass).  Input edges may be in either/both
    orientations and may contain duplicates; they are canonicalized
    first.
    """
    # Pin the canonical edge list: it feeds the degree aggregate AND the
    # orientation join, and `orient` below feeds THREE consumers (both
    # wedge sides + the closing join) — without the pins an expensive
    # edge-producing subplan (the LSH candidate pipeline in every
    # near-dup caller) re-evaluates once per consumer (the r10
    # "3 consumers re-ran the panel² pass" lesson, applied here).
    und = materialize(
        edges.select(
            F.least(F.col(a), F.col(b)).alias("u"),
            F.greatest(F.col(a), F.col(b)).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct(),
        "tri-und",
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .union(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e = und.join(
        deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u"
    ).join(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v")
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    orient = materialize(
        e.select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("dst_d"),
        ),
        "tri-orient",
    )
    o1 = orient.alias("o1")
    o2 = orient.alias("o2")
    lo_first = (F.col("o1.dst_d") < F.col("o2.dst_d")) | (
        (F.col("o1.dst_d") == F.col("o2.dst_d")) & (F.col("o1.dst") < F.col("o2.dst"))
    )
    wedge = o1.join(
        o2,
        (F.col("o1.src") == F.col("o2.src")) & (F.col("o1.dst") < F.col("o2.dst")),
    ).select(
        F.col("o1.src").alias("w_a"),
        F.when(lo_first, F.col("o1.dst")).otherwise(F.col("o2.dst")).alias("lo"),
        F.when(lo_first, F.col("o2.dst")).otherwise(F.col("o1.dst")).alias("hi"),
    )
    closing = orient.select(F.col("src").alias("lo"), F.col("dst").alias("hi"))
    tri = wedge.join(closing, ["lo", "hi"])
    least3 = F.least("w_a", "lo", "hi")
    greatest3 = F.greatest("w_a", "lo", "hi")
    # Middle node by CASE, not arithmetic: w_a + lo + hi − least − greatest
    # needs numeric ids (ANSI mode raises on strings, legacy yields NULL)
    # and can overflow int64 near the id-space ceiling — the three nodes
    # of a triangle are distinct, so exactly one is neither min nor max.
    middle = (
        F.when((F.col("w_a") != least3) & (F.col("w_a") != greatest3), F.col("w_a"))
        .when((F.col("lo") != least3) & (F.col("lo") != greatest3), F.col("lo"))
        .otherwise(F.col("hi"))
    )
    return tri.select(
        least3.alias("n1"),
        middle.alias("n2"),
        greatest3.alias("n3"),
    )


# ---------------------------------------------------------------------------
# Frontier-join BFS (multi-source shortest hop distance).
# ---------------------------------------------------------------------------


def bfs_layers(
    seeds: DataFrame, edges: DataFrame, max_depth: int, directed: bool = False
) -> DataFrame:
    """``(node, dist)``: minimum hop count from the seed SET, bounded by
    ``max_depth`` rounds.

    Use case: blast-radius queries on the near-dup graph — "everything
    within k hops of these flagged documents" (contamination spread,
    takedown propagation), the standard decontamination sweep after a
    leak is located.

    Scale shape: textbook frontier BFS as joins — each round is ONE
    equi-join (frontier ⋈ edges on src), a distinct (shuffle bounded by
    the frontier's neighborhood, never the graph), and a left-anti
    against the visited set.  Each LAYER is the pinned round state, and
    ``visited`` stays an UNPINNED union of the pinned layers (re-reading
    the union costs no recompute; its anti-join plan grows linearly with
    depth).  The loop ends at ``max_depth`` or at the first empty layer.
    Exact integer distances: bit-identical on any partitioning/engine.
    """
    s, d = edges.columns[0], edges.columns[1]
    e = materialize(symmetrized(edges, s, d, directed).distinct(), "bfs-edges")
    n_col = seeds.columns[0]
    layers: list[DataFrame] = []

    def step(frontier: DataFrame, rnd: int) -> Round:
        layers.append(frontier)
        nxt = (
            frontier.join(e, frontier["node"] == e["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(reduce(DataFrame.union, layers).select("node"), "node", "left_anti")
            .withColumn("dist", F.lit(rnd + 1).cast("int"))
        )
        return Round(nxt, F.count(F.lit(1)).alias("n"), lambda m: m["n"] == 0)

    layer0 = materialize(
        seeds.select(F.col(n_col).alias("node")).distinct().withColumn(
            "dist", F.lit(0).cast("int")
        ),
        "bfs-layer0",
    )
    last = iterate("bfs-layer", layer0, step, max_rounds=max_depth, bound="contract")
    # a sweep that stopped before max_depth stopped on an empty layer
    return reduce(DataFrame.union, layers + ([last] if len(layers) == max_depth else []))


# ---------------------------------------------------------------------------
# k-core: iterative degree peeling.
# ---------------------------------------------------------------------------


def k_core(edges: DataFrame, k: int, max_rounds: int = 50) -> DataFrame:
    """Nodes of the k-core: the maximal subgraph where every node has
    degree ≥ k (undirected, self-loops ignored).

    Use case: the DENSE heart of a near-dup cluster — boilerplate rings
    and template farms survive k-core peeling while incidental pairwise
    matches fall away, so the core is what deserves aggressive collapse.

    Scale shape: each peeling round is one degree aggregate over the
    surviving edge set plus two semi-joins to drop edges touching peeled
    nodes — all key-partitioned shuffles, no windows.  Rounds end when a
    round drops no edge; ``max_rounds`` is a safety cap for pathological
    chains.  Deterministic: peeling is order-independent (the k-core is
    unique), so any partitioning/engine yields the same node set.
    """
    s, d = edges.columns[0], edges.columns[1]
    n_edges = F.count(F.lit(1)).alias("n")
    # self-loops dropped before the expansion; the initial edge count
    # seeds the edge-count fixpoint test below
    e, m0 = pin_observed(
        symmetrized(edges.where(F.col(s) != F.col(d)), s, d).distinct(),
        "kcore-edges",
        n_edges,
    )
    prev = m0["n"] or 0

    def degrees(e: DataFrame) -> DataFrame:
        return e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))

    def step(e: DataFrame, _rnd: int) -> Round:
        # The degree aggregate feeds both semi-joins unmaterialized (its
        # exchange subplans are canonical-identical, so ReuseExchange
        # computes it once).  Peeling is monotone, so a round that drops
        # zero edges dropped zero nodes: the surviving subgraph IS the
        # k-core.
        keep = degrees(e).where(F.col("deg") >= k).select("src")

        def peeled_nothing(m: dict) -> bool:
            nonlocal prev
            n, last = m["n"] or 0, prev
            prev = n
            return n in (0, last)

        return Round(
            e.join(keep, "src", "left_semi")
            .join(keep.withColumnRenamed("src", "dst"), "dst", "left_semi"),
            n_edges,
            peeled_nothing,
        )

    e = iterate("kcore-edges", e, step, max_rounds=max_rounds, bound="cap")
    # At the fixpoint every surviving node has degree ≥ k and the final
    # degree filter keeps them all.  When max_rounds runs out first the
    # surviving edge set may still hold nodes of degree < k, so returning
    # its node set verbatim would be a silently wrong "k-core" (ADVICE
    # r4); the filter makes the answer a one-sided OVER-approximation — a
    # SUPERSET of the exact k-core — because the k-core survives every
    # peeling round, so each true core node's degree in the surviving
    # subgraph is ≥ its in-core degree ≥ k.  (The filter may also keep
    # nodes the next peeling rounds would remove.)  Callers that need the
    # exact fixpoint raise max_rounds; each round strictly shrinks the
    # node set, so 50 covers any realistic near-dup graph.
    return (
        degrees(e).where(F.col("deg") >= k).select(F.col("src").alias("node")).orderBy("node")
    )


# ---------------------------------------------------------------------------
# Bounded Bellman-Ford: weighted single-source (set) shortest paths.
# ---------------------------------------------------------------------------


def sssp_bounded(
    seeds: DataFrame, weighted_edges: DataFrame, rounds: int, directed: bool = False
) -> DataFrame:
    """``(node, dist)``: minimum path WEIGHT from the seed set over
    paths of at most ``rounds`` edges (non-negative integer weights).

    Use case: similarity-weighted blast radius on the near-dup graph —
    hops through STRONG matches cost little, so the sweep ranks
    "contamination proximity" instead of raw hop count (the weighted
    upgrade of ``bfs_layers``).

    Semantics: full-table Bellman-Ford relaxation — after k rounds,
    ``dist`` is EXACTLY the minimum weight over paths using ≤ k edges
    (the oracle-matchable contract; a hop-bounded recursive CTE computes
    the same thing).  Early exit when a round changes nothing is safe:
    relaxation is monotone, so a fixpoint IS the ≤-k-hop minimum for
    every larger k.

    Scale shape: each round is one equi-join (dist ⋈ edges on src) and
    one min-aggregate on node — key-partitioned shuffles bounded by the
    edge list, no windows; the convergence metric is the count of
    improved nodes.  Integer weights ⇒ bit-identical on any
    partitioning/engine.
    """
    s, d, w = weighted_edges.columns[:3]
    e = materialize(symmetrized(weighted_edges, s, d, directed, w=w).distinct(), "sssp-edges")
    n_col = seeds.columns[0]

    def step(dist: DataFrame, _rnd: int) -> Round:
        dist = dist.select("node", "dist")
        relax = (
            dist.join(e, dist["node"] == e["src"])
            .select(F.col("dst").alias("node"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        # each node's OLD distance travels through the min-aggregate (a
        # node has at most one row in `dist`, so max() of the tagged copy
        # recovers it; newly-reached nodes have old=NULL)
        agg = (
            dist.withColumn("old", F.col("dist"))
            .unionByName(relax.withColumn("old", F.lit(None).cast("long")))
            .groupBy("node")
            .agg(F.min("dist").alias("dist"), F.max("old").alias("old"))
        )
        changed = F.sum(
            (F.col("old").isNull() | (F.col("dist") < F.col("old"))).cast("long")
        ).alias("changed")
        return Round(agg, changed, lambda m: not m["changed"])

    dist0 = materialize(
        seeds.select(F.col(n_col).alias("node")).distinct().withColumn(
            "dist", F.lit(0).cast("long")
        ),
        "sssp-d0",
    )
    return iterate("sssp-d", dist0, step, max_rounds=rounds, bound="contract").select(
        "node", "dist"
    )
