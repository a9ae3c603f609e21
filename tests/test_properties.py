"""Property-based semantic checks (hypothesis): operators vs brute-force
Python references on randomized inputs.

Few examples per property (Spark job per example) — the value is the
randomized shape coverage (dup keys, empty groups, ties), not volume.
"""

from __future__ import annotations

import datetime as dt

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from event_streaming_spark.operators.cdc import apply_cdc
from event_streaming_spark.operators.dedup import dedup_keep_latest
from event_streaming_spark.operators.joins import asof_join

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

row = st.tuples(
    st.integers(0, 3),                 # key
    st.integers(0, 1_000_000),         # ts (ms)
    st.integers(-100, 100),            # value
)


@given(left=st.lists(row, min_size=1, max_size=15), right=st.lists(row, max_size=15))
@SETTINGS
def test_asof_join_matches_bruteforce(spark, left, right):
    base = dt.datetime(2024, 1, 1)
    mk = lambda r, i: (r[0], base + dt.timedelta(milliseconds=r[1]), i, float(r[2]))  # noqa: E731
    lrows = [mk(r, i) for i, r in enumerate(left)]
    rrows = [mk(r, 1000 + i) for i, r in enumerate(right)]
    ldf = spark.createDataFrame(lrows, "k INT, ts TIMESTAMP, rid INT, v DOUBLE")
    rdf = spark.createDataFrame(rrows, "k INT, ts TIMESTAMP, rid INT, rv DOUBLE") \
        if rrows else spark.createDataFrame([], "k INT, ts TIMESTAMP, rid INT, rv DOUBLE")
    out = asof_join(ldf, rdf.select("k", "ts", "rv"), on="ts", by=["k"], value_cols=["rv"])
    got = {r["rid"]: r["rv"] for r in out.collect()}

    for k, ts, rid, _ in lrows:
        cands = [(rts, rv) for (rk, rts, _, rv) in rrows if rk == k and rts <= ts]
        want = max(cands)[1] if cands else None
        assert got[rid] == want, (rid, got[rid], want)


@given(rows=st.lists(row, min_size=1, max_size=20))
@SETTINGS
def test_dedup_keep_latest_matches_reference(spark, rows):
    data = [(k, ts, i, float(v)) for i, (k, ts, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "k INT, ord BIGINT, rid INT, v DOUBLE")
    out = dedup_keep_latest(df, ["k"], [F.col("ord"), F.col("rid")])
    got = {r["k"]: r["rid"] for r in out.collect()}
    want = {}
    for k, ts, rid, _ in data:
        cur = want.get(k)
        if cur is None or (ts, rid) > cur[:2]:
            want[k] = (ts, rid, rid)
    assert got == {k: v[2] for k, v in want.items()}


cdc_change = st.tuples(
    st.integers(0, 4),                       # key
    st.integers(0, 50),                      # seq
    st.sampled_from(["upsert", "delete"]),   # op
    st.integers(-10, 10),                    # value
)


@given(
    snap=st.lists(st.tuples(st.integers(0, 4), st.integers(-10, 10)),
                  max_size=5, unique_by=lambda t: t[0]),
    changes=st.lists(cdc_change, min_size=1, max_size=12),
)
@SETTINGS
def test_apply_cdc_matches_replay(spark, snap, changes):
    sdf = (
        spark.createDataFrame([(k, float(v)) for k, v in snap], "k INT, v DOUBLE")
        if snap else spark.createDataFrame([], "k INT, v DOUBLE")
    )
    cdata = [(k, seq, i, op, float(v)) for i, (k, seq, op, v) in enumerate(changes)]
    cdf = spark.createDataFrame(cdata, "k INT, seq INT, tie INT, op STRING, v DOUBLE")
    out = apply_cdc(sdf, cdf, ["k"], [F.col("seq"), F.col("tie")])
    got = {r["k"]: r["v"] for r in out.select("k", "v").collect()}

    # replay reference: latest change per key wins; delete removes
    state = {k: float(v) for k, v in snap}
    latest: dict[int, tuple] = {}
    for k, seq, tie, op, v in cdata:
        if k not in latest or (seq, tie) > latest[k][:2]:
            latest[k] = (seq, tie, op, v)
    for k, (_, _, op, v) in latest.items():
        if op == "delete":
            state.pop(k, None)
        else:
            state[k] = v
    assert got == state


# ---------------------------------------------------------------------------
# Connected components vs union-find on random graphs.
# ---------------------------------------------------------------------------

edge = st.tuples(st.integers(0, 12), st.integers(0, 12))


def _uf_components(n_nodes: int, edges: list[tuple[int, int]]) -> dict[int, int]:
    parent = list(range(n_nodes))

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min id in component
    comp: dict[int, list[int]] = {}
    for v in range(n_nodes):
        comp.setdefault(find(v), []).append(v)
    return {v: min(members) for members in comp.values() for v in members}


@SETTINGS
@given(st.lists(edge, max_size=20))
def test_connected_components_matches_union_find(spark, edges):
    from event_streaming_spark.operators.components import connected_components

    n = 13
    nodes = spark.createDataFrame([(i,) for i in range(n)], "node BIGINT")
    edf = spark.createDataFrame(edges or [(0, 0)], "src BIGINT, dst BIGINT")
    got = {
        r["node"]: r["component"] for r in connected_components(nodes, edf).collect()
    }
    assert got == _uf_components(n, edges)


def test_connected_components_with_table_materializer(spark, tmp_path, monkeypatch):
    # The fault-tolerant materializer strategy (persisted parquet rounds)
    # must produce identical components to the default localCheckpoint.
    from event_streaming_spark.operators.components import connected_components

    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZER", "table")
    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE_DIR", str(tmp_path / "mat"))
    nodes = spark.createDataFrame([(i,) for i in range(8)], "node BIGINT")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5), (6, 6)], "src BIGINT, dst BIGINT"
    )
    got = {
        r["node"]: r["component"] for r in connected_components(nodes, edges).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 4, 5: 4, 6: 6, 7: 7}


def test_global_rank_primitives_match_window(spark):
    """Distributed row_number/cumsum == the single-partition window
    reference, on data spread over many partitions with duplicate keys."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from event_streaming_spark.operators.ranks import (
        with_global_cumsum,
        with_global_row_number,
    )

    rows = [((i * 37) % 50, i, (i % 7) + 1) for i in range(400)]
    df = spark.createDataFrame(rows, "k INT, uid INT, v INT").repartition(16)

    order = [F.desc("k"), F.asc("uid")]
    got, total = with_global_row_number(df, order, "rn")
    assert total == 400
    w = Window.orderBy(F.desc("k"), F.asc("uid"))
    want = df.withColumn("rn", F.row_number().over(w))
    assert {(r["uid"], r["rn"]) for r in got.collect()} == {
        (r["uid"], r["rn"]) for r in want.collect()
    }

    got_cs, total_v = with_global_cumsum(df, order, "v", "cs")
    assert total_v == sum(r[2] for r in rows)
    wcs = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want_cs = df.withColumn("cs", F.sum("v").over(wcs))
    assert {(r["uid"], r["cs"]) for r in got_cs.collect()} == {
        (r["uid"], r["cs"]) for r in want_cs.collect()
    }


def test_materializer_rejects_unknown_strategy(monkeypatch):
    import pytest
    from event_streaming_spark.operators.materialize import materializer_strategy

    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZER", "bogus")
    with pytest.raises(ValueError):
        materializer_strategy()


@given(rows=st.lists(st.tuples(st.integers(0, 3), st.integers(-50, 50)), min_size=1, max_size=25),
       parts=st.integers(1, 6))
@SETTINGS
def test_with_group_rank_matches_bruteforce(spark, rows, parts):
    """Per-group (rv, n) from the range-partitioned skeleton: the value
    sequence under (g, rv) and the group sizes must equal the sorted
    reference regardless of physical partitioning / tie order."""
    from event_streaming_spark.operators.ranks import with_group_rank

    df = spark.createDataFrame(rows, "g INT, v INT").repartition(parts)
    got = sorted((r["g"], r["rv"], r["v"], r["n"]) for r in with_group_rank(df, "g", "v").collect())
    want = []
    for g in {g for g, _ in rows}:
        vs = sorted(v for gg, v in rows if gg == g)
        want += [(g, i + 1, v, len(vs)) for i, v in enumerate(vs)]
    assert got == sorted(want)


@given(rows=st.lists(st.tuples(st.integers(0, 3), st.integers(-50, 50)), min_size=1, max_size=25),
       k=st.integers(1, 5), parts=st.integers(1, 6))
@SETTINGS
def test_topk_per_group_matches_bruteforce(spark, rows, k, parts):
    from event_streaming_spark.operators.ranks import topk_per_group

    data = [(g, v, i) for i, (g, v) in enumerate(rows)]  # rid = unique tiebreak
    df = spark.createDataFrame(data, "g INT, v INT, rid INT").repartition(parts)
    got = sorted((r["g"], r["v"], r["rid"], r["rn"])
                 for r in topk_per_group(df, "g", [F.desc("v"), F.asc("rid")], k).collect())
    want = []
    for g in {g for g, _, _ in data}:
        members = sorted(((v, rid) for gg, v, rid in data if gg == g), key=lambda t: (-t[0], t[1]))
        want += [(g, v, rid, i + 1) for i, (v, rid) in enumerate(members[:k])]
    assert got == sorted(want)


@given(rows=st.lists(st.tuples(st.integers(0, 2), st.integers(-20, 20), st.integers(1, 7)),
                     min_size=1, max_size=25))
@SETTINGS
def test_weighted_median_distributed_shape_matches_bruteforce(spark, rows):
    """The distributed cumulative-weight selection (the shape behind
    events_weighted_median_distributed) equals the brute-force lower
    weighted median on arbitrary (group, value, weight) multisets."""
    from event_streaming_spark.operators.ranks import with_global_cumsum

    df = spark.createDataFrame(rows, "g INT, v INT, wt INT").repartition(5)
    pervalue = df.groupBy("g", "v").agg(F.sum("wt").alias("vw"))
    cum, _ = with_global_cumsum(pervalue, [F.col("g"), F.col("v")], "vw", out_col="gcw")
    bounds = cum.groupBy("g").agg(
        F.min(F.col("gcw") - F.col("vw")).alias("p0"), F.sum("vw").alias("tw")
    )
    out = (
        cum.join(bounds, "g")
        .where(2 * (F.col("gcw") - F.col("p0")) >= F.col("tw"))
        .groupBy("g").agg(F.min("v").alias("wm"))
    )
    got = {r["g"]: r["wm"] for r in out.collect()}
    for g in {g for g, _, _ in rows}:
        items = sorted((v, w) for gg, v, w in rows if gg == g)
        total = sum(w for _, w in items)
        cw = 0
        for v, w in items:
            cw += w
            if 2 * cw >= total:
                assert got[g] == v
                break


# ---------------------------------------------------------------------------
# round-3 session-2 primitives
# ---------------------------------------------------------------------------


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)), min_size=0, max_size=25
    )
)
@SETTINGS
def test_triangles_match_bruteforce(spark, edges):
    from itertools import combinations

    from event_streaming_spark.operators.graph import triangles

    und = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    if und:
        df = spark.createDataFrame(sorted(und), ["doc_a", "doc_b"])
        got = {tuple(r) for r in triangles(df).collect()}
    else:
        got = set()
    nodes = {n for e in und for n in e}
    want = {
        (a, b, c)
        for a, b, c in combinations(sorted(nodes), 3)
        if (a, b) in und and (a, c) in und and (b, c) in und
    }
    assert got == want


@given(
    words=st.dictionaries(
        st.text(alphabet="abc", min_size=1, max_size=6),
        st.integers(1, 9),
        min_size=1,
        max_size=12,
    ),
    n=st.integers(1, 5),
)
@SETTINGS
def test_bpe_train_matches_reference(spark, words, n):
    from event_streaming_spark.operators.bpe import bpe_train
    from tests.test_bpe import ref_bpe_train

    df = spark.createDataFrame([(w, c) for w, c in words.items()], "word string, wc long")
    assert bpe_train(df, n) == ref_bpe_train(words, n)


@given(
    a=st.sets(st.integers(0, 400), min_size=0, max_size=60),
    b=st.sets(st.integers(0, 400), min_size=0, max_size=60),
)
@SETTINGS
def test_theta_unsaturated_exact_on_random_sets(spark, tmp_path_factory, a, b):
    """Below k the estimator must be EXACT on any overlap structure."""
    from event_streaming_spark.plans.scale_ops3 import sketch_theta_set_ops_users

    tmp = tmp_path_factory.mktemp("theta-prop")
    rows = [(u, "view") for u in a] + [(u, "purchase") for u in b]
    if not rows:
        rows = [(0, "click")]  # neither set present → all-zero estimates
    df = spark.createDataFrame(rows, "user_id long, event_type string").select(
        F.monotonically_increasing_id().alias("event_id"),
        F.current_timestamp().alias("ts"),
        "user_id",
        "event_type",
        F.lit(1.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    df.write.mode("overwrite").parquet(str(tmp / "events.parquet"))
    r = sketch_theta_set_ops_users(spark, str(tmp)).first()
    assert r["est_viewers"] == len(a)
    assert r["est_purchasers"] == len(b)
    assert r["est_union"] == len(a | b)
    assert r["est_intersection"] == len(a & b)


@given(
    texts=st.lists(
        st.lists(st.sampled_from("red blue green gold iron wolf moon star".split()),
                 min_size=3, max_size=12).map(" ".join),
        min_size=2,
        max_size=10,
    )
)
@SETTINGS
def test_ppjoin_matches_bruteforce_on_random_corpora(spark, tmp_path_factory, texts):
    from event_streaming_spark.operators.similarity import shingle_hashes
    from event_streaming_spark.plans.scale_ops3 import docs_prefix_filter_jaccard_join

    tmp = tmp_path_factory.mktemp("ppjoin-prop")
    rows = [(i, t, "en", "s0", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp / "documents.parquet"))
    got = {
        (r["doc_a"], r["doc_b"], r["n_common"], r["na"], r["nb"])
        for r in docs_prefix_filter_jaccard_join(spark, str(tmp)).collect()
    }
    sets = {
        r["doc_id"]: set(r["hs"])
        for r in spark.read.parquet(str(tmp / "documents.parquet"))
        .select("doc_id", shingle_hashes(F.col("text")).alias("hs"))
        .collect()
    }
    want = set()
    ids = sorted(sets)
    for i in ids:
        for j in ids:
            if i < j and sets[i] and sets[j]:
                inter = len(sets[i] & sets[j])
                if 3 * inter >= len(sets[i]) + len(sets[j]):  # J >= 1/2
                    want.add((i, j, inter, len(sets[i]), len(sets[j])))
    assert got == want


@given(
    vals=st.lists(st.integers(0, 1000), min_size=1, max_size=120),
    n_files=st.integers(1, 6),
    bounds=st.tuples(st.integers(0, 1000), st.integers(0, 1000)),
)
@SETTINGS
def test_zonemap_pruned_read_matches_full_filter(
    spark, tmp_path_factory, vals, n_files, bounds
):
    from event_streaming_spark.operators import zonemap as Z

    lo, hi = min(bounds), max(bounds)
    tmp = tmp_path_factory.mktemp("zm-prop")
    path = str(tmp / "t")
    df = spark.createDataFrame([(v,) for v in vals], "k long")
    Z.write_clustered(df, path, "k", n_files)
    zm = Z.zone_map(spark, path, "k")
    pruned, n_read, n_total = Z.pruned_read(spark, path, zm, "k", lo, hi)
    got = sorted(r["k"] for r in pruned.collect())
    want = sorted(v for v in vals if lo <= v <= hi)
    assert got == want
    assert n_read <= n_total


def test_global_rank_invariant_to_bucket_count(spark):
    """r4: bucket count is data-driven (shuffle conf / size estimate) —
    the ASSIGNED row numbers must be identical at any bucket count."""
    from pyspark.sql import functions as F

    from event_streaming_spark.operators.ranks import (
        _n_buckets,
        with_global_cumsum,
        with_global_row_number,
    )

    rows = [((i * 13) % 40, i, (i % 5) + 1) for i in range(300)]
    df = spark.createDataFrame(rows, "k INT, uid INT, v INT").repartition(8)
    order = [F.asc("k"), F.asc("uid")]

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    results = []
    try:
        for n in ("3", "17", "64"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            assert _n_buckets(df) >= int(n)
            got, total = with_global_row_number(df, order, "rn")
            assert total == 300
            results.append({(r["uid"], r["rn"]) for r in got.collect()})
            cs, tv = with_global_cumsum(df, order, "v", "cs")
            results.append({(r["uid"], r["cs"]) for r in cs.collect()})
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert results[0] == results[2] == results[4]
    assert results[1] == results[3] == results[5]


def test_n_buckets_scales_with_conf_and_caps(spark):
    from event_streaming_spark.operators.ranks import (
        _MAX_BUCKETS,
        _SIZE_HEADROOM,
        _n_buckets,
    )

    df = spark.range(100)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "555")
        n = _n_buckets(df)
        assert 555 <= n <= _MAX_BUCKETS
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_n_buckets_distrusts_garbage_size_estimates(spark):
    """r4: Catalyst's post-join size estimates can be off by many orders
    of magnitude (4.9e24 bytes measured inside events_mad_outliers); the
    estimate may raise the bucket count only a bounded multiple above
    the configured parallelism."""
    from pyspark.sql import functions as F

    from event_streaming_spark.operators.ranks import _SIZE_HEADROOM, _n_buckets

    a = spark.range(3000).withColumn("k", F.col("id") % 7)
    b = spark.range(3000).withColumn("k", F.col("id") % 7)
    # joins multiply estimates; chain two to make it explode
    big = a.join(b, "k").join(b.withColumnRenamed("id", "id2"), "k")
    base = max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    assert _n_buckets(big) <= _SIZE_HEADROOM * base


@pytest.mark.filterwarnings("error::event_streaming_spark.operators.fixpoint.NotConverged")
def test_bfs_layers_matches_bruteforce(spark):
    """r4: frontier-join BFS equals single-machine BFS on random graphs,
    at any max_depth, including unreachable nodes (absent) and seeds in
    no edge (dist 0)."""
    import collections
    import random

    from event_streaming_spark.operators.graph import bfs_layers

    rnd = random.Random(17)
    n = 60
    edges = sorted({(rnd.randrange(n), rnd.randrange(n)) for _ in range(90)})
    edges = [(a, b) for a, b in edges if a != b]
    seeds = [0, 7, 55]
    for depth in (1, 3, 6):
        adj = collections.defaultdict(set)
        for a, b in edges:
            adj[a].add(b)
            adj[b].add(a)
        dist = {s: 0 for s in seeds}
        frontier = list(seeds)
        for d in range(1, depth + 1):
            nxt = []
            for u in frontier:
                for v in adj[u]:
                    if v not in dist:
                        dist[v] = d
                        nxt.append(v)
            frontier = nxt
        sdf = spark.createDataFrame([(s,) for s in seeds], "node INT")
        edf = spark.createDataFrame(edges, "a INT, b INT")
        got = {
            (r["node"], r["dist"])
            for r in bfs_layers(sdf, edf, max_depth=depth).collect()
        }
        assert got == set(dist.items()), depth


def test_k_core_matches_bruteforce(spark):
    """r4: distributed peeling equals single-machine k-core on random
    graphs for several k, including empty cores and full-graph cores."""
    import collections
    import random

    from event_streaming_spark.operators.graph import k_core

    rnd = random.Random(23)
    edges = sorted({(rnd.randrange(40), rnd.randrange(40)) for _ in range(120)})
    edges = [(a, b) for a, b in edges if a != b]

    def ref_core(k):
        adj = collections.defaultdict(set)
        for a, b in edges:
            adj[a].add(b)
            adj[b].add(a)
        changed = True
        while changed:
            changed = False
            for n in list(adj):
                if len(adj[n]) < k:
                    for m in adj.pop(n):
                        adj[m].discard(n)
                    changed = True
        return {n for n, nb in adj.items() if nb}

    edf = spark.createDataFrame(edges, "a INT, b INT")
    for k in (1, 2, 3, 5, 40):
        got = {r["node"] for r in k_core(edf, k).collect()}
        assert got == ref_core(k), k


@pytest.mark.filterwarnings("error::event_streaming_spark.operators.fixpoint.NotConverged")
def test_sssp_bounded_matches_bruteforce(spark):
    """r4s3: full-relaxation Bellman-Ford equals single-machine
    hop-bounded shortest paths on random weighted graphs — including
    the early-exit path (converged before the round budget) and
    zero-weight edges."""
    import random

    from event_streaming_spark.operators.graph import sssp_bounded

    rnd = random.Random(23)
    n = 40
    edges = sorted({(rnd.randrange(n), rnd.randrange(n)) for _ in range(70)})
    edges = [(a, b, rnd.choice([0, 1, 3, 10])) for a, b in edges if a != b]
    seeds = [0, 11]
    for rounds in (1, 3, 8):
        # brute force: R rounds of full relaxation over both directions
        und = edges + [(b, a, w) for a, b, w in edges]
        dist = {s: 0 for s in seeds}
        for _ in range(rounds):
            new = dict(dist)
            for a, b, w in und:
                if a in dist and dist[a] + w < new.get(b, float("inf")):
                    new[b] = dist[a] + w
            dist = new
        sdf = spark.createDataFrame([(s,) for s in seeds], "node INT")
        edf = spark.createDataFrame(edges, "a INT, b INT, w INT")
        got = {
            (r["node"], r["dist"])
            for r in sssp_bounded(sdf, edf, rounds=rounds).collect()
        }
        assert got == set(dist.items()), rounds


def test_k_core_round_exhaustion_filters_under_k_nodes(spark):
    """r5 ADVICE: when max_rounds runs out before the peeling fixpoint,
    the fallback must not return nodes whose degree is < k in the
    surviving subgraph (a silently wrong 'k-core').  Path graph, k=2:
    the true 2-core is empty; after one round only the endpoints are
    peeled, and the old fallback returned all eight interior nodes
    including the two new degree-1 endpoints."""
    from event_streaming_spark.operators.fixpoint import NotConverged
    from event_streaming_spark.operators.graph import k_core

    edges = [(i, i + 1) for i in range(9)]  # path 0-1-...-9
    edf = spark.createDataFrame(edges, "a INT, b INT")
    # running out of rounds is declared, not silent
    with pytest.warns(NotConverged, match="kcore"):
        got = {r["node"] for r in k_core(edf, 2, max_rounds=1).collect()}
    # round 0 peeled {0, 9}; nodes 1 and 8 now have degree 1 and must be
    # filtered by the final degree pass
    assert got == set(range(2, 8))
    # One-sided guarantee (r6, VERDICT r5 #4): the exhaustion fallback is
    # an OVER-approximation — a superset of the exact k-core (here empty),
    # NOT a subset: one filter pass != the peeling fixpoint on this graph,
    # so the fallback keeps 6 nodes the exact core excludes.
    true_core: set[int] = set()  # a path has no 2-core
    assert got >= true_core and got != true_core
    # and with enough rounds the exact (empty) 2-core comes back
    assert k_core(edf, 2).count() == 0


def test_connected_components_string_node_ids(spark):
    """r6 review: the old SUM-based convergence probe returned NULL for
    non-numeric node ids, so `NULL == NULL` broke the loop after ONE
    round and a 3-chain got the wrong label.  The checksum probe must
    label string graphs exactly."""
    from event_streaming_spark.operators.components import connected_components

    nodes = spark.createDataFrame([("a",), ("b",), ("c",), ("z",)], "n STRING")
    edges = spark.createDataFrame([("a", "b"), ("b", "c")], "x STRING, y STRING")
    got = {r["node"]: r["component"] for r in connected_components(nodes, edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "z": "z"}


def test_components_star_contract_matches_propagation(spark):
    """r6 review: the star variant dropped endpoints that appear only in
    EDGES and could emit duplicate conflicting rows on iteration
    exhaustion.  Contract now: one row per node (nodes ∪ endpoints),
    same labels as propagation."""
    from event_streaming_spark.operators.components import (
        connected_components,
        connected_components_star,
    )

    nodes = spark.createDataFrame([(1,), (2,)], "n INT")  # 3,4 only in edges
    edges = spark.createDataFrame([(1, 3), (3, 4)], "x INT, y INT")
    prop = {(r["node"], r["component"]) for r in connected_components(nodes, edges).collect()}
    star_rows = connected_components_star(nodes, edges).collect()
    star = {(r["node"], r["component"]) for r in star_rows}
    assert len(star_rows) == len({r["node"] for r in star_rows})  # unique per node
    assert star == prop == {(1, 1), (2, 2), (3, 1), (4, 1)}
    # exhaustion short of the fixpoint still yields ONE row per node, and
    # is declared
    from event_streaming_spark.operators.fixpoint import NotConverged

    with pytest.warns(NotConverged, match="ccstar"):
        exhausted = connected_components_star(nodes, edges, max_iters=1).collect()
    assert len(exhausted) == len({r["node"] for r in exhausted})


def test_with_group_rank_keeps_null_groups(spark):
    """r6 review: the bounds equi-join silently dropped NULL-group rows;
    the window form it replaces keeps NULL as its own partition."""
    from event_streaming_spark.operators.ranks import with_group_rank

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), (None, 5), (None, 3)], "g STRING, v INT"
    )
    out = with_group_rank(df, "g", "v").collect()
    assert len(out) == 4
    nulls = sorted((r["v"], r["rv"]) for r in out if r["g"] is None)
    assert nulls == [(3, 1), (5, 2)] and all(
        r["n"] == 2 for r in out if r["g"] is None
    )


def test_shingles_short_docs_empty_and_lsh_null_strict(spark, duck):
    """r6 review: docs with <k tokens crashed shingles() (Spark's
    implicit descending sequence produced slice(toks, 0, k)); and NULL
    minhash components hashed through concat_ws into ONE shared LSH
    bucket while DuckDB's || propagated NULL.  Contract now: short docs
    shingle to [], their band hashes are NULL on BOTH engines, and they
    are never LSH candidates."""
    from event_streaming_spark.functions.hashing import shingles
    from event_streaming_spark.operators import similarity as S

    df = spark.createDataFrame(
        [(1, "one"), (2, "two words"), (3, "three tokens here now"), (4, ""), (5, None)],
        "doc_id LONG, text STRING",
    )
    sh = {r["doc_id"]: r["s"] for r in df.select("doc_id", shingles(F.col("text"), 3).alias("s")).collect()}
    assert sh[1] == [] and sh[2] == [] and sh[4] == []
    assert len(sh[3]) == 2
    # r6 review follow-up: NULL text propagates NULL (the DuckDB twin's
    # string_split(NULL) yields NULL, not []) — size(NULL)=-1 used to fall
    # into the empty-array branch and diverge for raw-shingle consumers.
    assert sh[5] is None
    assert duck.sql("SELECT string_split(NULL, ' ') IS NULL").fetchone()[0] is True
    # band hashes: NULL for shingle-less docs (null-strict concat)
    hs = df.select("doc_id", S.shingle_hashes(F.col("text")).alias("hs"))
    sig = hs.select("doc_id", F.array(*S.minhash_cols(F.col("hs"))).alias("sig"))
    bands = sig.select("doc_id", *S.band_hashes_over(F.col("sig")))
    got = {r["doc_id"]: [r[i] for i in range(1, 1 + S.LSH_BANDS)] for r in bands.collect()}
    assert all(b is None for b in got[1]) and all(b is None for b in got[4])
    assert all(b is not None for b in got[3])
    # DuckDB twin agrees: short docs' band hashes are NULL there too
    rel = duck.sql(
        "SELECT md5(cast(NULL as varchar) || ',' || '1') IS NULL AS strict"
    ).fetchone()
    assert rel[0] is True


def test_salted_broadcast_left_rejects_outer_joins(spark):
    """r6 review: replicating the small side once per salt duplicates
    unmatched small-side rows under right/full outer joins."""
    import pytest as _pytest

    from event_streaming_spark.operators.skew import salted_broadcast_left

    big = spark.createDataFrame([(1, "a")], "k INT, v STRING")
    small = spark.createDataFrame([(1, "x"), (2, "y")], "k INT, w STRING")
    with _pytest.raises(ValueError, match="duplicate"):
        salted_broadcast_left(big, small, "k", how="full")
    # the safe modes still work and de-duplicate correctly
    assert salted_broadcast_left(big, small, "k", how="inner").count() == 1


def test_triangles_on_string_node_ids(spark):
    """r6 review: the arithmetic middle-node trick (sum minus min minus
    max) raised under ANSI mode for string ids; the CASE form must
    enumerate the triangle for any orderable type."""
    from event_streaming_spark.operators.graph import triangles

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")], "doc_a STRING, doc_b STRING"
    )
    got = [tuple(r) for r in triangles(edges).collect()]
    assert got == [("a", "b", "c")]


def test_mg_rescan_fails_loudly_when_capacity_too_small(spark):
    """text_heavy_hitters_mg_rescan must PROVE completeness per run: with
    a capacity too small for the corpus the survival bound N/(cap+1)
    cannot clear the top-5 floor and the query must raise, never return
    a silently-approximate top-5."""
    import pytest

    import event_streaming_spark.plans.llm_text as lt

    old = lt._MG_CAPACITY
    lt._MG_CAPACITY = 1
    try:
        with pytest.raises(AssertionError, match="cannot prove top-5"):
            from event_streaming_spark.plans import REGISTRY

            REGISTRY["text_heavy_hitters_mg_rescan"].fn(
                spark, "/root/testdata/sf0.001"
            )
    finally:
        lt._MG_CAPACITY = old


@given(
    batches=st.lists(
        st.dictionaries(
            st.sampled_from([f"t{i}" for i in range(12)]),
            st.integers(min_value=1, max_value=50),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=6,
    ),
    capacity=st.integers(min_value=1, max_value=6),
)
@settings(max_examples=200, deadline=None)
def test_mg_merge_bound_and_capacity_invariants(batches, capacity):
    """Misra-Gries merge invariants under arbitrary batch sequences:
    (1) the counter set never exceeds the capacity; (2) every term's
    UNDERCOUNT (true count − stored count, 0 if dropped) is at most the
    sum of returned decrements — the exact bound the streaming drain's
    completeness proof relies on; (3) stored counts never exceed true
    counts (MG never overcounts)."""
    from collections import Counter

    from event_streaming_spark.streaming.state import mg_merge

    terms: list = []
    counts: list = []
    true: Counter = Counter()
    dec_total = 0
    for b in batches:
        true.update(b)
        terms, counts, dec = mg_merge(terms, counts, b, capacity)
        dec_total += dec
        assert len(terms) <= capacity
    stored = dict(zip(terms, counts))
    for t, n in true.items():
        s = stored.get(t, 0)
        assert 0 < s <= n or s == 0
        assert n - s <= dec_total, (t, n, s, dec_total)


@given(left=st.lists(row, min_size=1, max_size=12), right=st.lists(row, max_size=12))
@SETTINGS
def test_asof_join_nearest_matches_bruteforce(spark, left, right):
    """Nearest as-of semantics against a brute-force reference: minimum
    absolute gap; exact-distance ties resolve backward; among several
    right rows at the matched instant the backward leg picks the
    greatest tie value and the forward leg the least."""
    from event_streaming_spark.operators.joins import asof_join_nearest

    lrows = [(r[0], r[1], i) for i, r in enumerate(left)]
    rrows = [(r[0], r[1], 1000 + i) for i, r in enumerate(right)]
    ldf = spark.createDataFrame(lrows, "k INT, us LONG, lid INT")
    rdf = (
        spark.createDataFrame(rrows, "k INT, us LONG, rid INT")
        if rrows
        else spark.createDataFrame([], "k INT, us LONG, rid INT")
    )
    out = asof_join_nearest(
        ldf, rdf, on="us", by=["k"], value_cols=["rid"], gap_col="gap"
    )
    got = {r["lid"]: (r["rid"], r["gap"]) for r in out.collect()}

    for k, us, lid in lrows:
        cands = [(rus, rid) for (rk, rus, rid) in rrows if rk == k]
        if not cands:
            assert got[lid] == (None, None), (lid, got[lid])
            continue
        back = [(rus, rid) for rus, rid in cands if rus <= us]
        fwd = [(rus, rid) for rus, rid in cands if rus >= us]
        b = max(back)[0] if back else None          # nearest earlier instant
        f = min(fwd)[0] if fwd else None            # nearest later instant
        if b is not None and (f is None or (us - b) <= (f - us)):
            want_us = b
            want_rid = max(rid for rus, rid in cands if rus == want_us)
        else:
            want_us = f
            want_rid = min(rid for rus, rid in cands if rus == want_us)
        assert got[lid] == (want_rid, want_us - us), (lid, got[lid], want_rid)


# ---------------------------------------------------------------------------
# Invariants of the round-8 tranche 13-17 statistical operators.  The
# differential oracle already pins exact values; these pin the
# MATHEMATICAL contracts that survive any refactor of either side.
# ---------------------------------------------------------------------------


def test_km_curve_invariants(spark):
    """S(t) is a survival curve: within [0,1], non-increasing in t;
    at-risk counts non-increasing; conversions never exceed at-risk."""
    from event_streaming_spark.plans import REGISTRY
    from tests.conftest import SF_SMALL

    rows = REGISTRY["events_survival_km_purchase"].fn(spark, SF_SMALL).collect()
    assert rows, "empty curve"
    prev_s, prev_n = 1.0, float("inf")
    for r in rows:
        assert 0.0 <= r["s_hat"] <= 1.0
        assert r["s_hat"] <= prev_s + 1e-9, "S(t) increased"
        assert r["n_risk"] <= prev_n, "at-risk count increased"
        assert 0 < r["d_conv"] <= r["n_risk"]
        prev_s, prev_n = r["s_hat"], r["n_risk"]


def test_markov_attribution_invariants(spark):
    """Removal effects are non-negative (deleting a channel cannot raise
    absorption under the shared floor-div iteration) and shares are a
    ppm partition: each in [0, 1e6], summing to ≤ 1e6 (floor losses)."""
    from event_streaming_spark.plans import REGISTRY
    from tests.conftest import SF_SMALL

    rows = REGISTRY["events_attribution_markov_removal"].fn(spark, SF_SMALL).collect()
    assert rows
    total_share = 0
    for r in rows:
        assert r["removal_effect_ppm"] >= 0
        assert 0 <= r["attribution_share_ppm"] <= 1_000_000
        total_share += r["attribution_share_ppm"]
    assert total_share <= 1_000_000


def test_bootstrap_ci_brackets_point_estimate(spark):
    """The bootstrap interval is ordered and brackets the point mean
    (B=100 Poisson resamples of a 6k-row fixture can't miss the mean)."""
    from event_streaming_spark.plans import REGISTRY
    from tests.conftest import SF_SMALL

    r = REGISTRY["events_bootstrap_ci_value_mean"].fn(spark, SF_SMALL).collect()[0]
    assert r["ci_low"] <= r["ci_high"]
    assert r["ci_low"] <= r["mean_value"] <= r["ci_high"]
    assert r["n_resamples"] == 100


def test_wilson_interval_contains_p_hat(spark):
    """Wilson bounds are ordered, inside [0,1], and contain p̂."""
    from event_streaming_spark.plans import REGISTRY
    from tests.conftest import SF_SMALL

    rows = REGISTRY["events_wilson_ci_purchase_share"].fn(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["wilson_low"] <= r["p_hat"] <= r["wilson_high"] <= 1.0


def test_stl_components_reconstruct_series(spark):
    """trend + seasonal + residual == observed count (to the rounding
    grain) on every full-window day."""
    from event_streaming_spark.plans import REGISTRY
    from tests.conftest import SF_SMALL

    rows = REGISTRY["events_stl_decompose_daily"].fn(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        recon = r["trend"] + r["seasonal"] + r["residual"]
        assert abs(recon - r["n_events"]) < 2e-6, (r["day"], recon, r["n_events"])
