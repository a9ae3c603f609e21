"""Operator-level tests for the scale-technique tranche.

(The four catalog queries in plans/scale.py are additionally
differential-tested against DuckDB by tests/test_catalog.py.)
"""

from __future__ import annotations

import random

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from event_streaming_spark.operators.components import (
    connected_components,
    connected_components_star,
)
from event_streaming_spark.operators.joins import bloom_semi_join
from event_streaming_spark.operators.layout import cluster_by_zorder, zorder_key


# ---------------------------------------------------------------------------
# star-contraction connected components
# ---------------------------------------------------------------------------


def _brute_components(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # fully compress, then label = min of component (find with path halving
    # toward min root already yields min since we union by min)
    return {x: find(x) for x in range(n_nodes)}


def test_star_cc_long_chain(spark):
    """A 300-node path: diameter 299.  Label propagation needs ~300
    rounds; star contraction must finish within its 60-round cap."""
    n = 300
    nodes = spark.range(n).toDF("id")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["a", "b"]
    )
    out = connected_components_star(nodes, edges).collect()
    assert len(out) == n
    assert all(r["component"] == 0 for r in out)


def test_star_cc_matches_label_propagation(spark):
    """Random sparse graph: both CC implementations and a driver-side
    union-find must agree exactly."""
    rng = random.Random(7)
    n = 120
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(90)]
    edges = [(a, b) for a, b in edges if a != b]
    nodes = spark.range(n).toDF("id")
    edf = spark.createDataFrame(edges, ["a", "b"])
    star = {
        r["node"]: r["component"]
        for r in connected_components_star(nodes, edf).collect()
    }
    prop = {
        r["node"]: r["component"]
        for r in connected_components(nodes, edf).collect()
    }
    brute = _brute_components(n, edges)
    assert star == brute
    assert prop == brute


# ---------------------------------------------------------------------------
# bloom semi join
# ---------------------------------------------------------------------------


def test_bloom_semi_join_exact_matches_plain_semi(spark):
    probe = spark.range(0, 5000).select(
        (F.col("id") % 997).alias("k"), F.col("id").alias("payload")
    )
    build = spark.range(0, 120).select((F.col("id") * 13).alias("k"))
    got = bloom_semi_join(probe, build, "k")
    want = probe.join(build.distinct(), "k", "left_semi")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_bloom_prefilter_thins_probe_side(spark):
    """exact=False returns a superset of the true matches whose size is
    close to them — i.e. the Bloom layer really discards non-matches
    map-side instead of passing everything to the join."""
    probe = spark.range(0, 20000).select((F.col("id") % 10007).alias("k"))
    build = spark.range(0, 50).select((F.col("id") * 101).alias("k"))
    thinned = bloom_semi_join(probe, build, "k", num_bits=1 << 16, exact=False)
    exact = probe.join(build, "k", "left_semi")
    n_thin, n_exact, n_all = thinned.count(), exact.count(), probe.count()
    assert n_exact <= n_thin  # no false negatives, ever
    # fpp at m=65536, n=50, k=5 is ~0: allow a generous 2% of the probe
    assert n_thin <= n_exact + 0.02 * n_all


def test_bloom_filter_is_jvm_side_and_pre_join(spark):
    probe = spark.range(0, 100).select((F.col("id")).alias("k"))
    build = spark.range(0, 10).select((F.col("id") * 3).alias("k"))
    explained = bloom_semi_join(probe, build, "k")._jdf.queryExecution().toString()
    # the k bit-tests are element_at lookups into the broadcast literal —
    # present in the optimized plan as a Filter, not a Python eval
    assert "element_at" in explained
    assert "BatchEvalPython" not in explained and "ArrowEvalPython" not in explained


# ---------------------------------------------------------------------------
# z-order layout
# ---------------------------------------------------------------------------


def _py_interleave(x, y, bits=16):
    z = 0
    for i in range(bits):
        z |= ((x >> i) & 1) << (2 * i + 1)
        z |= ((y >> i) & 1) << (2 * i)
    return z


def test_zorder_key_matches_python_reference(spark):
    rows = [(i * 37 % 65536, i * 101 % 65536) for i in range(200)]
    df = spark.createDataFrame(rows, ["x", "y"]).withColumn(
        "z", zorder_key(["x", "y"])
    )
    for r in df.collect():
        assert r["z"] == _py_interleave(r["x"], r["y"])


def test_zorder_clustering_tightens_file_stats(spark, tmp_path):
    """Write the same 2-D data unclustered and z-clustered; per-file
    min/max envelopes (what parquet pruning uses) must cover far less
    area after clustering — that's the entire point of the layout."""
    n = 20000
    df = spark.range(n).select(
        F.pmod(F.xxhash64("id"), F.lit(4096)).alias("x"),
        F.pmod(F.xxhash64("id", F.lit(1)), F.lit(4096)).alias("y"),
    )
    plain_dir, z_dir = str(tmp_path / "plain"), str(tmp_path / "zorder")
    df.repartition(8).write.parquet(plain_dir)
    cluster_by_zorder(df, ["x", "y"], bits_per_col=12, num_files=8).write.parquet(
        z_dir
    )

    def area(path):
        total = 0
        ds = pq.ParquetDataset(path)
        for frag in ds.fragments:
            md = frag.metadata
            xs, ys = [], []
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    col = g.column(ci)
                    name = col.path_in_schema
                    st = col.statistics
                    if name == "x":
                        xs += [st.min, st.max]
                    elif name == "y":
                        ys += [st.min, st.max]
            total += (max(xs) - min(xs)) * (max(ys) - min(ys))
        return total

    # random layout: every file spans ~the full 4096² square (8× total).
    # z-order: files tile the square, so summed area ≈ 1× the square.
    assert area(z_dir) < area(plain_dir) / 3


def test_zorder_rejects_overflow():
    with pytest.raises(ValueError):
        zorder_key(["a", "b", "c", "d"], bits_per_col=16)


# ---------------------------------------------------------------------------
# deterministic sketches
# ---------------------------------------------------------------------------


def _hll_estimate(df, key: str) -> float:
    """The global (ungrouped) HLL estimate of ``df[key]``."""
    from event_streaming_spark.operators.sketches import hll_finalize_by, hll_registers_by

    regs = hll_registers_by(df, [], F.col(key))
    return hll_finalize_by(regs, []).collect()[0]["hll_estimate"]


def test_hll_estimate_accuracy(spark):
    """m=64 registers → standard error ≈ 1.04/√64 = 13%; assert the
    estimate lands within 3σ of a 10k-key exact count."""
    df = spark.range(10_000).select(F.col("id"))
    est = _hll_estimate(df, "id")
    assert abs(est - 10_000) / 10_000 < 0.4


def test_count_min_never_underestimates(spark):
    from event_streaming_spark.operators.sketches import (
        count_min_lookup,
        count_min_table,
    )

    df = spark.range(30_000).select(F.pmod(F.xxhash64("id"), F.lit(500)).alias("k"))
    cm = count_min_table(df, F.col("k"))
    true = df.groupBy(F.col("k").cast("string").alias("kk")).agg(
        F.count(F.lit(1)).alias("t")
    )
    est = count_min_lookup(cm, true.select("kk"), "kk")
    joined = true.join(est, "kk").collect()
    assert len(joined) == 500
    assert all(r["cm_estimate"] >= r["t"] for r in joined)
    # width=256 for 500 keys: collisions exist but the min-over-d rows
    # keeps inflation bounded; median inflation should be modest
    infl = sorted(r["cm_estimate"] / r["t"] for r in joined)
    assert infl[len(infl) // 2] < 3.0
    # an empty input's table is empty, and every key estimates 0 there
    empty_cm = count_min_table(spark.createDataFrame([], "k string"), F.col("k"))
    assert empty_cm.collect() == []
    keys = spark.createDataFrame([("a",), ("b",)], "kk string")
    assert {r["cm_estimate"] for r in count_min_lookup(empty_cm, keys, "kk").collect()} == {0}


# ---------------------------------------------------------------------------
# pointer-doubling hierarchy
# ---------------------------------------------------------------------------


def test_pointer_doubling_deep_chain(spark):
    """A 500-deep parent chain must resolve in ≤ ceil(log2 500)+1 = 10
    doubling rounds (the operator caps at 40; one-level-per-round would
    need 500)."""
    from event_streaming_spark.operators.hierarchy import resolve_to_root

    n = 500
    parents = spark.createDataFrame(
        [(i, max(i - 1, 0)) for i in range(n)], ["node", "parent"]
    )
    out = {r["node"]: (r["root"], r["depth"]) for r in
           resolve_to_root(parents, "node", "parent", max_rounds=12).collect()}
    assert out[0] == (0, 0)
    assert out[n - 1] == (0, n - 1)
    assert all(out[i] == (0, i) for i in range(0, n, 97))
    # capped at one round, far short of resolving: a declared best-effort answer
    from event_streaming_spark.operators.fixpoint import NotConverged

    with pytest.warns(NotConverged, match="hier-frame: no fixpoint after 1 rounds"):
        assert resolve_to_root(parents, "node", "parent", max_rounds=1).count() == n


def test_pointer_doubling_forest_with_null_roots(spark):
    from event_streaming_spark.operators.hierarchy import resolve_to_root

    rows = [(1, None), (2, 1), (3, 1), (4, 2), (10, None), (11, 10)]
    parents = spark.createDataFrame(rows, "node int, parent int")
    out = {r["node"]: (r["root"], r["depth"]) for r in
           resolve_to_root(parents, "node", "parent").collect()}
    assert out == {1: (1, 0), 2: (1, 1), 3: (1, 1), 4: (1, 2), 10: (10, 0), 11: (10, 1)}


# ---------------------------------------------------------------------------
# integer PageRank
# ---------------------------------------------------------------------------


def _py_pagerank(n, edges, iters=3, directed=False):
    from event_streaming_spark.operators.graph import BASE, DAMP_DEN, DAMP_NUM, SCALE

    adj = set(edges)
    if not directed:
        adj |= {(b, a) for a, b in edges}
    out = {}
    for a, b in adj:
        out.setdefault(a, set()).add(b)
    r = {v: SCALE for v in range(n)}
    for _ in range(iters):
        s = {v: 0 for v in range(n)}
        for u, nbrs in out.items():
            c = r[u] // len(nbrs)
            for v in nbrs:
                s[v] += c
        r = {v: BASE + (DAMP_NUM * s[v]) // DAMP_DEN for v in range(n)}
    return r


def test_pagerank_integer_matches_python_replica(spark):
    import random as _random

    from event_streaming_spark.operators.graph import pagerank_integer

    rng = _random.Random(11)
    n = 80
    edges = list(
        {(a, b) for a, b in ((rng.randrange(n), rng.randrange(n)) for _ in range(150)) if a != b}
    )
    nodes = spark.range(n).toDF("id")
    edf = spark.createDataFrame(edges, ["a", "b"])
    got = {r["node"]: r["pr_scaled"] for r in pagerank_integer(nodes, edf).collect()}
    want = _py_pagerank(n, edges)
    assert got == want


def test_pagerank_hub_outranks_leaves_and_singletons_get_base(spark):
    from event_streaming_spark.operators.graph import BASE, pagerank_integer

    # star: node 0 at the center of 1..9; node 10 isolated
    nodes = spark.range(11).toDF("id")
    edges = spark.createDataFrame([(0, i) for i in range(1, 10)], ["a", "b"])
    r = {x["node"]: x["pr_scaled"] for x in pagerank_integer(nodes, edges).collect()}
    assert r[0] > r[1] > BASE
    assert all(r[i] == r[1] for i in range(2, 10))
    assert r[10] == BASE


def test_bottomk_sample_is_partitioning_invariant(spark):
    from event_streaming_spark.operators.sketches import bottomk_quantile_sample

    base = spark.range(30000).select(
        (F.col("id") % 3).alias("g"), (F.col("id") * 31 % 997).alias("v"), F.col("id")
    )
    outs = []
    for parts in (1, 16):
        samp = bottomk_quantile_sample(
            base.repartition(parts), F.col("g"), F.col("v"), F.col("id"), k=32
        )
        outs.append(sorted(map(tuple, samp.collect())))
    assert outs[0] == outs[1]
    assert len(outs[0]) == 3 * 32


def test_bloom_semi_join_string_and_null_keys(spark):
    probe = spark.createDataFrame(
        [("a",), ("b",), (None,), ("c",), ("dd",)], "k string"
    )
    build = spark.createDataFrame([("a",), ("dd",), (None,)], "k string")
    got = sorted(r["k"] for r in bloom_semi_join(probe, build, "k").collect())
    want = sorted(
        r["k"] for r in probe.join(build.distinct(), "k", "left_semi").collect()
    )
    assert got == want == ["a", "dd"]  # NULL never equals NULL in a semi join


def test_hll_ignores_consistency_with_duckdb_on_null_keys(spark, duck):
    """NULL keys hash to NULL in BOTH engines (md5(NULL) = NULL), so the
    sketches stay bit-identical even with nulls present."""
    from event_streaming_spark.operators.sketches import sql_hll_estimate

    df = spark.createDataFrame(
        [(i,) for i in range(200)] + [(None,)] * 5, "k int"
    )
    spark_est = _hll_estimate(df, "k")
    duck.sql("CREATE OR REPLACE TABLE _hllnull AS SELECT * FROM (VALUES " +
             ", ".join(f"({i})" for i in range(200)) + ", (NULL), (NULL), (NULL), (NULL), (NULL)) t(k)")
    duck_est = duck.sql(sql_hll_estimate("k", "_hllnull")).fetchone()[0]
    assert spark_est == duck_est


def test_streaming_grouped_hll_windowed_distinct(spark):
    """Segmented streaming distinct: the per-day estimates drained from
    the windowed register stream must equal the batch grouped estimate
    over the same events — the 'distinct users per window' streaming
    metric with O(m·days) state."""
    from event_streaming_spark.operators.sketches import hll_estimate_by
    from event_streaming_spark.plans import REGISTRY
    from event_streaming_spark.plans.catalog import load
    from tests.conftest import SF_SMALL

    drained = REGISTRY["streaming_hll_distinct_drain"].fn(spark, SF_SMALL)
    streamed = {r["day"]: r["hll_users"] for r in drained.collect()}
    ev = load(spark, SF_SMALL, "events")
    batch = {
        r["grp"]: r["hll_estimate"]
        for r in hll_estimate_by(ev, F.to_date("ts"), F.col("user_id")).collect()
    }
    assert streamed == batch and len(streamed) > 1


def test_bloom_rejects_ragged_bit_count(spark):
    with pytest.raises(ValueError):
        bloom_semi_join(
            spark.range(5).toDF("k"), spark.range(2).toDF("k"), "k", num_bits=100
        )


def test_hll_finalize_empty_input_is_zero(spark, duck):
    """No input rows, no typed rows at all, and only NULL keys (an
    all-NULL batch): each gives an empty register set, and the
    ungrouped finalizer turns that into 0.0, not NULL."""
    from event_streaming_spark.operators.sketches import sql_hll_estimate

    empties = [
        spark.range(0).select(F.col("id").alias("k")),
        spark.createDataFrame([], "k string"),
        spark.createDataFrame([(None,)], "k string"),
    ]
    for empty in empties:
        assert _hll_estimate(empty, "k") == 0.0
    # SQL twin agrees
    duck.sql("CREATE OR REPLACE TABLE _hllempty (k BIGINT)")
    assert duck.sql(sql_hll_estimate("k", "_hllempty")).fetchone()[0] == 0.0
    duck.sql("INSERT INTO _hllempty VALUES (NULL), (NULL)")
    assert duck.sql(sql_hll_estimate("k", "_hllempty")).fetchone()[0] == 0.0


def test_bloom_semi_join_mixed_integral_key_dtypes(spark):
    """int probe vs bigint build used to hash to different bit positions
    (xxhash64 is type-sensitive) → silent false negatives.  Integral
    keys now canonicalize to long on both sides."""
    probe = spark.createDataFrame([(1,), (2,), (3,), (700,)], "k int")
    build = spark.range(1, 3).select(F.col("id").alias("k"))  # bigint
    got = sorted(r["k"] for r in bloom_semi_join(probe, build, "k").collect())
    assert got == [1, 2]
    # prefilter-only path must also retain all true matches
    loose = bloom_semi_join(probe, build, "k", exact=False)
    assert {1, 2} <= {r["k"] for r in loose.collect()}


def test_bloom_semi_join_refuses_incompatible_key_dtypes(spark):
    import pytest as _pytest

    probe = spark.createDataFrame([("1",), ("2",)], "k string")
    build = spark.range(3).select(F.col("id").alias("k"))
    with _pytest.raises(ValueError, match="dtype mismatch"):
        bloom_semi_join(probe, build, "k")


# -- group-rank / top-k primitives (operators/ranks.py) ----------------------


def _rank_fixture(spark):
    # 3 groups, skewed sizes, duplicate values, 40 partitions so groups
    # span many physical partitions (the condition the primitives target)
    rows = [("a", i % 17) for i in range(200)]
    rows += [("b", i % 5) for i in range(60)]
    rows += [("c", 42)]
    return spark.createDataFrame(rows, "g string, v long").repartition(40)


def test_with_group_rank_matches_naive_window(spark):
    from pyspark.sql.window import Window

    from event_streaming_spark.operators.ranks import with_group_rank

    df = _rank_fixture(spark)
    got = with_group_rank(df, "g", "v")
    naive = df.select(
        "g",
        "v",
        F.row_number().over(Window.partitionBy("g").orderBy("v")).alias("rv"),
        F.count(F.lit(1)).over(Window.partitionBy("g")).alias("n"),
    )
    # tie order is engine-arbitrary in BOTH forms; the invariant is that
    # the multiset of (g, v-at-rank, n) agrees — i.e. sorting by (g, rv)
    # yields the same value sequence.
    a = sorted((r["g"], r["rv"], r["v"], r["n"]) for r in got.collect())
    b = sorted((r["g"], r["rv"], r["v"], r["n"]) for r in naive.collect())
    assert a == b


def test_topk_per_group_matches_naive_window(spark):
    from pyspark.sql.window import Window

    from event_streaming_spark.operators.ranks import topk_per_group

    # unique tiebreak column so both plans are fully deterministic
    df = (
        spark.range(500)
        .select(
            (F.col("id") % 7).cast("string").alias("g"),
            (F.col("id") % 13).alias("v"),
            F.col("id").alias("tie"),
        )
        .repartition(40)
    )
    got = topk_per_group(df, "g", [F.desc("v"), F.asc("tie")], 4)
    w = Window.partitionBy("g").orderBy(F.desc("v"), F.asc("tie"))
    naive = df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 4)
    assert sorted(map(tuple, got.select("g", "v", "tie", "rn").collect())) == sorted(
        map(tuple, naive.select("g", "v", "tie", "rn").collect())
    )


def test_topk_per_group_k_larger_than_group(spark):
    from event_streaming_spark.operators.ranks import topk_per_group

    df = spark.createDataFrame([("a", 1), ("a", 2), ("b", 9)], "g string, v long")
    got = topk_per_group(df.repartition(8), "g", [F.asc("v")], 10)
    assert sorted((r["g"], r["v"], r["rn"]) for r in got.collect()) == [
        ("a", 1, 1),
        ("a", 2, 2),
        ("b", 9, 1),
    ]


def test_topk_per_group_limits_each_map_partition_before_the_group_shuffle(spark):
    """At the catalog's largest k the executed plan has ONE hash
    exchange, on the group, fed by a map-side ``WindowGroupLimit …
    Partial``: each of the 8 input partitions ships at most k rows per
    group, so no task receives a whole group.  A Spark upgrade, or a
    ``spark.sql.optimizer.windowGroupLimitThreshold`` below k, that drops
    the partial limit fails here."""
    import re

    from event_streaming_spark.operators.ranks import topk_per_group
    from event_streaming_spark.plans.curation import _ZIPF_TOPK

    df = (
        spark.range(5000)
        .select(
            (F.col("id") % 7).cast("string").alias("g"),
            (F.col("id") % 13).alias("v"),
            F.col("id").alias("tie"),
        )
        .repartition(8)
    )
    got = topk_per_group(df, "g", [F.desc("v"), F.asc("tie")], _ZIPF_TOPK)
    assert len(got.collect()) == 7 * _ZIPF_TOPK
    plan = got._jdf.queryExecution().executedPlan().toString()
    lines = plan.split("== Initial Plan ==")[0].splitlines()
    hashed = [i for i, line in enumerate(lines) if "Exchange hashpartitioning" in line]
    assert len(hashed) == 1, plan
    assert re.search(r"Exchange hashpartitioning\(g#\d+, ", lines[hashed[0]]), plan
    below = lines[hashed[0] + 1]
    assert "WindowGroupLimit [g#" in below and below.rstrip().endswith("Partial"), plan

