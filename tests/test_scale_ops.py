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


def test_hll_estimate_accuracy(spark):
    """m=64 registers → standard error ≈ 1.04/√64 = 13%; assert the
    estimate lands within 3σ of a 10k-key exact count."""
    from event_streaming_spark.operators.sketches import hll_estimate

    df = spark.range(10_000).select(F.col("id"))
    est = hll_estimate(df, F.col("id")).collect()[0]["hll_estimate"]
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


# ---------------------------------------------------------------------------
# streaming HLL (mergeable registers)
# ---------------------------------------------------------------------------


def test_streaming_hll_equals_batch_hll(spark, tmp_path):
    """Three micro-batches of register appends must finalize to the
    EXACT batch estimate over the union — max-merge is lossless."""
    from event_streaming_spark.operators.sketches import hll_estimate
    from event_streaming_spark.streaming.sketches import HllStreamingSketch

    src = str(tmp_path / "src")
    full = spark.range(9000).select((F.col("id") * 7919 % 100000).alias("k"))
    # three files → three micro-batches with maxFilesPerTrigger=1
    for i in range(3):
        full.filter(F.col("id") % 3 == i).coalesce(1).write.mode("append").parquet(src)

    sk = HllStreamingSketch(spark, str(tmp_path / "regs"), "k")
    stream = (
        spark.readStream.schema("k long").option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = sk.sink(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    batch_est = hll_estimate(full, F.col("k")).collect()[0]["hll_estimate"]
    assert sk.estimate() == batch_est

    def log_rows():
        return (
            spark.read.option("recursiveFileLookup", "true").parquet(sk.path).count()
        )

    # replay: re-running the stream over the same source adds nothing
    n_log = log_rows()
    q2 = sk.sink(
        spark.readStream.schema("k long").option("maxFilesPerTrigger", 1).parquet(src),
        str(tmp_path / "ckpt"),
    )
    q2.awaitTermination(120)
    assert log_rows() == n_log

    # replay with the LEDGER lost (crash between publish and mark): the
    # published batch dirs themselves dedupe — still no growth
    import shutil as _sh

    _sh.rmtree(str(tmp_path / "ckpt"))
    q3 = sk.sink(
        spark.readStream.schema("k long").option("maxFilesPerTrigger", 1).parquet(src),
        str(tmp_path / "ckpt"),
    )
    q3.awaitTermination(120)
    assert log_rows() == n_log

    # compaction folds the log without changing the estimate
    sk.compact()
    assert log_rows() <= 64
    assert sk.estimate() == batch_est


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


def test_streaming_count_min_equals_batch(spark, tmp_path):
    from event_streaming_spark.operators.sketches import count_min_lookup, count_min_table
    from event_streaming_spark.streaming.sketches import CountMinStreamingSketch

    src = str(tmp_path / "cmsrc")
    full = spark.range(12000).select((F.col("id") % 321).alias("k"))
    for i in range(3):
        full.filter(F.col("id") % 3 == i).coalesce(1).write.mode("append").parquet(src)

    sk = CountMinStreamingSketch(spark, str(tmp_path / "cmregs"), "k")
    q = sk.sink(
        spark.readStream.schema("k long").option("maxFilesPerTrigger", 1).parquet(src),
        str(tmp_path / "cmckpt"),
    )
    q.awaitTermination(120)

    keys = full.select(F.col("k").cast("string").alias("kk")).distinct()
    stream_est = {r["kk"]: r["cm_estimate"] for r in sk.lookup(keys, "kk").collect()}
    batch_cm = count_min_table(full, F.col("k"))
    batch_est = {
        r["kk"]: r["cm_estimate"]
        for r in count_min_lookup(batch_cm, keys, "kk").collect()
    }
    assert stream_est == batch_est


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
    from event_streaming_spark.operators.sketches import hll_estimate, sql_hll_estimate

    df = spark.createDataFrame(
        [(i,) for i in range(200)] + [(None,)] * 5, "k int"
    )
    spark_est = hll_estimate(df, F.col("k")).collect()[0]["hll_estimate"]
    duck.sql("CREATE OR REPLACE TABLE _hllnull AS SELECT * FROM (VALUES " +
             ", ".join(f"({i})" for i in range(200)) + ", (NULL), (NULL), (NULL), (NULL), (NULL)) t(k)")
    duck_est = duck.sql(sql_hll_estimate("k", "_hllnull")).fetchone()[0]
    assert spark_est == duck_est


@pytest.mark.parametrize("sketch", ["HllStreamingSketch", "ThetaStreamingSketch"])
def test_streaming_hll_compact_crash_recovery(spark, tmp_path, sketch):
    import os as _os
    import shutil as _shutil

    from event_streaming_spark.streaming import sketches

    sk = getattr(sketches, sketch)(spark, str(tmp_path / "regs"), "k")
    # seed the log directly with the rows a batch appends (no stream
    # needed for this test)
    from event_streaming_spark.functions.hashing import stable_hash32
    from event_streaming_spark.operators.sketches import hll_registers
    from pyspark.sql import functions as _F

    keys = spark.range(5000).select(_F.col("id").alias("k"))
    if sketch == "HllStreamingSketch":
        rows = hll_registers(keys, _F.col("k"))
    else:
        theta_key = _F.concat(_F.lit("theta|"), _F.col("k").cast("string"))
        rows = keys.select(stable_hash32(theta_key).alias("h"))
    rows.write.mode("append").parquet(sk.path)
    est = sk.estimate()
    # simulate a crash between compact()'s two renames: live path moved
    # to ._old, replacement never landed
    _os.rename(sk.path, sk.path + "._old")
    assert not _os.path.isdir(sk.path)
    assert sk.estimate() == est  # _recover restored the log
    # stale ._compacting garbage is swept as well
    _shutil.copytree(sk.path, sk.path + "._compacting")
    assert sk.estimate() == est
    assert not _os.path.isdir(sk.path + "._compacting")


def test_streaming_grouped_hll_windowed_distinct(spark, tmp_path):
    """Segmented streaming distinct: per-day distinct users accumulated
    across micro-batches must equal the batch grouped estimate — the
    'distinct users per window' streaming metric with O(m·days) state."""
    from event_streaming_spark.operators.sketches import hll_estimate_by
    from event_streaming_spark.streaming.sketches import HllStreamingSketch

    src = str(tmp_path / "gsrc")
    full = spark.range(6000).select(
        (F.col("id") % 7).alias("day"), (F.col("id") * 13 % 900).alias("user")
    )
    for i in range(3):
        full.filter(F.col("id") % 3 == i).coalesce(1).write.mode("append").parquet(src)

    sk = HllStreamingSketch(
        spark, str(tmp_path / "gregs"), "user", group_cols=["day"]
    )
    q = sk.sink(
        spark.readStream.schema("day long, user long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        str(tmp_path / "gck"),
    )
    q.awaitTermination(120)

    streamed = {r["day"]: r["hll_estimate"] for r in sk.estimates().collect()}
    batch = {
        r["grp"]: r["hll_estimate"]
        for r in hll_estimate_by(full, F.col("day"), F.col("user")).collect()
    }
    assert streamed == batch and len(streamed) == 7


def test_bloom_rejects_ragged_bit_count(spark):
    with pytest.raises(ValueError):
        bloom_semi_join(
            spark.range(5).toDF("k"), spark.range(2).toDF("k"), "k", num_bits=100
        )


def test_streaming_count_min_replay_with_lost_ledger_does_not_inflate(spark, tmp_path):
    """CM merge is ADDITION, so a double-appended batch would corrupt
    counts.  The publish rename doubles as the idempotency mark, so even
    a lost ledger (crash between publish and mark) cannot double-count."""
    import shutil as _sh

    from event_streaming_spark.operators.sketches import count_min_lookup, count_min_table
    from event_streaming_spark.streaming.sketches import CountMinStreamingSketch

    src = str(tmp_path / "cmr-src")
    full = spark.range(6000).select((F.col("id") % 211).alias("k"))
    for i in range(2):
        full.filter(F.col("id") % 2 == i).coalesce(1).write.mode("append").parquet(src)
    sk = CountMinStreamingSketch(spark, str(tmp_path / "cmr-log"), "k")
    ckpt = str(tmp_path / "cmr-ckpt")

    def run():
        q = sk.sink(
            spark.readStream.schema("k long").option("maxFilesPerTrigger", 1).parquet(src),
            ckpt,
        )
        q.awaitTermination(120)

    run()
    _sh.rmtree(ckpt)  # ledger gone; batch ids 0,1 replay from scratch
    run()
    keys = full.select(F.col("k").cast("string").alias("kk")).distinct()
    stream_est = {r["kk"]: r["cm_estimate"] for r in sk.lookup(keys, "kk").collect()}
    batch_est = {
        r["kk"]: r["cm_estimate"]
        for r in count_min_lookup(count_min_table(full, F.col("k")), keys, "kk").collect()
    }
    assert stream_est == batch_est  # exactly the batch sketch — no inflation


def test_hll_finalize_empty_input_is_zero(spark, duck):
    from event_streaming_spark.operators.sketches import (
        hll_estimate,
        hll_finalize,
        hll_registers,
        sql_hll_estimate,
    )

    empty = spark.range(0).select(F.col("id").alias("k"))
    assert hll_estimate(empty, F.col("k")).collect()[0]["hll_estimate"] == 0.0
    # finalize over an empty register set directly
    regs = hll_registers(empty, F.col("k"))
    assert hll_finalize(regs).collect()[0]["hll_estimate"] == 0.0
    # SQL twin agrees
    duck.sql("CREATE OR REPLACE TABLE _hllempty (k BIGINT)")
    assert duck.sql(sql_hll_estimate("k", "_hllempty")).fetchone()[0] == 0.0


def test_streaming_hll_estimate_on_empty_log_batches(spark, tmp_path):
    """A stream whose batches contain only NULL keys produces registers
    for nothing; estimate() must come back 0.0, not crash on NULL."""
    from event_streaming_spark.operators.sketches import hll_registers
    from event_streaming_spark.streaming.sketches import HllStreamingSketch

    sk = HllStreamingSketch(spark, str(tmp_path / "regs0"), "k")
    # seed an EMPTY register file (what an all-NULL batch appends)
    hll_registers(
        spark.createDataFrame([(None,)], "k string"), F.col("k")
    ).write.mode("append").parquet(sk.path)
    assert sk.estimate() == 0.0


@pytest.mark.parametrize(
    "sketch", ["HllStreamingSketch", "CountMinStreamingSketch", "ThetaStreamingSketch"]
)
def test_streaming_sketch_with_no_published_batch_reads_as_empty(spark, tmp_path, sketch):
    """A log no batch has published to (a drain that saw no input; a
    crash before the first publish left only the directory) reads as the
    batch sketch over zero rows, not PATH_NOT_FOUND."""
    import os as _os

    from event_streaming_spark.operators.sketches import (
        count_min_table,
        hll_finalize,
        hll_registers,
    )
    from event_streaming_spark.streaming import sketches

    sk = getattr(sketches, sketch)(spark, str(tmp_path / "log"), "k")
    none = spark.createDataFrame([], "k string")
    for _ in ("no directory", "empty directory"):
        if sketch == "HllStreamingSketch":
            assert sk.registers().collect() == []
            empty_est = hll_finalize(hll_registers(none, F.col("k"))).collect()[0][0]
            assert sk.estimate() == float(empty_est)
        elif sketch == "CountMinStreamingSketch":
            assert sk.table().collect() == count_min_table(none, F.col("k")).collect() == []
            keys = spark.createDataFrame([("a",), ("b",)], "k string")
            assert {r["cm_estimate"] for r in sk.lookup(keys, "k").collect()} == {0}
        else:
            assert sk.hashes().collect() == []
            assert sk.estimate() == 0
        _os.makedirs(sk.path, exist_ok=True)


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


def test_streaming_theta_equals_batch_and_set_ops(spark, tmp_path):
    """The streamed bottom-k state must reproduce the exact distinct
    count while unsaturated, and two sketches must answer set ops."""
    from event_streaming_spark.streaming.sketches import ThetaStreamingSketch

    src_a, src_b = str(tmp_path / "a"), str(tmp_path / "b")
    # |A|=200 (0..199), |B|=150 (100..249) → |A∩B|=100, |A∪B|=250
    a = spark.range(0, 200).select(F.col("id").alias("k"))
    b = spark.range(100, 250).select(F.col("id").alias("k"))
    for i in range(2):  # two micro-batches each
        a.filter(F.col("id") % 2 == i).coalesce(1).write.mode("append").parquet(src_a)
        b.filter(F.col("id") % 2 == i).coalesce(1).write.mode("append").parquet(src_b)

    ska = ThetaStreamingSketch(spark, str(tmp_path / "ska"), "k")
    skb = ThetaStreamingSketch(spark, str(tmp_path / "skb"), "k")
    for sk, src, ck in ((ska, src_a, "cka"), (skb, src_b, "ckb")):
        stream = (
            spark.readStream.schema("k long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        sk.sink(stream, str(tmp_path / ck)).awaitTermination(120)

    assert ska.estimate() == 200   # < k=256 → exact
    assert skb.estimate() == 150
    ops = ska.set_ops(skb)
    assert ops == {
        "est_a": 200,
        "est_b": 150,
        "est_union": 250,
        "est_intersection": 100,
    }
    # compact folds the log to <= k rows without changing anything
    ska.compact()
    assert ska.estimate() == 200
    assert ska.set_ops(skb)["est_intersection"] == 100

    # replay: re-running over the same source must not change state
    stream = (
        spark.readStream.schema("k long").option("maxFilesPerTrigger", 1).parquet(src_a)
    )
    ska.sink(stream, str(tmp_path / "cka2")).awaitTermination(120)
    assert ska.estimate() == 200


def test_streaming_theta_saturated_accuracy(spark, tmp_path):
    """Past k the estimator is approximate: 3-RSE accuracy bound."""
    from event_streaming_spark.streaming.sketches import ThetaStreamingSketch

    src = str(tmp_path / "src")
    spark.range(5000).select((F.col("id") * 104729 % 1000000).alias("k")).coalesce(
        2
    ).write.parquet(src)
    sk = ThetaStreamingSketch(spark, str(tmp_path / "sk"), "k", k=256)
    stream = (
        spark.readStream.schema("k long").option("maxFilesPerTrigger", 1).parquet(src)
    )
    sk.sink(stream, str(tmp_path / "ck")).awaitTermination(120)
    est = sk.estimate()
    assert abs(est - 5000) / 5000 < 0.20
