"""Focused pins for the r12 loop optimizations: CC per-step change-count
convergence, and the single-reference pagerank/ppr recurrence with
unmaterialized middle iterations."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from event_streaming_spark.operators.components import connected_components
from event_streaming_spark.operators.graph import (
    BASE,
    DAMP_DEN,
    DAMP_NUM,
    SCALE,
    pagerank_integer,
    ppr_integer,
)


def _cc(spark, nodes, edges):
    n = spark.createDataFrame([(x,) for x in nodes], "id long")
    e = spark.createDataFrame(edges or [(None, None)], "a long, b long")
    if not edges:
        e = e.limit(0)
    out = connected_components(n, e)
    return {r["node"]: r["component"] for r in out.collect()}


def test_cc_path_graph_deep_chain(spark):
    # diameter-9 chain: exercises several double-step rounds and the
    # change-count stop on both parities
    nodes = list(range(10))
    edges = [(i, i + 1) for i in range(9)]
    assert _cc(spark, nodes, edges) == {i: 0 for i in range(10)}


def test_cc_multi_component_and_isolates(spark):
    nodes = [1, 2, 3, 10, 11, 20]
    edges = [(1, 2), (2, 3), (10, 11)]
    got = _cc(spark, nodes, edges)
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20}


def test_cc_no_edges_identity(spark):
    # change-count must stop after ONE round on an edgeless graph
    assert _cc(spark, [5, 7], []) == {5: 5, 7: 7}


def test_cc_converges_at_odd_step(spark):
    # a single edge converges after step 1 of round 0; the round's
    # second step must observe zero changes and stop immediately
    assert _cc(spark, [3, 4], [(3, 4)]) == {3: 3, 4: 3}


def _pr_reference(nodes, edges, iters, seeds=None):
    """Driver-side unrolled exact-integer recurrence (the oracle's shape)."""
    bidir = set()
    for a, b in edges:
        bidir.add((a, b))
        bidir.add((b, a))
    outdeg = {}
    for s, _ in bidir:
        outdeg[s] = outdeg.get(s, 0) + 1
    if seeds is None:
        r = {v: SCALE for v in nodes}
    else:
        r = {v: (SCALE if v in seeds else 0) for v in nodes}
    for _ in range(iters):
        s = {}
        for u, v in bidir:
            if u in r and outdeg.get(u):
                s[v] = s.get(v, 0) + r[u] // outdeg[u]
        if seeds is None:
            r = {v: BASE + (DAMP_NUM * s.get(v, 0)) // DAMP_DEN for v in nodes}
        else:
            r = {
                v: (BASE if v in seeds else 0)
                + (DAMP_NUM * s.get(v, 0)) // DAMP_DEN
                for v in nodes
            }
    return r


@pytest.mark.parametrize("iters", [1, 3, 5])
@pytest.mark.filterwarnings("error::event_streaming_spark.operators.fixpoint.NotConverged")
def test_pagerank_matches_unrolled_recurrence(spark, iters):
    # iters=5 crosses the _PR_CHUNK=4 boundary (one mid-chain pin)
    nodes = list(range(6))
    edges = [(0, 1), (1, 2), (2, 0), (3, 4)]  # triangle + edge + isolate 5
    n = spark.createDataFrame([(x,) for x in nodes], "id long")
    e = spark.createDataFrame(edges, "a long, b long")
    got = {
        r["node"]: r["pr_scaled"]
        for r in pagerank_integer(n, e, iters=iters).collect()
    }
    assert got == _pr_reference(nodes, edges, iters)


@pytest.mark.filterwarnings("error::event_streaming_spark.operators.fixpoint.NotConverged")
def test_ppr_matches_unrolled_recurrence(spark):
    nodes = list(range(5))
    seeds = {0, 3}
    edges = [(0, 1), (1, 2), (3, 4)]
    n = spark.createDataFrame(
        [(x, 1 if x in seeds else 0) for x in nodes], "node long, is_seed int"
    )
    e = spark.createDataFrame(edges, "a long, b long")
    got = {
        r["node"]: r["pr_scaled"] for r in ppr_integer(n, e, iters=4).collect()
    }
    assert got == _pr_reference(nodes, edges, 4, seeds=seeds)


def test_mad_outliers_window_identity_edge_shapes(spark, tmp_path):
    """events_mad_outliers now derives the MAD's order statistics from the
    value rank skeleton (k-closest contiguous-window identity) — pin the
    identity on shapes the fixtures don't cover: n=1, n=2, heavy ties,
    odd/even group sizes."""
    import math

    from event_streaming_spark.plans import REGISTRY

    rows = (
        [("solo", 3.25)]
        + [("pair", 1.0), ("pair", 2.0)]
        + [("ties", v) for v in [5.0, 5.0, 5.0, 1.0, 9.0]]
        + [("odd", v) for v in [1.0, 2.0, 4.0, 8.0, 16.0, 32.0, 64.0]]
        + [("even", v) for v in [0.5, 1.5, 1.5, 2.5, 10.0, -3.0]]
    )
    df = spark.createDataFrame(rows, "event_type string, value double")
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))

    def ref(vals):
        v6 = sorted(round(x * 1e6) for x in vals)
        n = len(v6)
        k1, f = ((n - 1) * 50) // 100, ((n - 1) * 50) % 100
        med = v6[k1] * (100 - f) + (v6[k1 + 1] if k1 + 1 < n else v6[k1]) * f
        d8 = sorted(abs(100 * x - med) for x in v6)
        mad = d8[k1] * (100 - f) + (d8[k1 + 1] if k1 + 1 < n else d8[k1]) * f
        n_out = sum(1 for d in d8 if d * 100 > 3 * mad)
        return (n, round(med / 1e8, 6), round(mad / 1e10, 6), n_out)

    got = {
        r["event_type"]: (r["n"], r["med_value"], r["mad_value"], r["n_outliers"])
        for r in REGISTRY["events_mad_outliers"].fn(spark, str(tmp_path)).collect()
    }
    want = {}
    for t, v in rows:
        want.setdefault(t, []).append(v)
    want = {t: ref(vs) for t, vs in want.items()}
    for t in want:
        assert got[t][0] == want[t][0], (t, got[t], want[t])
        assert math.isclose(got[t][1], want[t][1], abs_tol=1e-9), (t, got[t], want[t])
        assert math.isclose(got[t][2], want[t][2], abs_tol=1e-9), (t, got[t], want[t])
        assert got[t][3] == want[t][3], (t, got[t], want[t])
