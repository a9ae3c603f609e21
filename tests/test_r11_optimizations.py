"""Round-11 optimization-specific regression tests.

Covers the operator internals the optimization round changed:

* ``functions/localframe.local_frame`` — the Arrow-side replacement for
  ``spark.createDataFrame(list, schema)`` must reproduce the pickle
  path's VALUES exactly (None/date/string/long/array cells, dict rows,
  empty input, pandas passthrough) — only the transport may differ.
* ``operators/components.connected_components`` — the two-steps-per-
  materialized-round loop + observed-metric convergence checksum must
  still produce the exact min-reachable-id labeling, including on a
  long PATH graph (the worst case for propagation rounds) and on
  graphs with isolated nodes.
* ``operators/components.connected_components_star`` — same contract
  under the observed-metric checksum.
* ``operators/graph.triangles`` — the pinned (materialized) edge
  intermediates must not change the enumerated triangle set.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from event_streaming_spark.functions.localframe import local_frame
from event_streaming_spark.operators.components import (
    connected_components,
    connected_components_star,
)
from event_streaming_spark.operators.fixpoint import NotConverged
from event_streaming_spark.operators.graph import triangles


# ---------------------------------------------------------------------------
# local_frame
# ---------------------------------------------------------------------------


def test_local_frame_matches_createdataframe_values(spark):
    rows = [
        (1, "a", datetime.date(2024, 1, 1), [1, 2, 3], 1.5),
        (2, None, None, [], None),
        (None, "c", datetime.date(2024, 2, 2), None, float("nan")),
    ]
    schema = "k long, s string, d date, xs array<long>, v double"
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema

    def norm(df):
        out = []
        for r in sorted(df.collect(), key=lambda r: (r["k"] is None, r["k"])):
            v = r["v"]
            out.append(
                (r["k"], r["s"], r["d"], r["xs"], "nan" if v is not None and v != v else v)
            )
        return out

    assert norm(got) == norm(want)


def test_local_frame_empty_and_dict_rows(spark):
    empty = local_frame(spark, [], "a long, b string")
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == ["a", "b"]
    assert [f.dataType.simpleString() for f in empty.schema.fields] == ["bigint", "string"]

    got = local_frame(
        spark, [{"b": "x", "a": 7}, {"a": None, "b": None}], "a long, b string"
    )
    assert sorted(got.collect(), key=str) == sorted(
        spark.createDataFrame([(7, "x"), (None, None)], "a long, b string").collect(),
        key=str,
    )


def test_local_frame_pandas_passthrough(spark):
    pd = pytest.importorskip("pandas")
    pdf = pd.DataFrame({"t": ["x", "y"], "n": [1, 2]})
    got = local_frame(spark, pdf, "t string, n long")
    assert {(r["t"], r["n"]) for r in got.collect()} == {("x", 1), ("y", 2)}


def test_local_frame_plan_has_no_python_leg(spark):
    """The whole point: the produced plan must not evaluate through a
    Python worker (PythonRDD).  The Arrow path lands as a JVM RDD; the
    debug lineage string of the pickle path names PythonRDD."""
    df = local_frame(spark, [(1,), (2,)], "x long")
    lineage = df.rdd.toDebugString().decode()
    assert "PythonRDD" not in lineage.split("\n")[0]


# ---------------------------------------------------------------------------
# connected components (double-step loop + observed checksum)
# ---------------------------------------------------------------------------


def _labels(df):
    return {(r["node"], r["component"]) for r in df.collect()}


def test_cc_path_graph_converges_to_min_label(spark):
    # path 0-1-2-...-19: one component labeled 0; plus isolated node 99
    n = 20
    nodes = local_frame(spark, [(i,) for i in range(n)] + [(99,)], "node long")
    edges = local_frame(spark, [(i, i + 1) for i in range(n - 1)], "a long, b long")
    got = _labels(connected_components(nodes, edges))
    want = {(i, 0) for i in range(n)} | {(99, 99)}
    assert got == want
    # run past its safety cap, the loop says its answer is best-effort
    with pytest.warns(NotConverged, match="cc-labels: no fixpoint after 1 rounds"):
        connected_components(nodes, edges, max_iters=1).collect()


def test_cc_two_components_and_star_agree(spark):
    rows = [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10)]
    nodes = local_frame(
        spark, [(i,) for i in (1, 2, 3, 10, 11, 12, 50)], "node long"
    )
    edges = local_frame(spark, rows, "a long, b long")
    want = {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (12, 10), (50, 50)}
    assert _labels(connected_components(nodes, edges)) == want
    assert _labels(connected_components_star(nodes, edges)) == want


# ---------------------------------------------------------------------------
# triangles (pinned intermediates)
# ---------------------------------------------------------------------------


def test_triangles_enumeration_unchanged(spark):
    # K4 on {1,2,3,4} (4 triangles) + a pendant edge + a disjoint triangle
    edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges += [(4, 9), (20, 21), (21, 22), (22, 20)]
    df = local_frame(spark, edges, "doc_a long, doc_b long")
    got = {(r["n1"], r["n2"], r["n3"]) for r in triangles(df).collect()}
    want = {
        (1, 2, 3),
        (1, 2, 4),
        (1, 3, 4),
        (2, 3, 4),
        (20, 21, 22),
    }
    assert got == want
