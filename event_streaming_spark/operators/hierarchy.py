"""Hierarchy resolution by pointer doubling (recursive-CTE analogue).

Spark has no recursive CTE; walking a parent chain one level per join
needs O(depth) shuffles.  Pointer doubling (path halving — the classic
PRAM list-ranking trick) squares the jump length every round: after
round r each node points 2^r steps up, so a depth-d hierarchy resolves
in ceil(log2 d) rounds — 20 shuffle rounds for a million-deep chain.

Per round: self-join of the pointer table on ``ptr = node`` (both sides
partition on the same key) + accumulate the hop distance.  Roots
(parent = self or NULL) carry a fixed point, so converged nodes pass
through unchanged; the convergence metric is the count of unresolved
nodes, observed on the round's pin (operators/fixpoint.py).

The DuckDB oracle for queries built on this is a plain WITH RECURSIVE
walk — one definition of the hierarchy, two traversal strategies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from event_streaming_spark.operators.fixpoint import Round, iterate
from event_streaming_spark.operators.materialize import materialize


def resolve_to_root(
    parents: DataFrame, node_col: str, parent_col: str, max_rounds: int = 40
) -> DataFrame:
    """``(node, root, depth)`` for every node in a parent-pointer table.

    ``parents`` holds one row per node; roots point to themselves (or
    NULL, normalized here).  ``depth`` = #edges to the root.
    """
    f = parents.select(
        F.col(node_col).alias("node"),
        F.coalesce(F.col(parent_col), F.col(node_col)).alias("ptr"),
    )
    f = materialize(
        f.select(
            "node",
            "ptr",
            F.when(F.col("ptr") == F.col("node"), F.lit(0)).otherwise(F.lit(1)).alias("dist"),
            (F.col("ptr") == F.col("node")).alias("done"),
        ),
        "hier-frame",
    )

    def step(f: DataFrame, _rnd: int) -> Round:
        g = f.select(
            F.col("node").alias("g_node"),
            F.col("ptr").alias("g_ptr"),
            F.col("dist").alias("g_dist"),
            F.col("done").alias("g_done"),
        )
        nxt = f.join(g, f.ptr == g.g_node, "left").select(
            "node",
            F.when(F.col("done"), F.col("ptr")).otherwise(F.col("g_ptr")).alias("ptr"),
            F.when(F.col("done"), F.col("dist"))
            .otherwise(F.col("dist") + F.col("g_dist"))
            .alias("dist"),
            (F.col("done") | F.col("g_done")).alias("done"),
        )
        pending = F.sum((~F.col("done")).cast("long")).alias("pending")
        return Round(nxt, pending, lambda m: not m["pending"])

    f = iterate("hier-frame", f, step, max_rounds=max_rounds, bound="cap")
    return f.select("node", F.col("ptr").alias("root"), F.col("dist").alias("depth"))
