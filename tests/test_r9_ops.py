"""Targeted tests for the round-9 operators.

* The BPE-oracle string identity: the unrolled DuckDB oracle applies a
  merge as ``replace()`` on '||'-delimited symbol strings; this must
  equal the reference leftmost non-overlapping merge for EVERY symbol
  sequence, or the hash gate on ``text_bpe_train_merges`` /
  ``text_bpe_fertility_by_lang`` is pinned to a coincidence.  Property
  test over randomized sequences, checked against the independent
  pure-Python merge from tests/test_bpe.py.
* Personalized PageRank: teleport restricted to seeds — structural
  invariants on a hand graph (isolated non-seed decays to 0, isolated
  seed keeps full rank, mass concentrates near seeds), plus engine
  parity with the SQL twin on the same tiny graph via DuckDB.
* Binary sign signature: hand-checked bit layout (sign bit = dim 1).
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tests.test_bpe import _ref_merge

# --- the replace()-on-delimited-strings identity ---------------------------


def _delim(syms: list[str]) -> str:
    return "||" + "||".join(syms) + "||" if syms else "||"


def _sql_merge(w: str, left: str, right: str) -> str:
    # exactly the oracle's round step (plans/scale._bpe_chain_parts)
    return w.replace(f"|{left}||{right}|", f"|{left}{right}|")


@settings(max_examples=300, deadline=None)
@given(
    st.lists(st.sampled_from(["a", "b", "c", "ab", "bc"]), min_size=1, max_size=12),
    st.sampled_from(["a", "b", "c", "ab", "bc"]),
    st.sampled_from(["a", "b", "c", "ab", "bc"]),
)
def test_bpe_replace_identity(syms, left, right):
    merged = _ref_merge(syms, left, right)
    assert _sql_merge(_delim(syms), left, right) == _delim(merged)


def test_bpe_replace_identity_edges():
    # consecutive merge sites both fire; overlapping ones don't
    assert _sql_merge(_delim(["a", "b", "a", "b"]), "a", "b") == _delim(["ab", "ab"])
    assert _sql_merge(_delim(["a", "a", "a"]), "a", "a") == _delim(["aa", "a"])
    # no cross-symbol false match: symbol "xa" + "b" must not merge (a, b)
    assert _sql_merge(_delim(["xa", "b"]), "a", "b") == _delim(["xa", "b"])


# --- personalized PageRank --------------------------------------------------


@pytest.fixture(scope="module")
def tiny_ppr(spark):
    from event_streaming_spark.operators.graph import ppr_integer

    # seeds: 0; chain 0-1-2; isolated non-seed 3; isolated seed 4
    nodes = spark.createDataFrame(
        [(0, 1), (1, 0), (2, 0), (3, 0), (4, 1)], "node long, is_seed int"
    )
    edges = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    out = ppr_integer(nodes, edges, iters=4)
    return {r["node"]: (r["is_seed"], r["pr_scaled"]) for r in out.collect()}


def test_ppr_structure(tiny_ppr):
    from event_streaming_spark.operators.graph import BASE, SCALE

    # isolated non-seed: no teleport, no in-edges -> decays to exactly 0
    assert tiny_ppr[3] == (0, 0)
    # isolated seed: no in-edges, so after the first round its rank is
    # exactly the teleport fixpoint BASE (and stays there)
    assert tiny_ppr[4] == (1, BASE)
    # the seed's component keeps positive mass everywhere reachable
    assert tiny_ppr[0][1] > 0 and tiny_ppr[1][1] > 0 and tiny_ppr[2][1] > 0
    # everything bounded by the initial seed mass scale
    assert all(v[1] <= 2 * SCALE for v in tiny_ppr.values())


def test_ppr_sql_parity(spark, tiny_ppr):
    from event_streaming_spark.operators.graph import sql_ppr_integer

    sql = sql_ppr_integer(
        "SELECT * FROM (VALUES (0, 1), (1, 0), (2, 0), (3, 0), (4, 1))"
        " AS t(node, is_seed)",
        "SELECT * FROM (VALUES (0, 1), (1, 2)) AS e(src, dst)",
        iters=4,
    )
    got = {r[0]: (r[1], r[2]) for r in duckdb.sql(sql).fetchall()}
    assert got == tiny_ppr


# --- binary sign signature ---------------------------------------------------


def test_binary_sign_bit_layout(spark):
    from pyspark.sql import functions as F

    from event_streaming_spark.plans.llm import _BSQ_SIGN

    # dim 1 positive -> sign bit; dim 64 positive -> bit 0
    vq = [0] * 64
    vq[0], vq[63] = 5, 7
    df = spark.createDataFrame([(0, vq)], "vec_id long, vq array<long>")
    x = df.select("vec_id", F.posexplode("vq").alias("pos0", "v"))
    bit = F.when(
        F.col("v") > 0,
        F.when(F.col("pos0") == 0, F.lit(_BSQ_SIGN).cast("long")).otherwise(
            F.expr("shiftleft(1L, 63 - pos0)")
        ),
    ).otherwise(F.lit(0).cast("long"))
    sig = x.groupBy("vec_id").agg(F.sum(bit).cast("long").alias("s")).first()["s"]
    assert sig == _BSQ_SIGN + 1  # sign bit + lowest bit
