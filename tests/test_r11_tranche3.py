"""Hand-computed semantics tests for the round-11 tranche-3 operators
(the differential suite hash-gates them against DuckDB; these pin the
SEMANTICS on fixtures small enough to verify by hand).

* Shapley attribution: a 2-channel fixture whose lattice is enumerable
  on paper — exact φ·k! integers, the efficiency property, and the
  post-purchase / non-converting exclusions.
* mSPRT: identical arms ⇒ lnΛ < 0 and the always-valid p stays at
  ln p = 0; a 100-unit separation ⇒ rejection, with lnΛ equal to the
  closed-form mixture likelihood ratio computed in pure Python.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

SF_SMALL = "/root/testdata/sf0.001"


def _write_events(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, event_type string, value double"
    ).select(
        "event_id",
        F.to_timestamp("ts_s").alias("ts"),
        "user_id",
        "event_type",
        "value",
        F.lit("{}").alias("props"),
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    return str(tmp_path)


def test_shapley_two_channel_lattice_by_hand(spark, tmp_path):
    from event_streaming_spark.plans.events import events_attribution_shapley

    rows = [
        # u1: click, view before purchase; a view AFTER purchase (excluded)
        (1, "2024-01-01 10:00:00", 1, "click", 1.0),
        (2, "2024-01-01 10:05:00", 1, "view", 1.0),
        (3, "2024-01-01 10:10:00", 1, "purchase", 1.0),
        (4, "2024-01-01 10:20:00", 1, "view", 1.0),
        # u2: click only, then purchase
        (5, "2024-01-01 09:00:00", 2, "click", 1.0),
        (6, "2024-01-01 09:30:00", 2, "purchase", 1.0),
        # u3: never converts — no journey
        (7, "2024-01-01 11:00:00", 3, "view", 1.0),
    ]
    sf = _write_events(spark, tmp_path, rows)
    got = {r.channel: r for r in events_attribution_shapley(spark, sf).collect()}
    # channels: view freq 3 -> bit 0, click freq 2 -> bit 1; k = 2, k! = 2
    # masks: u1 {view,click} (the post-purchase view excluded), u2 {click}
    # v({view}) = 0, v({click}) = 1, v(K) = 2
    # phi_click*2! = 0!*1!*1 + 1!*0!*2 - 1!*0!*0 = 3
    # phi_view*2!  = 1!*0!*2 - 1!*0!*1 = 1   (efficiency: 3 + 1 = 2! * 2)
    assert set(got) == {"click", "view"}
    assert got["click"].shapley_num == 3
    assert got["view"].shapley_num == 1
    assert got["click"].k_factorial == 2
    assert got["click"].converted_journeys == 2
    assert got["click"].share_ppm == 750000
    assert got["view"].share_ppm == 250000


def test_shapley_efficiency_on_fixture(spark):
    from event_streaming_spark.plans.events import events_attribution_shapley

    rows = events_attribution_shapley(spark, SF_SMALL).collect()
    assert rows, "fixture has converting journeys"
    kf = rows[0].k_factorial
    vk = rows[0].converted_journeys
    # efficiency: sum of phi*k! over channels == k! * v(K), exactly
    assert sum(r.shapley_num for r in rows) == kf * vk
    assert all(r.shapley_num >= 0 for r in rows)  # monotone game


def test_msprt_identical_arms_never_rejects(spark, tmp_path):
    from event_streaming_spark.plans.events import events_msprt_always_valid

    rows = [
        # arm 0 (user 0) and arm 1 (user 1) see identical samples
        (1, "2024-01-01 01:00:00", 0, "view", 1.0),
        (2, "2024-01-01 02:00:00", 0, "view", 3.0),
        (3, "2024-01-01 01:00:00", 1, "view", 1.0),
        (4, "2024-01-01 02:00:00", 1, "view", 3.0),
        (5, "2024-01-02 01:00:00", 0, "view", 5.0),
        (6, "2024-01-02 02:00:00", 1, "view", 5.0),
    ]
    sf = _write_events(spark, tmp_path, rows)
    out = events_msprt_always_valid(spark, sf).collect()
    assert [str(r.day) for r in out] == ["2024-01-01", "2024-01-02"]
    for r in out:
        assert r.delta_mean == 0.0
        assert r.ln_lambda < 0.0  # mixture LR shrinks under H0
        assert r.ln_avp == 0.0  # always-valid p stays 1
        assert r.rejected == 0


def test_msprt_large_separation_rejects_with_closed_form(spark, tmp_path):
    from event_streaming_spark.plans.events import (
        _MSPRT_TAU2,
        events_msprt_always_valid,
    )

    rows = [
        (1, "2024-01-01 01:00:00", 0, "view", 1.0),
        (2, "2024-01-01 02:00:00", 0, "view", 2.0),
        (3, "2024-01-01 01:00:00", 1, "view", 101.0),
        (4, "2024-01-01 02:00:00", 1, "view", 102.0),
    ]
    sf = _write_events(spark, tmp_path, rows)
    (r,) = events_msprt_always_valid(spark, sf).collect()
    # per-arm sample variance 0.5, n = 2 -> V = 0.5; delta = 100
    vv, dd = 0.5, 100.0
    expect = round(
        0.5 * math.log(vv / (vv + _MSPRT_TAU2))
        + dd * dd * _MSPRT_TAU2 / (2.0 * vv * (vv + _MSPRT_TAU2)),
        6,
    )
    assert r.delta_mean == 100.0
    assert r.ln_lambda == expect
    assert r.ln_avp == -expect
    assert r.rejected == 1


def test_msprt_fixture_invariants(spark):
    from event_streaming_spark.plans.events import events_msprt_always_valid

    out = events_msprt_always_valid(spark, SF_SMALL).collect()
    assert len(out) == 30  # one row per fixture day
    # the always-valid p-value only ever decreases (running max of lnΛ)
    avps = [r.ln_avp for r in out]
    assert all(a >= b for a, b in zip(avps, avps[1:]))
    assert all(r.ln_avp <= 0.0 for r in out)
    # rejection is absorbing
    rej = [r.rejected for r in out]
    assert all(a <= b for a, b in zip(rej, rej[1:]))


def _write_embeddings(spark, tmp_path, rows):
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    df.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    return str(tmp_path)


def test_knn_reciprocity_complete_graph(spark, tmp_path):
    """6 nodes, k=5: every node lists all others, so every edge is mutual —
    reciprocity exactly 10^6 ppm, in-degree exactly k, no hubs."""
    from event_streaming_spark.plans.llm import emb_knn_graph_reciprocity

    rows = [
        (i, [float(1 + i), float(2 * i + 1), 0.5, float(i * i + 1)], i // 3)
        for i in range(6)
    ]
    sf = _write_embeddings(spark, tmp_path, rows)
    got = {r.label: r for r in emb_knn_graph_reciprocity(spark, sf).collect()}
    assert set(got) == {0, 1}
    for lab in (0, 1):
        r = got[lab]
        assert r.n_nodes == 3
        assert r.n_edges == 15
        assert r.recip_ppm == 1000000
        assert r.max_indegree == 5
        assert r.n_hubs == 0


def test_knn_reciprocity_fixture_invariants(spark):
    from event_streaming_spark.plans.llm import (
        _REC_K,
        emb_knn_graph_reciprocity,
    )

    rows = emb_knn_graph_reciprocity(spark, SF_SMALL).collect()
    assert rows
    for r in rows:
        # panel >> k at every SF, so every node emits exactly k edges
        assert r.n_edges == r.n_nodes * _REC_K
        assert 0 <= r.recip_ppm <= 1000000
        assert r.max_indegree >= 1


def test_market_basket_lift_by_hand(spark, tmp_path):
    from event_streaming_spark.plans.relational import orders_market_basket_lift

    parts = spark.createDataFrame(
        [(1, "BrandA"), (2, "BrandB"), (3, "BrandC")],
        "p_partkey long, p_brand string",
    )
    parts.write.mode("overwrite").parquet(str(tmp_path / "part.parquet"))
    li = []
    # 12 orders {A,B}, 4 {A}, 4 {B}; C co-occurs with A only 5x (< support)
    for o in range(12):
        li += [(o, 1), (o, 2)]
    for o in range(12, 16):
        li.append((o, 1))
    for o in range(16, 20):
        li.append((o, 2))
    for o in range(12, 17):
        li.append((o, 3))
    spark.createDataFrame(li, "l_orderkey long, l_partkey long").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "lineitem.parquet"))
    out = orders_market_basket_lift(spark, str(tmp_path)).collect()
    assert [(r.brand_a, r.brand_b) for r in out] == [("BrandA", "BrandB")]
    (r,) = out
    # N=20 orders, n_A=16, n_B=16, n_AB=12
    assert r.support_orders == 12
    assert r.conf_a_to_b_ppm == 750000  # 12/16
    assert r.lift_ppm == 937500  # 20*12/(16*16)


def test_market_basket_fixture_sanity(spark):
    from event_streaming_spark.plans.relational import (
        _MB_K,
        _MB_MIN_SUPPORT,
        orders_market_basket_lift,
    )

    rows = orders_market_basket_lift(spark, SF_SMALL).collect()
    assert 0 < len(rows) <= _MB_K
    assert all(r.support_orders >= _MB_MIN_SUPPORT for r in rows)
    lifts = [r.lift_ppm for r in rows]
    assert lifts == sorted(lifts, reverse=True)


def test_truncation_waste_curve_by_hand(spark, tmp_path):
    from event_streaming_spark.plans.curation import docs_truncation_waste_curve

    docs = spark.createDataFrame(
        [
            (0, " ".join(f"w{i}" for i in range(10)), "en", "srcx"),
            (1, " ".join(f"w{i}" for i in range(100)), "en", "srcx"),
        ],
        "doc_id long, text string, lang string, source string",
    ).withColumn("n_chars", F.length("text").cast("long"))
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {r.context_len: r for r in
           docs_truncation_waste_curve(spark, str(tmp_path)).collect()}
    assert set(out) == {64, 128, 256, 512}
    r64 = out[64]
    assert (r64.n_docs, r64.docs_over) == (2, 1)
    assert r64.docs_over_ppm == 500000
    assert r64.tokens_lost_ppm == 327273  # round(1e6 * 36 / 110)
    for L in (128, 256, 512):
        assert out[L].docs_over == 0
        assert out[L].tokens_lost_ppm == 0


def test_streaming_msprt_equals_batch(spark):
    from event_streaming_spark.plans.events import (
        events_msprt_always_valid,
        streaming_msprt_drain,
    )

    batch = [tuple(r) for r in events_msprt_always_valid(spark, SF_SMALL).collect()]
    stream = [tuple(r) for r in streaming_msprt_drain(spark, SF_SMALL).collect()]
    assert stream == batch


def test_doremi_weights_identical_sources_split_evenly(spark, tmp_path):
    from event_streaming_spark.plans.curation import (
        docs_doremi_excess_loss_weights,
    )

    text = "a b " * 16  # bigram-predictable, unigram-flat
    docs = spark.createDataFrame(
        [(0, text, "en", "src0"), (1, text, "en", "srcx")],
        "doc_id long, text string, lang string, source string",
    ).withColumn("n_chars", F.length("text").cast("long"))
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {r.source: r for r in
           docs_doremi_excess_loss_weights(spark, str(tmp_path)).collect()}
    assert set(got) == {"src0", "srcx"}
    for r in got.values():
        # the bigram model strictly beats the unigram on structured text
        assert r.h_bigram < r.h_unigram
        assert r.excess_fp6 > 0
        assert r.weight_ppm == 500000  # identical sources split evenly
    assert got["src0"].h_bigram == got["srcx"].h_bigram


def test_doremi_fixture_invariants(spark):
    from event_streaming_spark.plans.curation import (
        docs_doremi_excess_loss_weights,
    )

    rows = docs_doremi_excess_loss_weights(spark, SF_SMALL).collect()
    assert rows
    te = sum(r.excess_fp6 for r in rows)
    if te > 0:
        # weights are the normalized clamped excesses (ppm, half-up)
        assert abs(sum(r.weight_ppm for r in rows) - 1000000) <= len(rows)
        for r in rows:
            assert r.excess_fp6 >= 0


def test_supplier_hhi_by_hand(spark, tmp_path):
    from event_streaming_spark.plans.relational import orders_supplier_hhi_by_brand

    spark.createDataFrame(
        [(1, "BrandA")], "p_partkey long, p_brand string"
    ).write.mode("overwrite").parquet(str(tmp_path / "part.parquet"))
    spark.createDataFrame(
        [(1, 1, 10, 75.0), (2, 1, 20, 25.0)],
        "l_orderkey long, l_partkey long, l_suppkey long, l_extendedprice double",
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    (r,) = orders_supplier_hhi_by_brand(spark, str(tmp_path)).collect()
    assert (r.brand, r.n_suppliers, r.total_cents) == ("BrandA", 2, 10000)
    assert r.hhi_ppm == 625000  # 0.75^2 + 0.25^2
    assert r.top_share_ppm == 750000


def test_markov_entropy_rate_by_hand(spark, tmp_path):
    import math

    from event_streaming_spark.plans.events import events_markov_entropy_rate

    rows = [
        # u1 day1: a b a b  -> a->b, b->a, a->b
        (1, "2024-01-01 10:00:00", 1, "a", 1.0),
        (2, "2024-01-01 10:01:00", 1, "b", 1.0),
        (3, "2024-01-01 10:02:00", 1, "a", 1.0),
        (4, "2024-01-01 10:03:00", 1, "b", 1.0),
        # u2 day1: a c        -> a->c
        (5, "2024-01-01 11:00:00", 2, "a", 1.0),
        (6, "2024-01-01 11:01:00", 2, "c", 1.0),
    ]
    sf = _write_events(spark, tmp_path, rows)
    got = {r.src: r for r in events_markov_entropy_rate(spark, sf).collect()}
    assert set(got) == {"a", "b"}

    def fp(x):
        return math.copysign(math.floor(abs(x) * 1e6 + 0.5), x)

    # state a: c(a->b)=2, c(a->c)=1, cs=3, N=4
    h_a = fp(-(2 / 3) * math.log(2 / 3)) + fp(-(1 / 3) * math.log(1 / 3))
    c_a = fp(-(2 / 4) * math.log(2 / 3)) + fp(-(1 / 4) * math.log(1 / 3))
    assert got["a"].n_transitions == 3
    assert got["a"].h_cond_fp6 == int(h_a)
    assert got["a"].contrib_fp6 == int(c_a)
    # state b is deterministic -> zero entropy
    assert got["b"].n_transitions == 1
    assert got["b"].h_cond_fp6 == 0
    assert got["b"].contrib_fp6 == 0
