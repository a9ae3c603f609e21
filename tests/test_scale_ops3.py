"""Unit tests for the round-3 tranche #2: triangles, zone maps, theta
sketches, prefix-filter similarity join, weighted priority sampling."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from event_streaming_spark.operators import zonemap as Z
from event_streaming_spark.operators.graph import triangles
from event_streaming_spark.plans.curation import docs_weighted_priority_sample
from event_streaming_spark.plans.scale import (
    _SEARCH_TERMS,
    docs_keyword_search_postings,
    docs_prefix_filter_jaccard_join,
    sketch_theta_set_ops_users,
)
from tests.conftest import SF_SMALL

# ---------------------------------------------------------------------------
# triangles()
# ---------------------------------------------------------------------------


def _tri_set(spark, edges):
    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    return {tuple(r) for r in triangles(df).collect()}


def test_triangles_k4(spark):
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    assert _tri_set(spark, k4) == {(0, 1, 2), (0, 1, 3), (0, 2, 3), (1, 2, 3)}


def test_triangles_path_has_none(spark):
    assert _tri_set(spark, [(1, 2), (2, 3), (3, 4)]) == set()


def test_triangles_pendant_and_duplicates(spark):
    # One triangle {1,2,3} with a pendant 4; edges arrive in mixed
    # orientation with duplicates and a self-loop — all canonicalized.
    edges = [(2, 1), (1, 2), (2, 3), (3, 1), (3, 4), (4, 4)]
    assert _tri_set(spark, edges) == {(1, 2, 3)}


def test_triangles_two_sharing_edge(spark):
    # Diamond: triangles {1,2,3} and {2,3,4} share edge (2,3).
    edges = [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)]
    assert _tri_set(spark, edges) == {(1, 2, 3), (2, 3, 4)}


# ---------------------------------------------------------------------------
# zone maps
# ---------------------------------------------------------------------------


@pytest.fixture()
def events_small(spark):
    return spark.read.parquet(os.path.join(SF_SMALL, "events.parquet")).select(
        "event_id", "user_id", "event_type", "value"
    )


def test_zonemap_prunes_and_matches_full_scan(spark, events_small, tmp_path):
    path = str(tmp_path / "clustered")
    Z.write_clustered(events_small, path, "user_id", 8)
    zm = Z.zone_map(spark, path, "user_id")
    pruned, n_read, n_total = Z.pruned_read(spark, path, zm, "user_id", 3, 5)
    assert n_total == 8
    # 15 distinct users over 8 range-clustered files: a 3-user range
    # must NOT touch most files.
    assert n_read < n_total
    expect = events_small.where(F.col("user_id").between(3, 5))
    got = {tuple(r) for r in pruned.select("event_id", "user_id").collect()}
    want = {tuple(r) for r in expect.select("event_id", "user_id").collect()}
    assert got == want and len(want) > 0


def test_zonemap_unclustered_layout_degrades_but_stays_correct(
    spark, events_small, tmp_path
):
    # Round-robin layout: every file spans the full user range, so the
    # zone map prunes nothing — but the answer is still exact.
    path = str(tmp_path / "roundrobin")
    events_small.repartition(8).write.parquet(path)
    zm = Z.zone_map(spark, path, "user_id")
    pruned, n_read, n_total = Z.pruned_read(spark, path, zm, "user_id", 3, 5)
    assert n_read == n_total == 8
    want = events_small.where(F.col("user_id").between(3, 5)).count()
    assert pruned.count() == want


def test_zonemap_empty_selection(spark, events_small, tmp_path):
    path = str(tmp_path / "c2")
    Z.write_clustered(events_small, path, "user_id", 4)
    zm = Z.zone_map(spark, path, "user_id")
    pruned, n_read, _ = Z.pruned_read(spark, path, zm, "user_id", 10_000, 20_000)
    assert n_read == 0
    assert pruned.count() == 0
    # schema preserved for downstream composition
    assert set(pruned.columns) == set(events_small.columns)


# ---------------------------------------------------------------------------
# theta sketch set ops
# ---------------------------------------------------------------------------


def _write_events(spark, tmp_path, rows):
    df = spark.createDataFrame(rows, "user_id long, event_type string").select(
        F.monotonically_increasing_id().alias("event_id"),
        F.current_timestamp().alias("ts"),
        "user_id",
        "event_type",
        F.lit(1.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    return str(tmp_path)


def test_theta_sketch_known_overlap(spark, tmp_path):
    # |A|=1000 viewers, |B|=1000 purchasers, |A∩B|=400, |A∪B|=1600.
    rows = [(u, "view") for u in range(1000)] + [
        (u, "purchase") for u in range(600, 1600)
    ]
    sf_dir = _write_events(spark, tmp_path, rows)
    r = sketch_theta_set_ops_users(spark, sf_dir).first()
    # k=256 → relative standard error ~1/sqrt(k-1) ≈ 6%; assert 3 RSE.
    assert abs(r["est_viewers"] - 1000) / 1000 < 0.20
    assert abs(r["est_purchasers"] - 1000) / 1000 < 0.20
    assert abs(r["est_union"] - 1600) / 1600 < 0.20
    assert abs(r["est_intersection"] - 400) / 400 < 0.35
    # deterministic: re-running yields the identical row
    assert sketch_theta_set_ops_users(spark, sf_dir).first() == r


def test_theta_sketch_unsaturated_is_exact(spark, tmp_path):
    # Fewer distinct users than k on both sides → theta = 2^32 → the
    # estimator degrades to EXACT distinct counts by construction.
    rows = [(u, "view") for u in range(50)] + [(u, "purchase") for u in range(30, 70)]
    sf_dir = _write_events(spark, tmp_path, rows)
    r = sketch_theta_set_ops_users(spark, sf_dir).first()
    assert r["est_viewers"] == 50
    assert r["est_purchasers"] == 40
    assert r["est_union"] == 70
    assert r["est_intersection"] == 20


# ---------------------------------------------------------------------------
# prefix-filter Jaccard join
# ---------------------------------------------------------------------------


def _write_docs(spark, tmp_path, texts):
    rows = [(i, t, "en", f"src{i % 3}", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_ppjoin_matches_bruteforce(spark, tmp_path):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    texts = [
        base,                                   # 0: dup of 1
        base,                                   # 1
        base + " lambda mu nu xi",              # 2: high overlap with 0/1
        "one two three four five six seven eight nine ten",  # 3: disjoint
        "alpha beta gamma " + "x y z " * 10,    # 4: low overlap
    ]
    sf_dir = _write_docs(spark, tmp_path, texts)
    got = {
        (r["doc_a"], r["doc_b"])
        for r in docs_prefix_filter_jaccard_join(spark, sf_dir).collect()
    }
    # Brute force over the 5-doc corpus.
    from event_streaming_spark.operators.similarity import shingle_hashes

    docs = spark.read.parquet(str(tmp_path / "documents.parquet"))
    sets = {
        r["doc_id"]: set(r["hs"])
        for r in docs.select(
            "doc_id", shingle_hashes(F.col("text")).alias("hs")
        ).collect()
    }
    want = set()
    ids = sorted(sets)
    for i in ids:
        for j in ids:
            if i < j:
                inter = len(sets[i] & sets[j])
                union = len(sets[i] | sets[j])
                if union and 2 * inter >= union:
                    want.add((i, j))
    assert got == want and (0, 1) in want and (3,) not in {p[:1] for p in want}


# ---------------------------------------------------------------------------
# weighted priority sampling + keyword search
# ---------------------------------------------------------------------------


def test_weighted_priority_sample_is_biased_and_deterministic(spark):
    s = docs_weighted_priority_sample(spark, SF_SMALL)
    rows = s.collect()
    assert len(rows) == 100
    sample_avg = sum(r["n_chars"] for r in rows) / len(rows)
    pop_avg = (
        spark.read.parquet(os.path.join(SF_SMALL, "documents.parquet"))
        .agg(F.avg("n_chars"))
        .first()[0]
    )
    # inclusion odds ∝ n_chars → the sample must skew heavy
    assert sample_avg > pop_avg
    assert docs_weighted_priority_sample(spark, SF_SMALL).collect() == rows


def test_keyword_search_and_semantics(spark):
    rows = docs_keyword_search_postings(spark, SF_SMALL).collect()
    assert 0 < len(rows) <= 20
    docs = spark.read.parquet(os.path.join(SF_SMALL, "documents.parquet"))
    texts = {
        r["doc_id"]: r["text"]
        for r in docs.where(
            F.col("doc_id").isin([r["doc_id"] for r in rows])
        ).collect()
    }
    for r in rows:
        for term in _SEARCH_TERMS:
            assert term in texts[r["doc_id"]].lower()
    # ranking is by total tf descending
    tfs = [r["total_tf"] for r in rows]
    assert tfs == sorted(tfs, reverse=True)


# ---------------------------------------------------------------------------
# theta overlap matrix + hard-negative mining
# ---------------------------------------------------------------------------


def test_theta_overlap_daily_two_days_exact_regime(spark, tmp_path):
    # Two days, 60/50 users, 30 shared — all below k=128, so every
    # estimate must be EXACT (unsaturated theta degrades to counting).
    import datetime

    rows = []
    for u in range(60):
        rows.append((u, datetime.datetime(2024, 3, 1, 12, 0, 0)))
    for u in range(30, 80):
        rows.append((u, datetime.datetime(2024, 3, 2, 12, 0, 0)))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp").select(
        F.monotonically_increasing_id().alias("event_id"),
        "ts",
        "user_id",
        F.lit("view").alias("event_type"),
        F.lit(1.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    from event_streaming_spark.plans.scale import sketch_theta_overlap_daily

    out = sketch_theta_overlap_daily(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["est_a"], r["est_b"]) == (60, 50)
    assert r["est_union"] == 80
    assert r["est_intersection"] == 30


def test_theta_overlap_daily_full_matrix_shape(spark):
    from event_streaming_spark.plans.scale import sketch_theta_overlap_daily

    out = sketch_theta_overlap_daily(spark, SF_SMALL)
    rows = out.collect()
    # 30 days of data → C(30,2) pairs
    assert len(rows) == 435
    for r in rows:
        assert r["da"] < r["db"]
        # Provable sketch invariants: the union's k-th minimum is ≤ each
        # side's (more hashes), so est_union ≥ est_side; and the
        # intersection count below θ_u is ≤ the union count below θ_u
        # with the SAME divisor, so est_inter ≤ est_union.
        assert r["est_union"] >= max(r["est_a"], r["est_b"])
        assert r["est_intersection"] <= r["est_union"]
        # sanity: every day has most of sf0.001's 15 users active
        assert r["est_a"] > 5 and r["est_b"] > 5


def test_hard_negative_mining_contract(spark):
    from event_streaming_spark.plans.scale import emb_hard_negative_mining

    rows = emb_hard_negative_mining(spark, SF_SMALL).collect()
    emb = spark.read.parquet(os.path.join(SF_SMALL, "embeddings.parquet"))
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    by_q = {}
    for r in rows:
        by_q.setdefault(r["qid"], []).append(r)
    assert set(by_q) == set(range(10))
    for qid, rs in by_q.items():
        negs = [r for r in rs if r["kind"] == "neg"]
        poss = [r for r in rs if r["kind"] == "pos"]
        assert len(negs) == 3 and len(poss) == 1
        for r in negs:
            assert labels[r["neighbor_id"]] != labels[qid]
        assert labels[poss[0]["neighbor_id"]] == labels[qid]
        # hard negatives are the HIGHEST different-label sims (desc)
        sims = [r["cos_sim"] for r in sorted(negs, key=lambda x: x["rn"])]
        assert sims == sorted(sims, reverse=True)


# ---------------------------------------------------------------------------
# incremental zone maps over the VersionedStore
# ---------------------------------------------------------------------------


def test_incremental_zonemap_scans_only_new_files(spark, tmp_path):
    from event_streaming_spark.operators.zonemap import IncrementalZoneMap
    from event_streaming_spark.sources.versioned import VersionedStore

    store = VersionedStore(spark, str(tmp_path / "vz"))
    store.append(
        spark.range(0, 100).select(F.col("id").alias("k")).repartitionByRange(4, "k")
    )
    zm = IncrementalZoneMap(store, "k")
    first = zm.refresh()
    assert first == 4
    # second refresh with no new version: nothing scanned
    assert zm.refresh() == 0
    store.append(
        spark.range(100, 200).select(F.col("id").alias("k")).repartitionByRange(4, "k")
    )
    # only the 4 NEW files are scanned — the core incremental claim
    assert zm.refresh() == 4
    df, n_read, n_total = zm.pruned_read(10, 30)
    assert n_total == 8 and n_read < n_total
    assert df.count() == 21
    # correctness against a full scan
    assert df.count() == store.read().where(F.col("k").between(10, 30)).count()


def test_incremental_zonemap_time_travel_and_compaction(spark, tmp_path):
    from event_streaming_spark.operators.zonemap import IncrementalZoneMap
    from event_streaming_spark.sources.versioned import VersionedStore

    store = VersionedStore(spark, str(tmp_path / "vz2"))
    v0 = store.append(
        spark.range(0, 50).select(F.col("id").alias("k")).repartitionByRange(2, "k")
    )
    zm = IncrementalZoneMap(store, "k")
    zm.refresh()
    store.delete_where("k >= 40")           # COW rewrite
    store.compact(target_files=1)           # rewrites the survivors
    # head: pruned read agrees with a full scan after rewrites
    df, _, n_total = zm.pruned_read(0, 20)
    assert df.count() == 21
    # time travel: the OLD snapshot still prunes with its own files
    df0, _, total0 = zm.pruned_read(45, 49, version=v0)
    assert df0.count() == 5
    assert total0 == 2


def test_clustering_compaction_restores_zone_selectivity(spark, tmp_path):
    """Unordered appends interleave the keyspace → zones useless; a
    sort_by compaction restores file-level pruning."""
    from event_streaming_spark.operators.zonemap import IncrementalZoneMap
    from event_streaming_spark.sources.versioned import VersionedStore

    store = VersionedStore(spark, str(tmp_path / "cc"))
    # two appends that each span the FULL key range, in 4 files each
    store.append(
        spark.range(0, 400).select((F.col("id") % 100).alias("k")).repartition(4)
    )
    store.append(
        spark.range(0, 400).select((F.col("id") % 100).alias("k")).repartition(4)
    )
    zm = IncrementalZoneMap(store, "k")
    _, n_read, n_total = zm.pruned_read(10, 19)
    assert n_read == n_total == 8  # interleaved layout: nothing prunes
    store.compact(target_files=8, sort_by="k")
    zm2 = IncrementalZoneMap(store, "k")
    df, n_read2, n_total2 = zm2.pruned_read(10, 19)
    assert n_total2 == 8 and n_read2 < n_total2  # clustered: pruning works
    assert df.count() == 80
    # and the data survived the rewrite exactly
    assert store.read().count() == 800


def test_zorder_2d_zone_maps_prune_on_both_dimensions(spark, tmp_path):
    """Z-order layout makes BOTH interleaved dimensions' zones tight;
    a box predicate must skip files, and so must each 1-D slab."""
    from event_streaming_spark.operators.layout import cluster_by_zorder
    from event_streaming_spark.operators.zonemap import (
        pruned_read_multi,
        zone_map_multi,
    )

    df = spark.range(4096).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    path = str(tmp_path / "z2")
    cluster_by_zorder(df, ["x", "y"], num_files=16).write.parquet(path)
    zm = zone_map_multi(spark, path, ["x", "y"])
    box, n_box, total = pruned_read_multi(
        spark, path, zm, {"x": (0, 15), "y": (0, 15)}
    )
    assert total == 16 and n_box < total
    assert box.count() == 16 * 16
    # each 1-D slab also prunes — the whole point of interleaving
    _, n_x, _ = pruned_read_multi(spark, path, zm, {"x": (0, 7)})
    _, n_y, _ = pruned_read_multi(spark, path, zm, {"y": (0, 7)})
    assert n_x < total and n_y < total
    # correctness on the slabs too
    sx, _, _ = pruned_read_multi(spark, path, zm, {"x": (0, 7)})
    assert sx.count() == df.where(F.col("x") <= 7).count()


def test_global_ntile_matches_window_ntile(spark):
    """events4._global_ntile (distributed closed form) must equal
    ntile() OVER a global window for ragged N (N % tiles != 0), ties
    included — the fill rule is first N%tiles tiles get one extra row."""
    from pyspark.sql import Window

    from event_streaming_spark.plans.events import _global_ntile

    df = spark.createDataFrame(
        [(i, (i * 7) % 13) for i in range(23)], "id long, v long"
    )
    got = {
        r["id"]: r["q"]
        for r in _global_ntile(df, [F.desc("v"), F.asc("id")], "q", 5).collect()
    }
    want = {
        r["id"]: r["q"]
        for r in df.withColumn(
            "q", F.ntile(5).over(Window.orderBy(F.desc("v"), F.asc("id")))
        ).collect()
    }
    assert got == want
