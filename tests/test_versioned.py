"""VersionedStore: snapshot isolation, time travel, copy-on-write
delete, optimistic concurrency, vacuum retention."""

from __future__ import annotations

import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from event_streaming_spark.sources.versioned import CommitConflict, VersionedStore


@pytest.fixture()
def store(spark, tmp_path):
    return VersionedStore(spark, str(tmp_path / "vstore"))


def test_append_and_time_travel(spark, store):
    v0 = store.append(spark.range(100).select(F.col("id")))
    v1 = store.append(spark.range(100, 150).select(F.col("id")))
    assert (v0, v1) == (0, 1)
    assert store.read(v0).count() == 100
    assert store.read(v1).count() == 150
    assert store.read().count() == 150  # latest


def test_delete_is_copy_on_write_and_auditable(spark, store):
    store.append(spark.range(1000).select(F.col("id"), (F.col("id") % 10).alias("k")))
    store.append(spark.range(1000, 2000).select(F.col("id"), (F.col("id") % 10).alias("k")))
    before_files = set(os.listdir(store.data_dir))
    v = store.delete_where(F.col("k") == 3)
    assert store.read(v).filter(F.col("k") == 3).count() == 0
    assert store.read(v).count() == 1800
    # history intact: the pre-delete snapshot still shows the rows
    assert store.read(v - 1).filter(F.col("k") == 3).count() == 200
    # copy-on-write: no pre-existing data file was modified or removed
    assert before_files <= set(os.listdir(store.data_dir))


def test_delete_untouched_files_carry_by_reference(spark, store):
    # two appends → distinct file sets; delete hits only the second
    store.append(spark.range(500).select(F.col("id")))
    store.append(spark.range(10_000, 10_500).select(F.col("id")))
    m_before = set(store.files())
    v = store.delete_where("id >= 10450")
    m_after = set(store.files(v))
    untouched = {f for f in m_before if "append" in os.path.basename(f)}
    # at least the first append's files survive by reference
    assert any(f in m_after for f in untouched)
    assert store.read(v).count() == 950


def test_compact_preserves_rows_and_history(spark, store):
    for i in range(4):
        store.append(spark.range(i * 100, (i + 1) * 100).select(F.col("id")))
    pre = store.latest_version()
    v = store.compact(target_files=1)
    assert store.read(v).count() == 400
    assert len(store.files(v)) == 1
    assert store.read(pre).count() == 400  # old snapshot still readable


def test_commit_conflict_retries_on_append(spark, store):
    store.append(spark.range(10).select(F.col("id")))
    # simulate a racing committer landing v1 first
    head = store.latest_version()
    import json

    with open(os.path.join(store.manifest_dir, f"v{head + 1}.json"), "w") as fh:
        json.dump(
            {"version": head + 1, "parent": head, "op": "append",
             "files": store._manifest(head)["files"]},
            fh,
        )
    v = store.append(spark.range(10, 20).select(F.col("id")))
    assert v == head + 2  # retried on top of the interloper
    assert store.read(v).count() == 20


def test_compact_conflict_raises_instead_of_clobbering(spark, store):
    store.append(spark.range(100).select(F.col("id")))
    # interloper appends between compact's read and its commit: patch
    # _stage_files to sneak a commit in after compact computed its input
    real_stage = store._stage_files

    def stage_and_race(df, tag):
        out = real_stage(df, tag)
        if tag == "compact":
            VersionedStore(store.spark, store.path).append(
                store.spark.range(100, 130).select(F.col("id"))
            )
        return out

    store._stage_files = stage_and_race
    with pytest.raises(CommitConflict):
        store.compact()
    store._stage_files = real_stage
    assert store.read().count() == 130  # interloper's rows intact


def test_vacuum_retention_window(spark, store):
    store.append(spark.range(100).select(F.col("id")))          # v0
    store.append(spark.range(100, 200).select(F.col("id")))     # v1
    store.compact()                                             # v2
    # default grace period protects in-flight commits: nothing young dies
    assert store.vacuum(keep_last=1) == []
    removed = store.vacuum(keep_last=1, min_age_s=0)
    assert removed  # pre-compaction files gone
    assert store.read().count() == 200
    with pytest.raises(Exception):
        store.read(0)


def test_rollback_restores_and_preserves_history(spark, store):
    store.append(spark.range(100).select(F.col("id")))            # v0
    store.delete_where("id < 50")                                  # v1
    assert store.read().count() == 50
    v = store.rollback(0)                                          # v2
    assert v == 2
    assert store.read().count() == 100
    assert store.read(1).count() == 50  # the delete is still auditable


def test_table_changes_feed(spark, store):
    store.append(spark.range(100).select(F.col("id")))             # v0
    store.append(spark.range(100, 130).select(F.col("id")))        # v1
    store.delete_where("id >= 120")                                # v2
    ins = store.table_changes(0, 1)
    assert {r["_change"] for r in ins.collect()} == {"insert"}
    assert ins.count() == 30
    chg = store.table_changes(1, 2).collect()
    # the delete rewrote only the second append's files: feed = 10
    # deletes (120..129); rows 100..119 cancel out via exceptAll
    assert sorted(r["id"] for r in chg if r["_change"] == "delete") == list(range(120, 130))
    assert all(r["_change"] == "delete" for r in chg)
    # no structural change → an EMPTY feed with the promised schema
    # (r6 fix: was None, which crashed IVM callers)
    empty = store.table_changes(0, 0)
    assert empty.count() == 0 and "_change" in empty.columns


def test_streaming_sink_one_version_per_batch_and_replay_safe(spark, store, tmp_path):
    src = str(tmp_path / "ssrc")
    full = spark.range(300).select(F.col("id"))
    for i in range(3):
        full.filter(F.col("id") % 3 == i).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("id long").option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = store.sink(stream, str(tmp_path / "sckpt"))
    q.awaitTermination(120)
    assert store.latest_version() == 2          # three batches → v0,v1,v2
    assert store.read().count() == 300
    # replay the whole stream: ledger short-circuits, no new versions
    q2 = store.sink(
        spark.readStream.schema("id long").option("maxFilesPerTrigger", 1).parquet(src),
        str(tmp_path / "sckpt"),
    )
    q2.awaitTermination(120)
    assert store.latest_version() == 2


def test_schema_evolution_read(spark, store):
    store.append(spark.range(10).select(F.col("id")))
    # adding a column is an EXPLICIT evolution now (merge_schema=True);
    # store.read() itself returns the merged schema with NULL backfill
    store.append(
        spark.range(10, 20).select(F.col("id"), F.lit("b").alias("tag")),
        merge_schema=True,
    )
    merged = store.read()
    assert set(merged.columns) == {"id", "tag"}
    assert merged.where(F.col("tag").isNull()).count() == 10


def test_incremental_view_maintenance_from_change_feed(spark, store):
    """Delta-applying the change feed must reproduce the full recompute
    exactly, through an append AND a delete."""
    from event_streaming_spark.operators.ivm import apply_group_delta, count_sum_view

    base = spark.range(2000).select(
        F.col("id"), (F.col("id") % 7).alias("k"), (F.col("id") % 100).alias("v")
    )
    store.append(base)                                     # v0
    view = count_sum_view(store.read(0), ["k"], "v")

    store.append(
        spark.range(2000, 2600).select(
            F.col("id"), (F.col("id") % 7).alias("k"), (F.col("id") % 100).alias("v")
        )
    )                                                      # v1
    store.delete_where("id % 13 = 0")                      # v2

    for v_from, v_to in ((0, 1), (1, 2)):
        changes = store.table_changes(v_from, v_to)
        view = apply_group_delta(view, changes, ["k"], "v")
        want = sorted(map(tuple, count_sum_view(store.read(v_to), ["k"], "v").collect()))
        got = sorted(map(tuple, view.collect()))
        assert got == want, f"IVM diverged at v{v_to}"


def test_ivm_drops_groups_reaching_zero(spark, store):
    from event_streaming_spark.operators.ivm import apply_group_delta, count_sum_view

    store.append(spark.createDataFrame([(1, "a"), (2, "b")], "id long, k string"))
    view = count_sum_view(store.read(0), ["k"])
    store.delete_where("k = 'a'")
    view2 = apply_group_delta(view, store.table_changes(0, 1), ["k"])
    assert [tuple(r) for r in view2.collect()] == [("b", 1)]


def test_merge_upsert_atomic(spark, store):
    store.append(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "id long, k string, v long"
        )
    )                                                       # v0
    store.append(
        spark.createDataFrame([(4, "d", 40)], "id long, k string, v long")
    )                                                       # v1
    v = store.merge(
        spark.createDataFrame(
            [(2, "b2", 99), (5, "e", 50)], "id long, k string, v long"
        ),
        key="id",
    )                                                       # v2: update id=2, insert id=5
    got = {r["id"]: (r["k"], r["v"]) for r in store.read(v).collect()}
    assert got == {1: ("a", 10), 2: ("b2", 99), 3: ("c", 30), 4: ("d", 40), 5: ("e", 50)}
    # pre-merge snapshot intact (audit), and the untouched file (v1's
    # append, no matched keys) carried over by reference
    assert {r["id"] for r in store.read(1).collect()} == {1, 2, 3, 4}
    before = set(store.files(1))
    after = set(store.files(v))
    assert any(f in after for f in before)  # carry-over by reference


def test_merge_into_empty_table(spark, store):
    v = store.merge(spark.createDataFrame([(1, "x")], "id long, k string"), key="id")
    assert v == 0
    assert store.read().count() == 1


def test_streaming_upsert_sink_tracks_latest_per_key(spark, store, tmp_path):
    """Three micro-batches of keyed updates: the table must equal the
    keep-latest-per-key fold of the stream, with every intermediate
    state still time-travelable."""
    src = str(tmp_path / "usrc")
    batches = [
        [(1, "a0"), (2, "b0"), (3, "c0")],
        [(2, "b1"), (4, "d0")],
        [(1, "a2"), (4, "d1"), (5, "e0")],
    ]
    for b in batches:
        spark.createDataFrame(b, "id long, val string").coalesce(1).write.mode(
            "append"
        ).parquet(src)
    # maxFilesPerTrigger=1 → one merge per original batch (file order by
    # name is nondeterministic, but upserts of DISJOINT snapshots below
    # make the final state order-independent for keys updated once)
    q = store.upsert_sink(
        spark.readStream.schema("id long, val string").option("maxFilesPerTrigger", 1).parquet(src),
        key="id",
        checkpoint=str(tmp_path / "uck"),
    )
    q.awaitTermination(120)
    got = {r["id"]: r["val"] for r in store.read().collect()}
    # keys written once keep their value; multi-written keys hold SOME
    # batch's value (file order isn't guaranteed) — with ordered input
    # in production, event-time dedupe upstream pins the winner
    assert set(got) == {1, 2, 3, 4, 5}
    assert got[3] == "c0" and got[5] == "e0"
    assert store.latest_version() == 2  # one version per micro-batch
    assert store.read(0).count() == 3   # first batch snapshot intact


def test_cdc_to_ivm_to_sketch_end_to_end(spark, store, tmp_path):
    """The round-2 systems composed: keyed CDC stream → versioned upsert
    table (atomic per batch) → change-feed-driven incremental aggregate
    (== full recompute at every version) → HLL sketch over the final
    table (== exact distinct, small domain)."""
    from event_streaming_spark.operators.ivm import apply_group_delta, count_sum_view
    from event_streaming_spark.operators.sketches import hll_estimate

    src = str(tmp_path / "cdc")
    spark.createDataFrame(
        [(i, f"seg{i % 3}", i) for i in range(60)], "id long, seg string, v long"
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [(i, f"seg{i % 3}", i * 10) for i in range(40, 80)], "id long, seg string, v long"
    ).coalesce(1).write.mode("append").parquet(src)

    q = store.upsert_sink(
        spark.readStream.schema("id long, seg string, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        key="id",
        checkpoint=str(tmp_path / "ck"),
    )
    q.awaitTermination(120)
    head = store.latest_version()
    assert head == 1 and store.read().count() == 80

    # IVM across every version transition == recompute at each snapshot
    view = count_sum_view(store.read(0), ["seg"], "v")
    for v in range(1, head + 1):
        view = apply_group_delta(view, store.table_changes(v - 1, v), ["seg"], "v")
        want = sorted(map(tuple, count_sum_view(store.read(v), ["seg"], "v").collect()))
        assert sorted(map(tuple, view.collect())) == want

    # sketch the final table: 80 keys ≪ 2.5·m → linear-counting branch,
    # which is EXACT while any register stays empty
    est = hll_estimate(store.read(head), F.col("id")).collect()[0]["hll_estimate"]
    assert abs(est - 80) / 80 < 0.25


def test_sink_replay_with_lost_ledger_is_deduped_by_manifest_txn(spark, store, tmp_path):
    """Crash window closed: a batch whose ledger mark was lost (crash
    between commit and mark) must NOT double-append on replay — the
    batch id lives inside the committed manifest (Delta txn pattern)."""
    import shutil

    src = str(tmp_path / "txnsrc")
    full = spark.range(200).select(F.col("id"))
    for i in range(2):
        full.filter(F.col("id") % 2 == i).coalesce(1).write.mode("append").parquet(src)
    ckpt = str(tmp_path / "txnck")
    q = store.sink(
        spark.readStream.schema("id long").option("maxFilesPerTrigger", 1).parquet(src),
        ckpt,
    )
    q.awaitTermination(120)
    assert store.latest_version() == 1 and store.read().count() == 200
    # simulate the crash: the whole checkpoint (incl. ledger) is lost,
    # stream restarts from scratch and replays batch ids 0 and 1
    shutil.rmtree(ckpt)
    q2 = store.sink(
        spark.readStream.schema("id long").option("maxFilesPerTrigger", 1).parquet(src),
        ckpt,
    )
    q2.awaitTermination(120)
    assert store.latest_version() == 1          # no new versions
    assert store.read().count() == 200          # no duplicated rows


def test_upsert_sink_replay_with_lost_ledger_is_deduped(spark, store, tmp_path):
    import shutil

    src = str(tmp_path / "utxnsrc")
    spark.createDataFrame(
        [(i, i) for i in range(50)], "id long, v long"
    ).coalesce(1).write.mode("append").parquet(src)
    ckpt = str(tmp_path / "utxnck")

    def run():
        q = store.upsert_sink(
            spark.readStream.schema("id long, v long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src),
            key="id",
            checkpoint=ckpt,
        )
        q.awaitTermination(120)

    run()
    assert store.latest_version() == 0 and store.read().count() == 50
    shutil.rmtree(ckpt)
    run()
    assert store.latest_version() == 0
    assert store.read().count() == 50


def test_vacuum_tolerates_previously_vacuumed_keep_range(spark, store):
    """A wider keep_last after a narrower vacuum must skip the already-
    deleted manifests instead of failing on the missing file."""
    for i in range(5):
        store.append(spark.range(i * 10, (i + 1) * 10).select(F.col("id")))
    assert store.latest_version() == 4
    store.vacuum(keep_last=1, min_age_s=0)      # drops manifests v0..v3
    removed = store.vacuum(keep_last=3, min_age_s=0)   # keep range v2..v4: v2,v3 gone
    assert isinstance(removed, list)            # reached the end without raising
    assert store.read().count() == 50           # head snapshot intact


def test_cdf_driven_incremental_signature_maintenance(spark, tmp_path):
    """Storage + dedup composed: documents live in a VersionedStore; a
    MERGE updates some docs and inserts new ones; the signature table
    refreshes from the store's CHANGE FEED alone — recompute bands only
    for changed doc_ids, delete stale rows, insert fresh ones — and the
    result equals a from-scratch recompute of the new head.  This is the
    100 TB maintenance path: feed cost scales with the delta (the feed
    reads only added/removed files), never the corpus."""
    from pyspark.sql import functions as F

    from event_streaming_spark.operators.similarity import (
        band_hashes_over,
        minhash_cols,
        shingle_hashes,
    )
    from event_streaming_spark.sources.versioned import VersionedStore

    def signatures(docs_df):
        hs = docs_df.select("doc_id", shingle_hashes(F.col("text")).alias("hs"))
        sig = hs.select("doc_id", F.array(*minhash_cols(F.col("hs"))).alias("sig"))
        return sig.select(
            "doc_id",
            F.posexplode(F.array(*band_hashes_over(F.col("sig")))).alias("band_idx", "bh"),
        )

    docs = [(i, f"the quick brown fox jumps over dog number {i} " * 3) for i in range(30)]
    store = VersionedStore(spark, str(tmp_path / "docs"))
    v1 = store.append(spark.createDataFrame(docs, "doc_id long, text string"))

    # the signature table as of v1 (would be a persisted table in prod)
    sig_v1 = signatures(store.read(v1))

    # MERGE: rewrite 5 docs, insert 3 new ones
    updates = spark.createDataFrame(
        [(i, f"an entirely different document body {i} " * 4) for i in range(5)]
        + [(100 + i, f"brand new content {i} " * 5) for i in range(3)],
        "doc_id long, text string",
    )
    v2 = store.merge(updates, key="doc_id")

    # incremental refresh FROM THE FEED: changed doc_ids only
    feed = store.table_changes(v1, v2)
    changed = feed.select("doc_id").distinct()
    fresh = signatures(
        store.read(v2).join(changed, "doc_id", "left_semi")
    )
    refreshed = (
        sig_v1.join(changed, "doc_id", "left_anti")  # drop stale rows
        .unionByName(fresh)                          # add recomputed rows
    )

    full = signatures(store.read(v2))  # from-scratch reference
    a = sorted(map(tuple, refreshed.collect()))
    b = sorted(map(tuple, full.collect()))
    assert a == b
    # and the delta really was delta-sized: 5 updated + 3 inserted docs
    assert changed.count() == 8


# ---------------------------------------------------------------------------
# schema evolution
# ---------------------------------------------------------------------------


def test_schema_evolution_add_column_and_time_travel(spark, tmp_path):
    from event_streaming_spark.sources.versioned import VersionedStore

    store = VersionedStore(spark, str(tmp_path / "evo"))
    v1 = store.append(spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string"))
    v2 = store.append(
        spark.createDataFrame([(3, "c", 9.5)], "id long, s string, score double"),
        merge_schema=True,
    )
    head = store.read()
    assert head.columns == ["id", "s", "score"]
    rows = {r["id"]: r["score"] for r in head.collect()}
    # pre-evolution rows surface NULL in the evolved column
    assert rows == {1: None, 2: None, 3: 9.5}
    # schema time travel: v1 still reads with its own 2-column schema
    old = store.read(v1)
    assert old.columns == ["id", "s"]
    assert old.count() == 2
    assert store.table_schema(v2).fieldNames() == ["id", "s", "score"]


def test_schema_evolution_requires_flag(spark, tmp_path):
    import pytest as _pytest

    from event_streaming_spark.sources.versioned import SchemaConflict, VersionedStore

    store = VersionedStore(spark, str(tmp_path / "evo2"))
    store.append(spark.createDataFrame([(1, "a")], "id long, s string"))
    with _pytest.raises(SchemaConflict, match="merge_schema=True"):
        store.append(
            spark.createDataFrame([(2, "b", 1.0)], "id long, s string, x double")
        )


def test_schema_evolution_rejects_type_change(spark, tmp_path):
    import pytest as _pytest

    from event_streaming_spark.sources.versioned import SchemaConflict, VersionedStore

    store = VersionedStore(spark, str(tmp_path / "evo3"))
    store.append(spark.createDataFrame([(1, "a")], "id long, s string"))
    with _pytest.raises(SchemaConflict, match="column 's'"):
        store.append(
            spark.createDataFrame([(2, 5)], "id long, s long"), merge_schema=True
        )


def test_schema_evolution_missing_column_fills_null(spark, tmp_path):
    from event_streaming_spark.sources.versioned import VersionedStore

    store = VersionedStore(spark, str(tmp_path / "evo4"))
    store.append(spark.createDataFrame([(1, "a")], "id long, s string"))
    # append WITHOUT the s column: allowed, reads as NULL
    store.append(spark.createDataFrame([(2,)], "id long"))
    rows = {r["id"]: r["s"] for r in store.read().collect()}
    assert rows == {1: "a", 2: None}


def test_schema_evolution_survives_merge_and_compact(spark, tmp_path):
    from pyspark.sql import functions as F

    from event_streaming_spark.sources.versioned import VersionedStore

    store = VersionedStore(spark, str(tmp_path / "evo5"))
    store.append(spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string"))
    store.append(
        spark.createDataFrame([(3, "c", 1.5)], "id long, s string, score double"),
        merge_schema=True,
    )
    store.merge(
        spark.createDataFrame([(2, "B", 2.5)], "id long, s string, score double"),
        key="id",
    )
    store.compact()
    head = store.read().orderBy("id")
    assert head.columns == ["id", "s", "score"]
    got = [(r["id"], r["s"], r["score"]) for r in head.collect()]
    assert got == [(1, "a", None), (2, "B", 2.5), (3, "c", 1.5)]
    # rows with NULL in the evolved column still filter correctly
    assert store.read().where(F.col("score").isNull()).count() == 1


# ---------------------------------------------------------------------------
# merge-on-read (equality tombstone) deletes
# ---------------------------------------------------------------------------


def _mor_store(spark, tmp_path, name):
    from event_streaming_spark.sources.versioned import VersionedStore

    store = VersionedStore(spark, str(tmp_path / name))
    store.append(
        spark.range(100).select(F.col("id"), (F.col("id") % 10).alias("grp"))
    )
    return store


def test_lazy_delete_hides_without_rewriting(spark, tmp_path):
    store = _mor_store(spark, tmp_path, "mor1")
    files_before = set(store.files())
    v = store.delete_keys_where("grp = 3", key="id")
    # no data file rewritten — the commit is metadata + one tombstone file
    assert set(store.files(v)) == files_before
    assert store.read().count() == 90
    assert store.read().where(F.col("grp") == 3).count() == 0
    # time travel: the pre-delete snapshot still shows everything
    assert store.read(v - 1).count() == 100


def test_lazy_delete_survives_append_and_global_tombstone_semantics(spark, tmp_path):
    store = _mor_store(spark, tmp_path, "mor2")
    store.delete_keys_where("id < 10", key="id")
    # appended rows with a tombstoned key stay hidden (documented)
    store.append(spark.range(5).select(F.col("id"), F.lit(99).cast("long").alias("grp")))
    assert store.read().count() == 90
    # compact materializes: tombstones cleared, counts unchanged
    store.compact()
    head = store.latest_version()
    assert store._manifest(head).get("delete_files", []) == []
    assert store.read().count() == 90
    # after compaction the key is insertable again
    store.append(spark.range(5).select(F.col("id"), F.lit(7).cast("long").alias("grp")))
    assert store.read().count() == 95


def test_lazy_delete_change_feed_and_vacuum(spark, tmp_path):
    import time

    store = _mor_store(spark, tmp_path, "mor3")
    v0 = store.latest_version()
    v1 = store.delete_keys_where("id >= 90", key="id")
    feed = store.table_changes(v0, v1)
    rows = feed.collect()
    assert all(r["_change"] == "delete" for r in rows)
    assert sorted(r["id"] for r in rows) == list(range(90, 100))
    # vacuum must NOT remove the tombstone file while referenced
    store.vacuum(keep_last=2, min_age_s=0)
    assert store.read().count() == 90
    # append twice so the tombstone-bearing manifests age out entirely,
    # then compact (clears tombstones) and vacuum again
    store.compact()
    store.append(
        spark.range(1).select(
            (F.col("id") + 1000).alias("id"), F.lit(0).cast("long").alias("grp")
        )
    )
    time.sleep(0.01)
    store.vacuum(keep_last=2, min_age_s=0)
    assert store.read().count() == 91


def test_lazy_delete_composes_with_schema_evolution(spark, tmp_path):
    from event_streaming_spark.sources.versioned import VersionedStore

    store = VersionedStore(spark, str(tmp_path / "mor4"))
    store.append(spark.range(20).select(F.col("id")))
    store.append(
        spark.range(20, 30).select(F.col("id"), F.lit(1.5).alias("w")),
        merge_schema=True,
    )
    store.delete_keys_where("id % 2 = 0", key="id")
    head = store.read()
    # evolved schema survives the tombstone anti-join, rows halve
    assert head.columns == ["id", "w"]
    assert head.count() == 15
    assert head.where(F.col("id") % 2 == 0).count() == 0
    # old columns NULL-backfilled rows are tombstoned like any other
    assert head.where(F.col("w").isNull()).count() == 10
    store.compact()
    assert store.read().count() == 15
    assert store.read().columns == ["id", "w"]


# ---------------------------------------------------------------------------
# r4 ADVICE regressions: compact vs concurrent tombstones; pruned reads
# that must respect tombstones + manifest schema.
# ---------------------------------------------------------------------------


def test_compact_conflicts_on_concurrent_tombstone_commit(spark, tmp_path):
    """A delete_keys_where that commits between compact's read and its
    manifest publish changes delete_files WITHOUT changing the file list;
    compact must refuse (CommitConflict), not wipe the unseen tombstones
    (which would silently resurrect the deleted rows)."""
    store = VersionedStore(spark, str(tmp_path / "race"))
    store.append(spark.range(100).select(F.col("id")))

    orig_stage = store._stage_files
    raced = {"done": False}

    def racy_stage(df, tag):
        out = orig_stage(df, tag)
        if tag == "compact" and not raced["done"]:
            raced["done"] = True
            # concurrent writer lands an equality tombstone AFTER compact
            # read its snapshot but BEFORE compact commits
            store._stage_files = orig_stage
            store.delete_keys_where("id < 10", key="id")
            store._stage_files = racy_stage
        return out

    store._stage_files = racy_stage
    with pytest.raises(CommitConflict):
        store.compact()
    store._stage_files = orig_stage
    # the tombstones survived: deleted rows stay invisible
    assert store.read().count() == 90
    # rerun on the new head succeeds and materializes them
    store.compact()
    head = store.latest_version()
    assert store._manifest(head).get("delete_files", []) == []
    assert store.read().count() == 90


def test_incremental_zonemap_pruned_read_respects_tombstones(spark, tmp_path):
    from event_streaming_spark.operators.zonemap import IncrementalZoneMap

    store = VersionedStore(spark, str(tmp_path / "zmor"))
    # clustered appends so zones are selective
    store.append(spark.range(0, 50).select(F.col("id")))
    store.append(spark.range(50, 100).select(F.col("id")))
    zm = IncrementalZoneMap(store, "id")
    zm.refresh()
    store.delete_keys_where("id >= 20 AND id < 30", key="id")
    df, n_read, n_total = zm.pruned_read(0, 49)
    assert n_read < n_total  # still prunes the [50,100) file(s)
    got = sorted(r["id"] for r in df.collect())
    assert got == [i for i in range(50) if not (20 <= i < 30)]
    # time travel: the pre-delete snapshot still shows everything
    df0, _, _ = zm.pruned_read(0, 49, version=1)
    assert df0.count() == 50


def test_incremental_zonemap_pruned_read_projects_manifest_schema(spark, tmp_path):
    from event_streaming_spark.operators.zonemap import IncrementalZoneMap

    store = VersionedStore(spark, str(tmp_path / "zevo"))
    store.append(spark.range(0, 50).select(F.col("id")))
    store.append(
        spark.range(50, 100).select(F.col("id"), F.lit(1.5).alias("w")),
        merge_schema=True,
    )
    zm = IncrementalZoneMap(store, "id")
    df, n_read, n_total = zm.pruned_read(0, 10)
    # pre-evolution files surface the evolved column as NULL — the pruned
    # read must carry the manifest schema, not the raw file footer schema
    assert df.columns == ["id", "w"]
    assert df.count() == 11
    assert df.where(F.col("w").isNull()).count() == 11


def test_read_files_rejects_stray_paths(spark, tmp_path):
    store = VersionedStore(spark, str(tmp_path / "stray"))
    store.append(spark.range(10).select(F.col("id")))
    with pytest.raises(ValueError, match="not in snapshot"):
        store.read_files(["/nonexistent/file.parquet"])


def test_module_zonemap_null_only_file_is_pruned_not_crash(spark, tmp_path):
    from event_streaming_spark.operators import zonemap as Z
    from pyspark.sql import types as T

    path = str(tmp_path / "nulls")
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.LongType())]
    )
    spark.createDataFrame([(i, i) for i in range(20)], schema).coalesce(1).write.mode(
        "append"
    ).parquet(path)
    spark.createDataFrame([(100 + i, None) for i in range(5)], schema).coalesce(
        1
    ).write.mode("append").parquet(path)
    zm = Z.zone_map(spark, path, "v")
    df, n_read, n_total = Z.pruned_read(spark, path, zm, "v", 5, 10)
    assert n_total == 2 and n_read == 1  # the all-NULL file is skipped
    assert df.count() == 6
    mzm = Z.zone_map_multi(spark, path, ["k", "v"])
    df2, n_read2, _ = Z.pruned_read_multi(spark, path, mzm, {"k": (0, 50), "v": (5, 10)})
    assert n_read2 == 1 and df2.count() == 6


def test_consume_state_partitions_does_not_touch_shared_conf(spark, tmp_path):
    """state_partitions must scope to the consumer's own cloned session;
    the shared session's shuffle conf stays untouched even DURING the
    drain (a concurrently-planned query must never capture it)."""
    from event_streaming_spark.streaming.agency import EventsAgency

    before = spark.conf.get("spark.sql.shuffle.partitions")
    agency = EventsAgency(spark, root=str(tmp_path / "agency"))
    ctx = agency.topic(None, "conf-scope")
    ctx.publish(
        [
            {"event_id": i, "ts": "2024-01-01T00:00:00", "user_id": i,
             "event_type": "view", "value": 1.0, "props": "{}"}
            for i in range(4)
        ]
    )
    seen: list[str] = []

    def on_notify(c, df, bid):
        # the SHARED session's conf, observed mid-drain
        seen.append(spark.conf.get("spark.sql.shuffle.partitions"))
        df.count()

    ctx.consume(
        on_notify,
        once=True,
        transform=lambda df: df.groupBy("event_type").count(),
        output_mode="update",
        state_partitions=3,
    )
    agency.close(remove_logs=True)
    assert seen and all(s == before for s in seen)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_compact_zorder_restores_2d_skipping(spark, tmp_path):
    """Interleaved appends give every file the full 2-D envelope (no
    pruning possible); compact(zorder_by=[x, y]) must restore box
    skipping on BOTH dimensions, under the incremental zone map, with
    row-identical results."""
    from event_streaming_spark.operators.zonemap import IncrementalZoneMap

    n = 4096
    base = spark.range(n).select(
        F.col("id"),
        (F.col("id") % 64).alias("x"),
        ((F.col("id") * 37) % 64).alias("y"),
    )
    store = VersionedStore(spark, str(tmp_path / "zc"))
    store.append(base.where(F.col("id") % 2 == 0).repartition(4))
    store.append(base.where(F.col("id") % 2 == 1).repartition(4))

    zm_pre = IncrementalZoneMap(store, cols=["x", "y"])
    box = {"x": (8, 15), "y": (8, 15)}
    _, read_pre, total_pre = zm_pre.pruned_read_box(box)
    assert read_pre == total_pre  # interleaved layout: nothing prunes

    store.compact(target_files=16, zorder_by=["x", "y"], bits_per_col=6)
    zm = IncrementalZoneMap(store, cols=["x", "y"])
    df, read_post, total_post = zm.pruned_read_box(box)
    assert total_post == 16
    # an (1/8)^2 box over a 16-file Z-order layout must skip most files
    assert read_post <= total_post // 2
    expect = base.where(
        F.col("x").between(8, 15) & F.col("y").between(8, 15)
    )
    assert sorted(r["id"] for r in df.collect()) == sorted(
        r["id"] for r in expect.collect()
    )
    # maintenance composes with history: pre-compact snapshot intact
    assert store.read(1).count() == n


def test_compact_rejects_sort_and_zorder_together(spark, tmp_path):
    store = VersionedStore(spark, str(tmp_path / "zboth"))
    store.append(spark.range(10).select(F.col("id"), (F.col("id") % 3).alias("x")))
    with pytest.raises(ValueError, match="not both"):
        store.compact(sort_by="id", zorder_by=["x"])


# -- tags (named immutable refs) ---------------------------------------------


def test_tag_create_read_and_immutability(spark, store):
    store.append(spark.range(10).select(F.col("id")))
    store.append(spark.range(10, 30).select(F.col("id")))
    v = store.create_tag("release-1")  # defaults to head
    assert v == 1 and store.tags() == {"release-1": 1}
    store.create_tag("bootstrap", version=0)
    assert store.read(tag="bootstrap").count() == 10
    assert store.read(tag="release-1").count() == 30
    # immutable: re-creating raises; delete then recreate moves it
    with pytest.raises(ValueError, match="tag exists"):
        store.create_tag("release-1", version=0)
    store.delete_tag("release-1")
    store.create_tag("release-1", version=0)
    assert store.resolve_tag("release-1") == 0
    with pytest.raises(ValueError, match="no such tag"):
        store.read(tag="nope")
    with pytest.raises(ValueError, match="version OR tag"):
        store.read(version=0, tag="bootstrap")
    with pytest.raises(ValueError, match="invalid ref name"):
        store.create_tag("../escape")
    with pytest.raises(ValueError, match="no snapshot"):
        store.create_tag("future", version=99)


def test_tagged_snapshot_survives_vacuum(spark, store):
    store.append(spark.range(5).select(F.col("id")))
    store.create_tag("pinned", version=0)
    for k in range(1, 5):
        store.append(spark.range(5 * k, 5 * (k + 1)).select(F.col("id")))
    removed = store.vacuum(keep_last=1, min_age_s=0.0)
    # v0's manifest and files survive because the tag references them...
    assert store.read(tag="pinned").count() == 5
    assert {r["id"] for r in store.read(tag="pinned").collect()} == set(range(5))
    # ...but untagged middle versions were vacuumed away
    with pytest.raises(Exception):
        store.read(1)
    # delete the tag -> the snapshot becomes vacuum-eligible
    store.delete_tag("pinned")
    store.vacuum(keep_last=1, min_age_s=0.0)
    with pytest.raises(Exception):
        store.read(0)
    assert removed is not None


# -- incremental small-file OPTIMIZE ------------------------------------------


def test_optimize_small_files_packs_only_small(spark, store):
    import os as _os

    for k in range(4):  # four tiny appends = the small-file debt
        store.append(spark.range(10 * k, 10 * (k + 1)).coalesce(1))
    store.append(spark.range(1000, 9000).coalesce(1))  # one big file
    man = store._manifest(store.latest_version())
    sizes = {
        f: _os.path.getsize(_os.path.join(store.data_dir, f)) for f in man["files"]
    }
    big = max(sizes, key=sizes.get)
    threshold = sizes[big]  # strictly-below -> big file exempt
    before_mtime = _os.path.getmtime(_os.path.join(store.data_dir, big))
    v = store.optimize_small_files(threshold)
    after = store._manifest(v)["files"]
    assert big in after  # untouched, not rewritten
    assert _os.path.getmtime(_os.path.join(store.data_dir, big)) == before_mtime
    # 4 small files became 1 packed file
    assert len(after) == 2
    assert store.read().count() == 40 + 8000
    assert {r["id"] for r in store.read(v - 1).collect()} == {
        r["id"] for r in store.read(v).collect()
    }
    # no-op when nothing qualifies: same head returned, no new commit
    assert store.optimize_small_files(1) == v


def test_optimize_inherits_tombstones(spark, store):
    for k in range(3):
        store.append(
            spark.range(100 * k, 100 * (k + 1)).select(
                F.col("id"), (F.col("id") % 7).alias("k")
            ).coalesce(1)
        )
    store.delete_keys_where(F.col("k") == 3, key="id")
    expect = {r["id"] for r in store.read().collect()}
    v = store.optimize_small_files(1 << 30)  # everything is "small"
    assert {r["id"] for r in store.read(v).collect()} == expect
    # tombstones survive the commit (they still guard nothing-here, but
    # optimize must not clear state it didn't fully materialize table-wide)
    assert store._manifest(v).get("delete_files")


# ---------------------------------------------------------------------------
# r5 ADVICE regressions: optimize vs vanished files; vacuum vs concurrent
# tagging (the TOCTOU window on the retention-exempt guarantee).
# ---------------------------------------------------------------------------


def test_optimize_conflicts_when_manifest_file_vanishes(spark, store):
    """A concurrent vacuum/compact can remove a file the manifest we read
    still lists; the size probe must surface CommitConflict (the method's
    documented rerun contract), not leak FileNotFoundError (ADVICE r4)."""
    for k in range(3):
        store.append(spark.range(10 * k, 10 * (k + 1)).select(F.col("id")).coalesce(1))
    victim = store._manifest(store.latest_version())["files"][0]
    os.unlink(os.path.join(store.data_dir, victim))
    with pytest.raises(CommitConflict):
        store.optimize_small_files(1 << 30)


def test_vacuum_rereads_tags_before_deleting(spark, store):
    """A tag created between vacuum's first tags() snapshot and its delete
    passes must still protect its manifest and files (ADVICE r4 TOCTOU).
    Simulated by tagging from inside a patched tags() on its second call."""
    store.append(spark.range(100).select(F.col("id")))            # v0
    store.append(spark.range(100, 200).select(F.col("id")))       # v1
    store.compact()                                               # v2

    orig_tags = store.tags
    state = {"calls": 0}

    def racy_tags():
        state["calls"] += 1
        if state["calls"] == 2:
            # concurrent tagger lands AFTER the first snapshot, BEFORE
            # the delete passes re-read
            store.tags = orig_tags
            store.create_tag("pin-v0", 0)
            store.tags = racy_tags
        return orig_tags()

    store.tags = racy_tags
    store.vacuum(keep_last=1, min_age_s=0)
    store.tags = orig_tags
    # the late tag protected v0: manifest retained, files readable
    assert store.read(tag="pin-v0").count() == 100


# --- r6 storage-engine review fixes -----------------------------------------


def test_vacuum_never_destroys_versions_newer_than_its_head(spark, store):
    """A writer that commits DURING a vacuum publishes a complete
    version; the manifest sweep must never unlink versions newer than
    the head the vacuum read (the pre-r6 sweep destroyed them)."""
    for i in range(4):
        store.append(spark.range(i * 10, (i + 1) * 10).select(F.col("id")))
    # simulate the concurrent commit landing mid-vacuum: v4 exists on
    # disk but the vacuum's head/window snapshot predates it — reproduce
    # by monkeypatching latest_version for the duration of the sweep
    real_latest = store.latest_version
    store.append(spark.range(40, 50).select(F.col("id")))  # v4
    store.latest_version = lambda: 3
    try:
        # min_age grace ON (the documented live-writer precondition):
        # it protects the concurrent commit's DATA files; this test pins
        # that the manifest sweep also spares its MANIFEST
        store.vacuum(keep_last=2, min_age_s=3600)
    finally:
        store.latest_version = real_latest
    assert os.path.exists(os.path.join(store.manifest_dir, "v4.json"))
    assert store.read(4).count() == 50
    # versions inside the head the vacuum read are still swept normally
    assert not os.path.exists(os.path.join(store.manifest_dir, "v0.json"))


def test_rollback_restores_target_tombstones_and_schema(spark, store):
    """rollback() must restore the TARGET's equality tombstones, not
    inherit the current head's (which resurrected deleted rows when the
    head had materialized them)."""
    store.append(spark.range(10).select(F.col("id"), (F.col("id") % 3).alias("k")))
    v_del = store.delete_keys_where(F.col("k") == 1, "id")  # hide ids 1,4,7? no: k==1 -> ids with id%3==1
    hidden = {1, 4, 7}
    assert {r["id"] for r in store.read(v_del).collect()} == set(range(10)) - hidden
    v_compact = store.compact()  # materializes tombstones, clears delete_files
    assert {r["id"] for r in store.read(v_compact).collect()} == set(range(10)) - hidden
    # restore the tombstoned-but-unmaterialized version: its hidden rows
    # must STAY hidden even though the current head carries no tombstones
    v_rb = store.rollback(v_del)
    assert {r["id"] for r in store.read(v_rb).collect()} == set(range(10)) - hidden


def test_table_changes_empty_diff_returns_empty_feed(spark, store):
    """No structural change between versions -> an EMPTY feed with the
    promised (row..., _change) schema, not None (None crashed IVM's
    apply_group_delta)."""
    store.append(spark.range(5).select(F.col("id")))
    store.create_tag("pin")  # tag-only activity: no new version at all
    feed = store.table_changes(0, 0)
    assert feed is not None
    assert feed.count() == 0
    assert "_change" in feed.columns and "id" in feed.columns


def test_subscribe_replacement_gets_fresh_checkpoint_and_full_log(spark, tmp_path):
    """Replacing a subscriber (O4 last-write-wins) must hand the NEW
    subscriber the whole log, not the replaced query's committed
    offsets; re-invoking consume() on the same subscription keeps the
    checkpoint (the restart path)."""
    from event_streaming_spark.streaming.agency import EventsAgency

    agency = EventsAgency(spark, root=str(tmp_path / "agency"), log_format="json")
    seen_a, seen_b = [], []
    agency.topic("b", "t").publish(
        [{"event_id": i, "event_type": "x"} for i in range(3)]
    )
    ctx = agency.subscribe("b", "t", lambda c, df, bid: seen_a.append(df.count()))
    cp_a = ctx.checkpoint_dir
    assert sum(seen_a) == 3
    # replacement subscriber: new checkpoint namespace, sees the FULL log
    ctx2 = agency.subscribe("b", "t", lambda c, df, bid: seen_b.append(df.count()))
    assert ctx2 is ctx and ctx.checkpoint_dir != cp_a
    assert sum(seen_b) == 3, "replacement subscriber must re-read the log"
    # same-subscription restart (consume again) keeps the checkpoint:
    # nothing new published -> nothing re-delivered
    before = sum(seen_b)
    ctx.consume(lambda c, df, bid: seen_b.append(df.count()), once=True)
    assert sum(seen_b) == before
    agency.close(remove_logs=True)


def test_join_ivm_same_key_updates_both_sides(spark, tmp_path):
    """The ΔE⋈ΔC sign-product leg must net out SAME-KEY updates on BOTH
    sides of the join in ONE epoch (the Z-set multiplicity algebra,
    VERDICT r7 #3): with user 2's events re-priced AND user 2's segment
    reassigned between the cursor and head, the maintained view must
    equal the head-×-head recompute exactly — no double count from the
    stale (new-event × old-customer) / (old-event × new-customer)
    cross terms, which only the delete×delete = +1 product cancels."""
    from event_streaming_spark.operators.ivm import apply_group_delta, count_sum_view

    es = VersionedStore(spark, str(tmp_path / "e"))
    cs = VersionedStore(spark, str(tmp_path / "c"))
    e0 = spark.createDataFrame(
        [(i, i % 5, f"t{i % 3}", 100 + i) for i in range(40)],
        "event_id long, user_id long, event_type string, cents long",
    )
    c0 = spark.createDataFrame(
        [(u, f"seg{u % 2}") for u in range(5)], "c_custkey long, segment string"
    )
    v0e, v0c = es.append(e0), cs.append(c0)
    e_old, c_old = es.read(v0e), cs.read(v0c)
    view = count_sum_view(
        e_old.join(c_old, e_old.user_id == c_old.c_custkey).select(
            "segment", "event_type", "cents"
        ),
        ["segment", "event_type"],
        "cents",
    )

    # ONE epoch, both sides touching user 2: every user-2 event re-priced
    # ×10, AND customer 2 reassigned — the case fixture-disjoint change
    # classes never exercise.
    es.merge(
        e0.filter("user_id = 2").withColumn("cents", F.col("cents") * 10),
        key="event_id",
    )
    cs.merge(
        spark.createDataFrame([(2, "MOVED")], "c_custkey long, segment string"),
        key="c_custkey",
    )

    def feed(store, v_from):
        return (
            store.table_changes(v_from, store.latest_version())
            .withColumn(
                "_s",
                F.when(F.col("_change") == "insert", F.lit(1)).otherwise(F.lit(-1)),
            )
            .drop("_change")
        )

    d_e, d_c = feed(es, v0e), feed(cs, v0c)

    def term(left, right, sign):
        return left.join(right, left["user_id"] == right["c_custkey"]).select(
            "segment", "event_type", "cents", sign.cast("long").alias("_s")
        )

    delta = (
        term(d_e, c_old, F.col("_s"))
        .unionByName(term(e_old, d_c, F.col("_s")))
        .unionByName(
            term(
                d_e.withColumnRenamed("_s", "_se"),
                d_c.withColumnRenamed("_s", "_sc"),
                F.col("_se") * F.col("_sc"),
            )
        )
    )
    got = sorted(
        map(
            tuple,
            apply_group_delta(
                view, delta, ["segment", "event_type"], "cents", sign_col="_s"
            ).collect(),
        )
    )
    e_h, c_h = es.read(), cs.read()
    want = sorted(
        map(
            tuple,
            count_sum_view(
                e_h.join(c_h, e_h.user_id == c_h.c_custkey).select(
                    "segment", "event_type", "cents"
                ),
                ["segment", "event_type"],
                "cents",
            ).collect(),
        )
    )
    assert got == want
    # the cancellation is real: user 2 has events in the epoch's delta,
    # so the ΔE⋈ΔC leg is non-empty (guards against a future edit making
    # the test vacuous by emptying the cross term)
    cross = term(
        d_e.withColumnRenamed("_s", "_se"),
        d_c.withColumnRenamed("_s", "_sc"),
        F.col("_se") * F.col("_sc"),
    )
    assert cross.count() > 0


def test_branch_zero_copy_fork_isolation_and_merge(spark, store):
    """A branch forks at a snapshot with ZERO data copy, its writes are
    invisible to main until merge_branch, and the fast-forward merge
    publishes the branch head as main's next version atomically."""
    import os

    store.append(spark.createDataFrame([(i, i % 3) for i in range(90)], "id long, k long"))
    files_before = set(os.listdir(store.data_dir))
    br = store.branch("exp")
    # zero copy: branching created no data files
    assert set(os.listdir(store.data_dir)) == files_before
    assert sorted(map(tuple, br.read().collect())) == sorted(
        map(tuple, store.read().collect())
    )

    br.append(spark.createDataFrame([(100, 9)], "id long, k long"))
    br.merge(spark.createDataFrame([(0, 42)], "id long, k long"), key="id")
    # isolation: main unchanged while the branch diverged
    assert store.latest_version() == 0
    assert store.read().count() == 90
    assert br.read().count() == 91
    assert [tuple(r) for r in br.read().where("id = 0").collect()] == [(0, 42)]

    v = store.merge_branch("exp")
    assert v == 1
    got = sorted(map(tuple, store.read().collect()))
    want = sorted(map(tuple, br.read().collect()))
    assert got == want
    assert store._manifest(v)["op"] == "merge_branch"


def test_branch_merge_conflicts_when_main_advances(spark, store):
    store.append(spark.createDataFrame([(1, 1)], "id long, k long"))
    br = store.branch("exp2")
    br.append(spark.createDataFrame([(2, 2)], "id long, k long"))
    store.append(spark.createDataFrame([(3, 3)], "id long, k long"))  # main moves
    with pytest.raises(CommitConflict):
        store.merge_branch("exp2")
    # main state untouched by the failed merge
    assert store.read().count() == 2


def test_branch_tombstones_carry_through_merge(spark, store):
    store.append(
        spark.createDataFrame([(i, i % 2) for i in range(10)], "id long, k long")
    )
    br = store.branch("cleanup")
    br.delete_keys_where(F.col("k") == 1, key="id")
    assert store.read().count() == 10  # isolation
    store.merge_branch("cleanup")
    assert store.read().count() == 5  # MoR tombstones rode the merge
    assert all(r["k"] == 0 for r in store.read().collect())


def test_branch_duplicate_name_rejected(spark, store):
    store.append(spark.createDataFrame([(1, 1)], "id long, k long"))
    store.branch("dup")
    with pytest.raises(ValueError):
        store.branch("dup")


# ---------------------------------------------------------------------------
# key-range pruned merge and schema-known reads
# ---------------------------------------------------------------------------


def _job_ids(spark, fn):
    """``(fn(), ids of the Spark jobs fn launched)``."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _record_read_files(monkeypatch, store) -> list[list[str]]:
    calls: list[list[str]] = []
    orig = store.read_files

    def recording(files, version=None):
        calls.append(list(files))
        return orig(files, version)

    monkeypatch.setattr(store, "read_files", recording)
    return calls


_clustered = st.builds(
    lambda start, n: list(range(start, start + n)),
    st.integers(-30, 60),
    st.integers(1, 10),
)
_scattered = st.lists(st.integers(-40, 80), min_size=1, max_size=10, unique=True)
_step = st.tuples(
    st.sampled_from(["append", "merge"]),
    st.one_of(_clustered, _scattered),
    st.integers(0, 2),  # rows with a NULL key
)


@given(key_type=st.sampled_from(["long", "string"]), steps=st.lists(_step, min_size=2, max_size=4))
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
def test_pruned_merge_matches_dict_upsert(spark, tmp_path_factory, key_type, steps):
    """Random appends and merges (clustered, scattered and NULL keys):
    after every step the table equals a Python dict upsert.  String keys
    are unpadded decimals, so their byte order differs from the numeric
    one the files were clustered by."""
    store = VersionedStore(spark, str(tmp_path_factory.mktemp("prop") / "t"))
    as_key = int if key_type == "long" else str
    latest: dict = {}  # non-NULL key -> value
    null_rows: list[str] = []  # NULL keys never match: every one is kept
    for i, (op, keys, n_null) in enumerate(steps):
        if op == "append":  # fresh keys only, so the model stays a dict
            keys = [k for k in keys if as_key(k) not in latest]
        rows = [(as_key(k), f"{i}:{k}") for k in keys]
        rows += [(None, f"{i}:null{j}") for j in range(n_null)]
        if not rows:
            continue
        df = spark.createDataFrame(rows, f"k {key_type}, v string")
        if op == "append":
            store.append(df)
        else:
            store.merge(df, key="k")
        latest.update((k, v) for k, v in rows if k is not None)
        null_rows += [v for k, v in rows if k is None]
        got = store.read().collect()
        assert {r["k"]: r["v"] for r in got if r["k"] is not None} == latest, f"step {i}"
        assert sum(r["k"] is not None for r in got) == len(latest), f"step {i}"
        assert sorted(r["v"] for r in got if r["k"] is None) == sorted(null_rows)


def test_merge_probes_only_files_whose_key_range_overlaps(spark, store, monkeypatch):
    by_range = []
    for i in range(6):
        before = set(store.files())
        store.append(
            spark.range(i * 100, (i + 1) * 100)
            .select(F.col("id"), F.lit(i).alias("v"))
            .coalesce(1)
        )
        by_range.append(set(store.files()) - before)
    probed = _record_read_files(monkeypatch, store)
    v = store.merge(
        spark.range(310, 320).select(F.col("id"), F.lit(99).alias("v")), key="id"
    )
    assert probed and all(set(files) <= by_range[3] for files in probed)
    after = set(store.files(v))
    for i in (0, 1, 2, 4, 5):
        assert by_range[i] <= after  # carried over by name
    # a batch whose one key is a file's max still hits that file
    v = store.merge(spark.createDataFrame([(399, 7)], "id long, v int"), key="id")
    rows = [(r["id"], r["v"]) for r in store.read(v).collect()]
    assert len(rows) == 600
    want = {k: 99 if 310 <= k < 320 else 7 if k == 399 else k // 100 for k in range(600)}
    assert dict(rows) == want


def test_merge_keeps_a_file_without_key_stats_as_candidate(spark, store, monkeypatch):
    # the first file predates the key column (added by merge_schema), so
    # its footer has no range for it
    store.append(spark.createDataFrame([("a",), ("b",)], "v string").coalesce(1))
    (keyless,) = store.files()
    store.append(
        spark.createDataFrame([("c", 1), ("d", 2)], "v string, id long").coalesce(1),
        merge_schema=True,
    )
    probed = _record_read_files(monkeypatch, store)
    store.merge(spark.createDataFrame([("D", 2), ("e", 3)], "v string, id long"), key="id")
    assert keyless in probed[0]
    got = sorted(((r["v"], r["id"]) for r in store.read().collect()), key=str)
    assert got == sorted([("a", None), ("b", None), ("c", 1), ("D", 2), ("e", 3)], key=str)


def test_first_merge_records_schema_and_read_builds_without_jobs(spark, store):
    assert store.table_schema() is None
    store.merge(spark.createDataFrame([(1, "x"), (2, "y")], "id long, k string"), key="id")
    assert store.table_schema().simpleString() == "struct<id:bigint,k:string>"
    store.merge(spark.createDataFrame([(2, "z"), (3, "w")], "id long, k string"), key="id")
    assert len(store.files()) < 32  # parallel file listing starts at 32 paths
    df, jobs = _job_ids(spark, store.read)
    assert jobs == []
    assert sorted(map(tuple, df.collect())) == [(1, "x"), (2, "z"), (3, "w")]


def test_zonemap_box_missing_every_file_reads_no_file(spark, tmp_path):
    from event_streaming_spark.operators.zonemap import IncrementalZoneMap

    store = VersionedStore(spark, str(tmp_path / "zmiss"))
    # over 32 files: a read of the snapshot would list them in a Spark job
    store.append(spark.range(0, 80, 1, 40).select(F.col("id"), F.lit("a").alias("s")))
    assert len(store.files()) > 32
    zm = IncrementalZoneMap(store, "id")
    zm.refresh()
    (df, n_read, _), jobs = _job_ids(spark, lambda: zm.pruned_read(1000, 2000))
    assert jobs == []
    assert n_read == 0
    assert df.columns == ["id", "s"]
    assert df.count() == 0
