"""Versioned-storage queries: exercise snapshot isolation / time travel /
MERGE under the differential oracle, not just pytest.

The query builds a real ``VersionedStore`` (manifest-based, snapshot-
isolated — sources/versioned.py) from the sf events table, runs a
keep-latest MERGE on top, then reads BOTH the pre-merge snapshot (time
travel) and the head state.  Because every commit is a deterministic
function of the input table, the oracle can reconstruct both states in
pure SQL over the raw parquet — equality proves the storage layer loses
nothing and the old snapshot stays byte-stable after the merge.

Reference parity: the reference's event store keeps an append log and a
keyed latest-state view (see sources/store.py citations); the versioned
form is the durable MERGE/time-travel shape a 100 TB deployment needs
(Delta/Iceberg transaction pattern, implemented manifest-first here).

Scale: the store write is a parquet append partitioned by the session's
shuffle parallelism; MERGE rewrites only the base files (copy-on-write)
after an anti-join on the merge key; time travel reads the old manifest's
file list — no extra shuffle beyond the final aggregate.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from event_streaming_spark.plans.catalog import capture_plan, load, register
from event_streaming_spark.functions.hashing import sql_stable_hash32
from event_streaming_spark.sources.versioned import VersionedStore

# Fixed-point cents keep both engines exact-integer; the outer CAST to
# BIGINT stops DuckDB widening sum() to int128 (lint: no HUGEINT outputs).
_VER_ORACLE = """
WITH v1 AS (
  SELECT event_type, value FROM events
), head AS (
  SELECT event_type,
         CASE WHEN event_type = 'click' THEN value * 2 ELSE value END AS value
  FROM events
), a AS (
  SELECT event_type, count(*) AS n_v1,
         cast(sum(cast(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents_v1
  FROM v1 GROUP BY event_type
), b AS (
  SELECT event_type,
         cast(sum(cast(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents_head
  FROM head GROUP BY event_type
)
SELECT a.event_type, a.n_v1, a.sum_cents_v1, b.sum_cents_head
FROM a JOIN b ON a.event_type = b.event_type
"""


def _cents(col: str):
    return F.sum(F.round(F.col(col) * 100).cast("bigint")).cast("bigint")


@register(
    "versioned_time_travel_merge",
    _VER_ORACLE,
    tags=("storage", "versioned", "cdc", "merge"),
)
def versioned_time_travel_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    root = tempfile.mkdtemp(prefix="est-versioned-q-")
    store = VersionedStore(spark, root)
    v1 = store.append(ev)
    # Keep-latest MERGE: every click row is replaced by a doubled-value
    # update keyed on event_id; non-click rows are untouched base rows.
    updates = ev.filter(F.col("event_type") == "click").withColumn(
        "value", F.col("value") * 2
    )
    store.merge(updates, key="event_id")
    old = (
        store.read(v1)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_v1"),
            _cents("value").alias("sum_cents_v1"),
        )
    )
    head = (
        store.read()
        .groupBy("event_type")
        .agg(_cents("value").alias("sum_cents_head"))
    )
    return old.join(head, "event_type").select(
        "event_type", "n_v1", "sum_cents_v1", "sum_cents_head"
    )


# ---------------------------------------------------------------------------
# TPC-H refresh streams (RF1 insert / RF2 delete) through the
# VersionedStore.  The reference workload family this catalog's q1-q22
# sweep mirrors defines two refresh functions: RF1 inserts a new batch
# of orders, RF2 deletes an old cohort.  Here both run as versioned
# commits — append and copy-on-write delete — and the query reads ALL
# THREE snapshots (base, +RF1, +RF1−RF2) via time travel in one result,
# so the driver's hash check pins insert correctness, delete
# correctness, and snapshot stability simultaneously.
#
# Determinism: the RF1 batch is synthesized from existing orders
# (o_orderkey % 97 == 0) with keys shifted past max(o_orderkey); the
# RF2 cohort is o_orderkey % 89 == 0 — both reconstructible in pure
# SQL, so the oracle recomputes every state from the raw table.
#
# Scale: append cost = new batch size; the COW delete rewrites only
# files containing matches (file-level pruning via _metadata); the
# three reads share the immutable base files.
# ---------------------------------------------------------------------------

_RF_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_totalprice FROM orders
), rf1 AS (
  SELECT o_orderkey + (SELECT max(o_orderkey) + 1 FROM orders) AS o_orderkey,
         o_totalprice
  FROM orders WHERE o_orderkey % 97 = 0
), v1 AS (
  SELECT * FROM base UNION ALL SELECT * FROM rf1
), v2 AS (
  SELECT * FROM v1 WHERE o_orderkey % 89 <> 0
), s0 AS (
  SELECT count(*) AS n, cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM base
), s1 AS (
  SELECT count(*) AS n, cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM v1
), s2 AS (
  SELECT count(*) AS n, cast(sum(cast(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM v2
)
SELECT 0 AS version, s0.n AS n_orders, s0.cents AS sum_cents FROM s0
UNION ALL
SELECT 1, s1.n, s1.cents FROM s1
UNION ALL
SELECT 2, s2.n, s2.cents FROM s2
ORDER BY version
"""


@register(
    "tpch_refresh_streams_versioned",
    _RF_ORACLE,
    tags=("storage", "versioned", "tpch", "refresh"),
)
def tpch_refresh_streams_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    root = tempfile.mkdtemp(prefix="est-rf-q-")
    store = VersionedStore(spark, root)
    v0 = store.append(orders)
    shift = orders.agg(F.max("o_orderkey")).first()[0] + 1
    rf1 = orders.where(F.col("o_orderkey") % 97 == 0).select(
        (F.col("o_orderkey") + shift).alias("o_orderkey"), "o_totalprice"
    )
    v1 = store.append(rf1)
    store.delete_where("o_orderkey % 89 = 0")
    v2 = store.latest_version()

    def snap(version: int, tag: int) -> DataFrame:
        return (
            store.read(version)
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
                .cast("bigint")
                .alias("sum_cents"),
            )
            .select(F.lit(tag).alias("version"), "n_orders", "sum_cents")
        )

    return snap(v0, 0).unionByName(snap(v1, 1)).unionByName(snap(v2, 2)).orderBy(
        "version"
    )


# ---------------------------------------------------------------------------
# Tags under the oracle: a named immutable ref pins a snapshot through
# RETENTION.  v0 (even event_ids) is tagged `baseline`; two more commits
# land (odd-id append, then a copy-on-write delete of clicks); vacuum
# with keep_last=1 then drops every untagged old snapshot — the tagged
# v0 manifest AND its files survive ONLY because the tag references
# them.  The query reads the tag and the head and returns both rollups;
# the oracle reconstructs the two states from the raw table, so the
# driver's hash pins tag resolution, vacuum protection, and snapshot
# stability in one row set.
#
# Scale: tag publication is one O(1) atomic ref write; vacuum scans
# manifests + the data-dir listing (metadata-sized, never data).
# ---------------------------------------------------------------------------

_TAG_ORACLE = """
WITH tagged AS (
  SELECT event_type, value FROM events WHERE event_id % 2 = 0
), head AS (
  SELECT event_type, value FROM events WHERE event_type <> 'click'
), a AS (
  SELECT event_type, count(*) AS n_tag,
         cast(sum(cast(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents_tag
  FROM tagged GROUP BY event_type
), b AS (
  SELECT event_type, count(*) AS n_head
  FROM head GROUP BY event_type
)
SELECT a.event_type, a.n_tag, a.sum_cents_tag,
       cast(coalesce(b.n_head, 0) AS BIGINT) AS n_head
FROM a LEFT JOIN b ON a.event_type = b.event_type
ORDER BY a.event_type
"""


@register(
    "versioned_tag_pinned_read",
    _TAG_ORACLE,
    tags=("storage", "versioned", "tags", "retention"),
)
def versioned_tag_pinned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    root = tempfile.mkdtemp(prefix="est-tag-q-")
    store = VersionedStore(spark, root)
    store.append(ev.filter(F.col("event_id") % 2 == 0))  # v0
    store.create_tag("baseline")  # pins v0
    store.append(ev.filter(F.col("event_id") % 2 == 1))  # v1
    store.delete_where(F.col("event_type") == "click")  # v2 (COW)
    # keep_last=1 would normally drop v0/v1; the tag exempts v0
    store.vacuum(keep_last=1, min_age_s=0.0)
    tag = (
        store.read(tag="baseline")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_tag"),
            _cents("value").alias("sum_cents_tag"),
        )
    )
    head = store.read().groupBy("event_type").agg(F.count(F.lit(1)).alias("n_head"))
    return (
        tag.join(head, "event_type", "left")
        .select(
            "event_type",
            "n_tag",
            "sum_cents_tag",
            F.coalesce(F.col("n_head"), F.lit(0)).cast("bigint").alias("n_head"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Incremental OPTIMIZE under the oracle: four small appends + one big
# append build a table with small-file debt; a merge-on-read delete
# commits tombstones; optimize_small_files packs ONLY the small files
# (the big file is untouched — maintenance proportional to debt).  The
# read after all that must equal the plain reconstruction from the raw
# table: packing, tombstone inheritance, and subset-materialized deletes
# all have to be semantically invisible.  Scale: the rewrite reads only
# the packed subset; commit conflict surface excludes concurrent appends.
# ---------------------------------------------------------------------------

_OPT_ORACLE = """
SELECT event_type,
       count(*) AS n_events,
       cast(sum(cast(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events
WHERE event_type <> 'click'
GROUP BY event_type
ORDER BY event_type
"""


@register(
    "versioned_optimize_packed_scan",
    _OPT_ORACLE,
    tags=("storage", "versioned", "optimize", "maintenance"),
)
def versioned_optimize_packed_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    root = tempfile.mkdtemp(prefix="est-opt-q-")
    store = VersionedStore(spark, root)
    # small-file debt: four slivers, then one big file
    for k in range(4):
        store.append(ev.filter(F.col("event_id") % 20 == k).coalesce(1))
    store.append(ev.filter(F.col("event_id") % 20 >= 4).coalesce(1))
    # merge-on-read delete BEFORE the pack: tombstones must be inherited
    store.delete_keys_where(F.col("event_type") == "click", key="event_id")
    import os as _os

    sizes = sorted(
        _os.path.getsize(_os.path.join(store.data_dir, f))
        for f in store._manifest(store.latest_version())["files"]
    )
    store.optimize_small_files(min_bytes=sizes[-1])  # big file exempt
    return (
        store.read()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _cents("value").alias("sum_cents"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# CDC change feed + incremental view maintenance under the oracle gate.
# The store takes an append (v1), a keyed MERGE (updates double the value
# of every 5th event), and a MoR tombstone delete (every 7th event drops
# out) — then the maintained per-type (count, sum) view is produced by
# applying ONLY the v1→v3 change feed to the v1 aggregate
# (operators/ivm.py::apply_group_delta): the base table is never
# re-aggregated.  DuckDB recomputes the head state directly; equality
# proves feed completeness (MERGE's copy-on-write rewrite surfaces as
# delete+insert pairs, the tombstone delete through the logical-diff
# path) AND the group-delta algebra.
#
# Reference parity: the event store's keyed upsert/delete surface
# (SURVEY O11/O16/O27); the feed/IVM pair is how a 100 TB deployment
# keeps derived aggregates fresh at delta cost, not base cost.
# Scale: the feed reads only added/removed files (file-level diff);
# apply_group_delta is one aggregate over the DELTA plus an outer join
# on the view's own keys.
# ---------------------------------------------------------------------------

_CDC_ORACLE = """
WITH base AS (
  SELECT event_id, event_type, cast(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_id % 3 <> 0
), head AS (
  SELECT event_id, event_type,
         CASE WHEN event_id % 5 = 0 THEN cents * 2 ELSE cents END AS cents
  FROM base WHERE event_id % 7 <> 0
)
SELECT event_type,
       count(*) AS n,
       cast(sum(cents) AS BIGINT) AS sum_cents
FROM head GROUP BY event_type ORDER BY event_type
"""


@register(
    "versioned_cdc_ivm_rollup",
    _CDC_ORACLE,
    tags=("storage", "versioned", "cdc", "ivm"),
)
def versioned_cdc_ivm_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_streaming_spark.operators.ivm import apply_group_delta, count_sum_view

    base = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_id") % 3 != 0)
        .select(
            "event_id",
            "event_type",
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
    )
    root = tempfile.mkdtemp(prefix="est-cdc-ivm-q-")
    store = VersionedStore(spark, root)
    v1 = store.append(base)
    # the view as of v1 — the ONLY base-table aggregation in this plan
    view1 = count_sum_view(store.read(version=v1), ["event_type"], "cents")
    updates = base.filter(F.col("event_id") % 5 == 0).withColumn(
        "cents", F.col("cents") * 2
    )
    store.merge(updates, key="event_id")
    store.delete_keys_where(F.col("event_id") % 7 == 0, key="event_id")
    v3 = store.latest_version()
    feed = store.table_changes(v1, v3)
    view = apply_group_delta(view1, feed, ["event_type"], "cents")
    return view.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.col("s").cast("bigint").alias("sum_cents"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Bloom-filter file skipping under the oracle gate: the events table is
# laid out hash-partitioned by user_id (so event_id zones span every
# file — min/max CANNOT prune a point probe), a per-file Bloom manifest
# is built on event_id, and five deterministic point lookups read only
# the files whose bitmap contains the probe.  Equality is re-applied as
# the residual filter, so Bloom false positives cannot affect the
# answer; tests/test_bloomindex.py asserts the skipping itself.
#
# Scale: at 100 TB the manifest is one 16 KiB bitmap per file (what
# Delta/Iceberg store natively); the probe is O(#files · k) driver bit
# tests and the data read touches ~1 + fp·#files files per lookup
# instead of all of them.
# ---------------------------------------------------------------------------

_BLOOM_ORACLE = """
WITH m AS (SELECT max(event_id) AS mx FROM events),
p AS (
  SELECT DISTINCT (mx * k) // 7 AS pid
  FROM m, (SELECT unnest(generate_series(1, 5)) AS k)
)
SELECT e.event_id, e.event_type,
       cast(round(e.value * 100) AS BIGINT) AS cents
FROM events e JOIN p ON e.event_id = p.pid
ORDER BY e.event_id
"""


@register(
    "events_bloom_pruned_lookup",
    _BLOOM_ORACLE,
    tags=("storage", "layout", "bloom", "lookup"),
)
def events_bloom_pruned_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_streaming_spark.operators.bloomindex import bloom_index, pruned_read_eq

    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    mx = int(ev.agg(F.max("event_id")).first()[0])
    probes = sorted({(mx * k) // 7 for k in range(1, 6)})
    # rows-per-file sized for the Bloom fp budget (~15k keys per file at
    # m=2^17, k=5 → ~2% fp); event_ids are dense so mx+1 ≈ row count
    n_files = max(8, min(64, (mx + 1) // 15000))
    root = tempfile.mkdtemp(prefix="est-bloom-q-")
    ev.repartition(n_files, "user_id").write.mode("overwrite").parquet(root)
    manifest = bloom_index(spark, root, "event_id").localCheckpoint()
    out = None
    for pid in probes:
        df, _read, _total = pruned_read_eq(spark, root, manifest, "event_id", pid)
        out = df if out is None else out.unionByName(df)
    return out.select("event_id", "event_type", "cents").orderBy("event_id")


# ---------------------------------------------------------------------------
# Multi-format source parity: the same events, round-tripped through CSV
# (schema-on-read, no inference), JSON lines, and ORC, must aggregate
# bit-identically to the parquet source.  This is the "another source
# format" contract: an ingest layer that accepts whatever the producer
# emits may not change a single value.  Lossy-representation traps are
# closed by construction: the timestamp rides as epoch-µs int64 and the
# value as integer cents, so text formats (CSV/JSON) round-trip exactly;
# strings exercise the quoting/escaping path (props carries JSON with
# quotes and commas).
#
# Scale shape: each leg is one distributed write + one scan + one
# map-side-combining aggregate; formats differ only in the datasource,
# the plan above the scan is identical (columnar parquet/ORC prune and
# push down; CSV/JSON are full-row scans — which is exactly the
# trade-off this query makes visible in its own timings).
# ---------------------------------------------------------------------------

_FMT_ORACLE = """
WITH agg AS (
  SELECT count(*) AS n_events,
         count(DISTINCT user_id) AS n_users,
         cast(sum(cast(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents,
         min(epoch_us(ts)) AS min_ts_us,
         max(epoch_us(ts)) AS max_ts_us
  FROM events
)
SELECT f.format, agg.n_events, agg.n_users, agg.sum_value_cents,
       agg.min_ts_us, agg.max_ts_us
FROM (VALUES ('csv'), ('json'), ('orc')) f(format) CROSS JOIN agg
ORDER BY f.format
"""


@register(
    "events_multi_format_source_parity",
    _FMT_ORACLE,
    tags=("sources", "formats", "agg"),
)
def events_multi_format_source_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    ev = load(spark, sf_dir, "events").select(
        "event_id",
        # epoch-µs int64: exact through every text format
        (F.unix_micros(F.col("ts"))).alias("ts_us"),
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        "props",
    )
    root = tempfile.mkdtemp(prefix="est-formats-")
    try:
        ev.write.mode("overwrite").option("header", "true").csv(f"{root}/csv")
        ev.write.mode("overwrite").json(f"{root}/json")
        ev.write.mode("overwrite").orc(f"{root}/orc")
        schema = ev.schema
        legs = {
            # multiLine: a props value with an embedded newline is QUOTED
            # correctly by the writer but the default line-split reader
            # would cut it into two records (r6 review).  quote/escape are
            # left at defaults, which match the writer's defaults.
            "csv": spark.read.schema(schema)
            .option("header", "true")
            .option("multiLine", "true")
            .csv(f"{root}/csv"),
            "json": spark.read.schema(schema).json(f"{root}/json"),
            "orc": spark.read.orc(f"{root}/orc"),
        }
        outs = []
        for fmt, df in sorted(legs.items()):
            outs.append(
                df.agg(
                    F.count(F.lit(1)).alias("n_events"),
                    F.countDistinct("user_id").alias("n_users"),
                    F.sum("cents").cast("long").alias("sum_value_cents"),
                    F.min("ts_us").alias("min_ts_us"),
                    F.max("ts_us").alias("max_ts_us"),
                ).select(F.lit(fmt).alias("format"), "*")
            )
        res = outs[0]
        for o in outs[1:]:
            res = res.unionByName(o)
        # per-format scan → aggregate union: expose to the EXPLAINS dump
        # (the returned DataFrame is localized and can't show it)
        capture_plan("events_multi_format_source_parity/format_legs", res)
        # 3-row result; localize before the tempdir goes away
        pdf = res.orderBy("format").toPandas()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        pdf,
        "format string, n_events long, n_users long, sum_value_cents long, "
        "min_ts_us long, max_ts_us long",
    )


# ---------------------------------------------------------------------------
# Exactly-once streaming ingest INTO the versioned store — the production
# write path: topic → Structured Streaming → VersionedStore.sink, one
# atomic version per micro-batch, replay-safe at BOTH layers the system
# defends (graded in-plan, like the gateway's 401 and the restart drains'
# delta checks):
#
#   1. commit-level replay: a foreachBatch retry re-applies an
#      already-committed batch txn — the in-manifest txn token makes it
#      a no-op (append returns the unchanged head; Delta's
#      txnAppId/txnVersion discipline);
#   2. checkpoint-level replay: the ledger fast-path cache is wiped and
#      a whole second sink pass runs over the same checkpoint — no batch
#      recommits, no version moves.
#
# The graded output is the store HEAD's per-type rollup; the oracle is
# the same rollup over the raw events table — equality proves the three
# wave commits delivered every event exactly once THROUGH both replays.
#
# Reference parity: consumer callback → durable store (SURVEY O2/O3/O11).
# Scale: each micro-batch commit stages only its delta files (append =
# O(batch)); txn dedup reads the manifest head cache, never data.
# ---------------------------------------------------------------------------

_XO_ORACLE = """
SELECT event_type,
       count(*) AS n_events,
       cast(sum(cast(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events GROUP BY event_type ORDER BY event_type
"""


@register(
    "streaming_versioned_ingest_exactly_once",
    _XO_ORACLE,
    tags=("streaming", "storage", "versioned", "exactly-once"),
)
def streaming_versioned_ingest_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil as _sh

    from event_streaming_spark.sources.versioned import VersionedStore
    from event_streaming_spark.streaming.agency import EventsAgency

    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    root = tempfile.mkdtemp(prefix="est-xo-")
    try:
        agency = EventsAgency(
            spark, root=os.path.join(root, "topic"), log_format="parquet"
        )
        ctx = agency.topic("driver-gate", "ingest")
        ctx.schema = ev.schema
        store = VersionedStore(spark, os.path.join(root, "store"))
        ckpt = os.path.join(root, "ckpt")
        # three arrival waves, each drained to its own atomic version(s)
        for w in range(3):
            ctx.publish(ev.filter(F.col("event_id") % 3 == w))
            store.sink(ctx.stream(), checkpoint=ckpt).awaitTermination()
        v_head = store.latest_version()

        # (1) commit-level replay: re-apply an already-committed batch txn
        append_txns = sorted(t for t in store.committed_txns() if "#append#" in t)
        if not append_txns:  # -O-safe in-plan assertions throughout
            raise AssertionError("no append txn tokens recorded in manifests")
        v_replay = store.append(ev.limit(50), txn=append_txns[0])
        if v_replay != v_head or store.latest_version() != v_head:
            raise AssertionError("replayed batch txn created a new version")

        # (2) checkpoint-level replay: wipe the ledger fast-path cache and
        # run a full second sink pass over the same checkpoint
        _sh.rmtree(os.path.join(ckpt, "vstore-ledger"), ignore_errors=True)
        store.sink(ctx.stream(), checkpoint=ckpt).awaitTermination()
        if store.latest_version() != v_head:
            raise AssertionError("checkpoint replay re-committed batches")

        head = (
            store.read()
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.round(F.col("value") * 100).cast("bigint"))
                .cast("bigint")
                .alias("sum_cents"),
            )
            .orderBy("event_type")
        )
        capture_plan("streaming_versioned_ingest_exactly_once/head_rollup", head)
        # result-sized localization before the store tempdir goes away
        pdf = head.toPandas()
        agency.close(remove_logs=True)
    finally:
        _sh.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        pdf, "event_type string, n_events long, sum_cents long"
    )


# ---------------------------------------------------------------------------
# Incremental view maintenance over a JOIN with BOTH sides changing —
# the delta algebra beyond single-table rollups: for a materialized
# per-(segment, event_type) rollup of events ⋈ customers,
#
#   Δ(E ⋈ C) = ΔE ⋈ C_old  ∪  E_old ⋈ ΔC  ∪  ΔE ⋈ ΔC
#
# over SIGNED multisets (insert = +1, delete = −1; a term's sign is the
# product of its components' signs — a MERGE's copy-on-write rewrite
# surfaces as delete+insert pairs and cancels exactly).  Both bases live
# in VersionedStores: the deltas come from each store's CDC feed and the
# "_old" sides from TIME TRAVEL, so the maintained view is computed
# without ever re-joining the two HEAD tables — that full join exists
# only in the ORACLE, and equality proves feed completeness and the
# join-delta algebra simultaneously.
#
# Events changes: every 5th event's cents double (MERGE), every 7th
# event drops out (MoR delete).  Customer changes: every 3rd customer is
# reassigned to a new segment (MERGE) — the dimension-churn case that
# breaks naive "fact-delta-only" IVM.
#
# Scale: each Δ-term joins a DELTA against one base (index/pruned read),
# cost O(|Δ| · fan-in); the view update is apply_group_delta — one
# aggregate over the combined delta plus an outer join on the view's own
# keys.  The base-⋈-base join is never recomputed.
# ---------------------------------------------------------------------------

_IVM_JOIN_ORACLE = """
WITH e1 AS (
  SELECT event_id, user_id, event_type,
         cast(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_id % 3 <> 0
), e_head AS (
  SELECT event_id, user_id, event_type,
         CASE WHEN event_id % 5 = 0 THEN cents * 2 ELSE cents END AS cents
  FROM e1 WHERE event_id % 7 <> 0
), c_head AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 3 = 0 THEN 'REASSIGNED' ELSE c_mktsegment
         END AS segment
  FROM customer
)
SELECT c.segment, e.event_type,
       count(*) AS n,
       cast(sum(e.cents) AS BIGINT) AS sum_cents
FROM e_head e JOIN c_head c ON e.user_id = c.c_custkey
GROUP BY c.segment, e.event_type
ORDER BY c.segment, e.event_type
"""


@register(
    "versioned_cdc_ivm_join_rollup",
    _IVM_JOIN_ORACLE,
    tags=("storage", "versioned", "cdc", "ivm", "join"),
)
def versioned_cdc_ivm_join_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_streaming_spark.operators.ivm import apply_group_delta, count_sum_view

    e_base = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_id") % 3 != 0)
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
    )
    c_base = load(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    root = tempfile.mkdtemp(prefix="est-ivm-join-q-")
    import shutil as _sh

    try:
        es = VersionedStore(spark, f"{root}/e")
        cs = VersionedStore(spark, f"{root}/c")
        v1e, v1c = es.append(e_base), cs.append(c_base)
        e_old, c_old = es.read(version=v1e), cs.read(version=v1c)

        # the ONLY base-⋈-base join in this plan: the INITIAL view build
        view1 = count_sum_view(
            e_old.join(c_old, e_old.user_id == c_old.c_custkey).select(
                "segment", "event_type", "cents"
            ),
            ["segment", "event_type"],
            "cents",
        )

        # commits on BOTH sides
        es.merge(
            e_base.filter(F.col("event_id") % 5 == 0).withColumn(
                "cents", F.col("cents") * 2
            ),
            key="event_id",
        )
        es.delete_keys_where(F.col("event_id") % 7 == 0, key="event_id")
        cs.merge(
            c_base.filter(F.col("c_custkey") % 3 == 0).withColumn(
                "segment", F.lit("REASSIGNED")
            ),
            key="c_custkey",
        )

        d_e = es.table_changes(v1e, es.latest_version()).withColumn(
            "_s", F.when(F.col("_change") == "insert", F.lit(1)).otherwise(F.lit(-1))
        )
        d_c = cs.table_changes(v1c, cs.latest_version()).withColumn(
            "_s", F.when(F.col("_change") == "insert", F.lit(1)).otherwise(F.lit(-1))
        )

        def term(left, right, sign) -> DataFrame:
            # Each term carries its signed multiplicity (`_s`) explicitly:
            # for the ΔE ⋈ ΔC leg the sign is the PRODUCT of the two
            # feeds' signs — delete×delete contributes +1, exactly the
            # Z-set algebra — so same-key updates on BOTH sides in one
            # epoch net out arithmetically (pinned by
            # tests/test_versioned.py::test_join_ivm_same_key_updates_both_sides).
            return left.join(right, left["user_id"] == right["c_custkey"]).select(
                "segment",
                "event_type",
                "cents",
                sign.cast("long").alias("_s"),
            )

        delta = (
            term(d_e.drop("_change"), c_old, F.col("_s"))        # ΔE ⋈ C_old
            .unionByName(term(e_old, d_c.drop("_change"), F.col("_s")))  # E_old ⋈ ΔC
            .unionByName(
                term(
                    d_e.drop("_change").withColumnRenamed("_s", "_se"),
                    d_c.drop("_change").withColumnRenamed("_s", "_sc"),
                    F.col("_se") * F.col("_sc"),                 # ΔE ⋈ ΔC
                )
            )
        )
        view = apply_group_delta(
            view1, delta, ["segment", "event_type"], "cents", sign_col="_s"
        )
        out = view.select(
            "segment",
            "event_type",
            F.col("n").cast("bigint").alias("n"),
            F.col("s").cast("bigint").alias("sum_cents"),
        ).orderBy("segment", "event_type")
        capture_plan("versioned_cdc_ivm_join_rollup/delta_apply", out)
        # result-sized localization before the store tempdirs go away
        pdf = out.toPandas()
    finally:
        _sh.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        pdf, "segment string, event_type string, n long, sum_cents long"
    ).orderBy("segment", "event_type")


# ---------------------------------------------------------------------------
# CONTINUOUS CDC → IVM: the full production loop for a derived view —
# streaming upsert ingest into the versioned store (replay-safe
# ``upsert_sink``), and after every drained wave the maintained
# per-type rollup advances by applying ONLY the store's change feed
# since its cursor (``view ⊕ table_changes(cursor, head)``; cursor :=
# head).  Three waves arrive: the base corpus, then every-5th-event
# cents doubled, then every-3rd tripled (overlapping keys — upsert
# keeps latest, and the feed surfaces each overwrite as a
# delete+insert pair that the delta algebra nets out).  The base table
# is aggregated EXACTLY ONCE (the empty v0); everything after is
# delta-sized.  The oracle computes the final head rollup directly —
# equality proves the cursor discipline, feed completeness across
# MULTIPLE incremental applications, and merge semantics at once.
#
# Scale: each wave costs one ledgered micro-batch commit + one feed
# read (added/removed files only) + apply_group_delta (one aggregate
# over the delta, outer join on the view's own keys).  The view is
# never rebuilt; the loop is how a 100 TB deployment keeps derived
# aggregates fresh behind a streaming ingest.
# ---------------------------------------------------------------------------

_CIVM_ORACLE = """
WITH base AS (
  SELECT event_id, event_type,
         cast(round(value * 100) AS BIGINT) AS cents
  FROM events
), final AS (
  SELECT event_type,
         CASE WHEN event_id % 3 = 0 THEN cents * 3
              WHEN event_id % 5 = 0 THEN cents * 2
              ELSE cents END AS cents
  FROM base
)
SELECT event_type, count(*) AS n, cast(sum(cents) AS BIGINT) AS sum_cents
FROM final GROUP BY event_type ORDER BY event_type
"""


@register(
    "streaming_cdc_ivm_continuous",
    _CIVM_ORACLE,
    tags=("streaming", "storage", "versioned", "cdc", "ivm"),
    bench=True,  # r8: heaviest r7 streaming addition (streaming segment)
)
def streaming_cdc_ivm_continuous(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil as _sh

    from event_streaming_spark.operators.ivm import apply_group_delta, count_sum_view
    from event_streaming_spark.streaming.agency import EventsAgency

    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    waves = [
        ev,
        ev.filter(F.col("event_id") % 5 == 0).withColumn("cents", F.col("cents") * 2),
        ev.filter(F.col("event_id") % 3 == 0).withColumn("cents", F.col("cents") * 3),
    ]
    root = tempfile.mkdtemp(prefix="est-civm-")
    try:
        agency = EventsAgency(
            spark, root=os.path.join(root, "topic"), log_format="parquet"
        )
        ctx = agency.topic("driver-gate", "civm")
        ctx.schema = ev.schema
        store = VersionedStore(spark, os.path.join(root, "store"))
        cursor = store.append(ev.limit(0))  # empty v0: the cursor origin
        # the ONLY base aggregation — of the EMPTY snapshot
        view = count_sum_view(store.read(version=cursor), ["event_type"], "cents")
        ckpt = os.path.join(root, "ckpt")
        n_applies = 0
        # ONE long-lived upsert query across all waves (r12): each wave
        # synchronizes on processAllAvailable() instead of starting and
        # tearing down a fresh availableNow query — the per-wave restart
        # cost (checkpoint resolution, offset-log replay, trigger
        # spin-up) is paid once per run, not once per wave.  The ledger,
        # txn tokens, and micro-batch merge order are identical.
        q = store.upsert_sink(
            ctx.stream(), key="event_id", checkpoint=ckpt, available_now=False
        )
        try:
            for w in waves:
                ctx.publish(w)
                q.processAllAvailable()
                head = store.latest_version()
                if head != cursor:
                    feed = store.table_changes(cursor, head)
                    view = apply_group_delta(view, feed, ["event_type"], "cents")
                    # keep the iterative lineage bounded (3 rounds here,
                    # N in production) — same device as the CC loop
                    view = view.localCheckpoint()
                    cursor = head
                    n_applies += 1
        finally:
            q.stop()
        if n_applies < 3:  # -O-safe: the loop must actually iterate
            raise AssertionError(f"expected >=3 incremental applies, got {n_applies}")
        out = view.select(
            "event_type",
            F.col("n").cast("bigint").alias("n"),
            F.col("s").cast("bigint").alias("sum_cents"),
        ).orderBy("event_type")
        pdf = out.toPandas()
        agency.close(remove_logs=True)
    finally:
        _sh.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        pdf, "event_type string, n long, sum_cents long"
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# WRITE-AUDIT-PUBLISH (WAP): readers pin to the `published` tag; writers
# stage commits past it; an AUDIT gates whether the tag advances.  The
# Iceberg/Delta production publish discipline over this store's existing
# refs machinery:
#
#   1. base lands, tag `published` → v0; every reader goes through the
#      tag, never the head;
#   2. a staged batch carrying corrupt rows (negative cents, synthesized
#      from every 11th event) commits to the HEAD — the audit
#      (count(cents < 0) == 0) FAILS, the tag stays, and the staged
#      commit is abandoned by a rollback commit restoring v0's file list
#      (history preserved, the lakehouse RESTORE);
#   3. the CORRECTED batch (same rows, cents made positive) commits, the
#      audit passes, and publish = delete_tag + create_tag at the head —
#      an atomic O(1) ref move.
#
# In-plan asserts: the reader-visible state is UNCHANGED through the
# failed audit (tag still resolves to v0 and its rollup matches), and
# the audit actually rejected rows (> 0 violations staged).  The graded
# output is the final published-tag read; the oracle reconstructs
# base + corrected batch in SQL.
#
# Scale: audit cost = one aggregate over the STAGED DELTA's files (here
# the head read keeps it self-contained; production audits
# table_changes); publish is one ref write — no data moves at any step.
# ---------------------------------------------------------------------------

_WAP_ORACLE = """
WITH base AS (
  SELECT event_id, event_type,
         cast(round(value * 100) AS BIGINT) AS cents
  FROM events
), corrected AS (
  SELECT event_id + (SELECT max(event_id) + 1 FROM events) AS event_id,
         event_type, cents
  FROM base WHERE event_id % 11 = 0
), published AS (
  SELECT event_type, cents FROM base
  UNION ALL
  SELECT event_type, cents FROM corrected
)
SELECT event_type, count(*) AS n,
       cast(sum(cents) AS BIGINT) AS sum_cents
FROM published GROUP BY event_type ORDER BY event_type
"""


@register(
    "versioned_write_audit_publish",
    _WAP_ORACLE,
    tags=("storage", "versioned", "wap", "audit"),
)
def versioned_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _sh

    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    shift = ev.agg(F.max("event_id")).first()[0] + 1
    staged_rows = ev.filter(F.col("event_id") % 11 == 0).select(
        (F.col("event_id") + shift).alias("event_id"), "event_type", "cents"
    )
    bad_batch = staged_rows.withColumn("cents", -F.col("cents"))  # audit-violating

    root = tempfile.mkdtemp(prefix="est-wap-")
    try:
        store = VersionedStore(spark, root)
        v0 = store.append(ev)
        store.create_tag("published", v0)

        def published_rollup() -> DataFrame:
            return (
                store.read(tag="published")
                .groupBy("event_type")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("cents").cast("bigint").alias("sum_cents"),
                )
                .orderBy("event_type")
            )

        def audit_head() -> int:
            return store.read().filter(F.col("cents") < 0).count()

        before = {tuple(r) for r in published_rollup().collect()}

        # WRITE: the bad batch stages past the tag
        store.append(bad_batch)
        violations = audit_head()
        if violations == 0:  # -O-safe: the gate must exercise a real reject
            raise AssertionError("staged batch carried no violations — fixture broken")
        # AUDIT FAILED → abandon the staged commit; the tag never moved
        store.rollback(v0)
        if store.resolve_tag("published") != v0:
            raise AssertionError("failed audit moved the published tag")
        after_reject = {tuple(r) for r in published_rollup().collect()}
        if after_reject != before:
            raise AssertionError("reader-visible state changed through a failed audit")

        # corrected batch → audit passes → PUBLISH (atomic ref move)
        store.append(staged_rows)
        if audit_head() != 0:
            raise AssertionError("corrected batch still fails the audit")
        store.delete_tag("published")
        store.create_tag("published")
        out = published_rollup()
        pdf = out.toPandas()
    finally:
        _sh.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        pdf, "event_type string, n long, sum_cents long"
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Snapshot DIFF by bucket checksums — "which parts of a 100 TB table
# changed between two versions" WITHOUT joining the snapshots: each
# side is scanned once into 64 user-buckets, each bucket reduced to an
# ORDER-INDEPENDENT checksum (sum of per-row md5-derived stable hashes
# over the row's identity+payload — commutative, so partitioning and
# row order cannot move it), and the diff is a 64-row comparison.  The
# changed-bucket list then drives targeted repair/audit reads; the
# output also carries both row counts per changed bucket.
#
# This is the replication/migration-verification tool: cost = two scans
# + an O(#buckets) aggregate, vs the naive full anti-join of two
# snapshots.  The time-traveled v1 and the head come from the
# VersionedStore; the oracle reconstructs both states and the identical
# checksum algebra in SQL.
# ---------------------------------------------------------------------------

_DIFF_BUCKETS = 64

_SNAPDIFF_ORACLE = f"""
WITH v1 AS (
  SELECT event_id, user_id,
         cast(round(value * 100) AS BIGINT) AS cents
  FROM events
), head AS (
  SELECT event_id, user_id,
         CASE WHEN event_id % 5 = 0 THEN cents * 2 ELSE cents END AS cents
  FROM v1
), c1 AS (
  SELECT user_id % {_DIFF_BUCKETS} AS bucket,
         count(*) AS n_v1,
         cast(sum({sql_stable_hash32("cast(event_id AS VARCHAR) || ':' || cast(cents AS VARCHAR)")}) AS BIGINT) AS sum_v1
  FROM v1 GROUP BY 1
), c2 AS (
  SELECT user_id % {_DIFF_BUCKETS} AS bucket,
         count(*) AS n_head,
         cast(sum({sql_stable_hash32("cast(event_id AS VARCHAR) || ':' || cast(cents AS VARCHAR)")}) AS BIGINT) AS sum_head
  FROM head GROUP BY 1
)
SELECT c1.bucket, c1.n_v1, c2.n_head
FROM c1 JOIN c2 ON c1.bucket = c2.bucket
WHERE c1.sum_v1 <> c2.sum_head OR c1.n_v1 <> c2.n_head
ORDER BY c1.bucket
"""


@register(
    "versioned_snapshot_bucket_diff",
    _SNAPDIFF_ORACLE,
    tags=("storage", "versioned", "diff", "audit"),
)
def versioned_snapshot_bucket_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _sh

    from event_streaming_spark.functions.hashing import stable_hash32

    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    root = tempfile.mkdtemp(prefix="est-snapdiff-")
    try:
        store = VersionedStore(spark, root)
        v1 = store.append(ev)
        store.merge(
            ev.filter(F.col("event_id") % 5 == 0).withColumn(
                "cents", F.col("cents") * 2
            ),
            key="event_id",
        )

        def bucket_sums(df: DataFrame, n_col: str, s_col: str) -> DataFrame:
            row_h = stable_hash32(
                F.concat(
                    F.col("event_id").cast("string"),
                    F.lit(":"),
                    F.col("cents").cast("string"),
                )
            )
            return df.groupBy(
                (F.col("user_id") % _DIFF_BUCKETS).alias("bucket")
            ).agg(
                F.count(F.lit(1)).alias(n_col),
                F.sum(row_h).cast("bigint").alias(s_col),
            )

        a = bucket_sums(store.read(version=v1), "n_v1", "sum_v1")
        b = bucket_sums(store.read(), "n_head", "sum_head")
        out = (
            a.join(b, "bucket")
            .filter(
                (F.col("sum_v1") != F.col("sum_head"))
                | (F.col("n_v1") != F.col("n_head"))
            )
            .select("bucket", "n_v1", "n_head")
            .orderBy("bucket")
        )
        pdf = out.toPandas()
    finally:
        _sh.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        pdf, "bucket long, n_v1 long, n_head long"
    ).orderBy("bucket")


# ---------------------------------------------------------------------------
# BRANCH write isolation + fast-forward publish (Iceberg branch
# semantics, r8): an experiment branch forks the table at a snapshot
# with ZERO data copy (the branch's v0 references the fork's files by
# name), takes a MERGE (re-pricing) and an APPEND (backfill rows) on its
# own manifest lineage while main stays bit-identical to the fork — both
# asserted in-plan — then merge_branch publishes the branch head as
# main's next version in ONE atomic commit (and would CommitConflict if
# main had advanced).  The graded output is the post-publish per-type
# rollup; the oracle reconstructs it from the raw table + the branch's
# two declared edits.
#
# Scale: branching is O(1) metadata regardless of table size; branch
# writes cost what the same writes cost on main; the merge is one
# manifest publish — no data moves at any step.  This is how a 100 TB
# deployment stages risky pipeline changes: write on a branch, validate,
# fast-forward.
# ---------------------------------------------------------------------------

_BRANCH_ORACLE = """
WITH base AS (
  SELECT event_id, event_type,
         cast(round(value * 100) AS BIGINT) AS cents
  FROM events
), repriced AS (
  SELECT event_id, event_type,
         CASE WHEN event_id % 10 = 0 THEN cents * 3 ELSE cents END AS cents
  FROM base
), backfill AS (
  SELECT event_id + 10000000 AS event_id, event_type, cents
  FROM base WHERE event_id % 17 = 0
)
SELECT event_type, cast(count(*) AS BIGINT) AS n,
       cast(sum(cents) AS BIGINT) AS sum_cents
FROM (SELECT * FROM repriced UNION ALL SELECT * FROM backfill)
GROUP BY event_type ORDER BY event_type
"""


@register(
    "versioned_branch_write_isolation",
    _BRANCH_ORACLE,
    tags=("storage", "versioned", "branch"),
)
def versioned_branch_write_isolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _sh

    e_base = load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    root = tempfile.mkdtemp(prefix="est-branch-q-")
    try:
        store = VersionedStore(spark, f"{root}/t")
        v0 = store.append(e_base)
        n_base = store.read(v0).count()

        br = store.branch("staging")
        # branch edit 1: MERGE re-prices every 10th event (file rewrite
        # on the BRANCH lineage only)
        br.merge(
            e_base.filter(F.col("event_id") % 10 == 0).withColumn(
                "cents", F.col("cents") * 3
            ),
            key="event_id",
        )
        # branch edit 2: APPEND backfill rows under a disjoint key range
        br.append(
            e_base.filter(F.col("event_id") % 17 == 0).withColumn(
                "event_id", F.col("event_id") + 10_000_000
            )
        )

        # isolation proof (-O-safe): main's lineage and contents are
        # untouched while the branch diverged
        if store.latest_version() != v0:
            raise AssertionError("branch writes advanced MAIN's lineage")
        if store.read().count() != n_base:
            raise AssertionError("branch writes leaked into main's snapshot")

        v1 = store.merge_branch("staging")
        head = store.read(v1)
        out = (
            head.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("cents").alias("sum_cents"),
            )
            .orderBy("event_type")
        )
        capture_plan("versioned_branch_write_isolation/post_publish_rollup", out)
        pdf = out.toPandas()  # result-sized localization before rmtree
    finally:
        _sh.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        pdf, "event_type string, n long, sum_cents long"
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# BRANCH-STAGED streaming ingest (write-audit-publish ON A BRANCH): the
# streaming upsert sink lands every micro-batch on an ingest BRANCH —
# exactly-once versioned commits, but quarantined from readers — an
# AUDIT then validates the branch head (row-count conservation under
# pure updates + a value constraint), and only then does fast-forward
# merge publish the whole staged lineage to main in one atomic commit.
# The r7 WAP query pinned READERS to a tag while writes landed on main;
# this is the inverse (and the Iceberg-native) shape: WRITES are
# quarantined, main needs no reader discipline at all.  Isolation and
# audit are asserted in-plan; the oracle reconstructs the published
# head from the raw table + the declared update rule.
#
# Scale: branch commits cost what main commits cost (shared data dir,
# zero-copy fork); the audit reads only the branch head; publish is one
# manifest write.  A failed audit costs main NOTHING — drop the branch.
# ---------------------------------------------------------------------------

_BRANCH_WAP_ORACLE = """
WITH base AS (
  SELECT event_id, event_type,
         cast(round(value * 100) AS BIGINT) AS cents
  FROM events
), head AS (
  SELECT event_id, event_type,
         CASE WHEN event_id % 4 = 1 THEN cents * 2 ELSE cents END AS cents
  FROM base
)
SELECT event_type, cast(count(*) AS BIGINT) AS n_events,
       cast(sum(cents) AS BIGINT) AS sum_cents
FROM head GROUP BY event_type ORDER BY event_type
"""


@register(
    "streaming_branch_staged_ingest",
    _BRANCH_WAP_ORACLE,
    tags=("streaming", "storage", "versioned", "branch", "wap"),
)
def streaming_branch_staged_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil as _sh

    from event_streaming_spark.streaming.agency import EventsAgency

    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    root = tempfile.mkdtemp(prefix="est-branch-wap-")
    try:
        store = VersionedStore(spark, os.path.join(root, "store"))
        v0 = store.append(ev)
        n_base = store.read(v0).count()

        br = store.branch("ingest-stage")
        agency = EventsAgency(spark, root=os.path.join(root, "topic"), log_format="parquet")
        ctx = agency.topic("driver-gate", "staged")
        updates = ev.filter(F.col("event_id") % 4 == 1).withColumn(
            "cents", F.col("cents") * 2
        )
        ctx.schema = updates.schema
        # two arrival waves, each an exactly-once versioned commit ON THE
        # BRANCH (the ledgered upsert sink, same machinery as main)
        ckpt = os.path.join(root, "ckpt")
        for w in range(2):
            ctx.publish(updates.filter(F.col("event_id") % 2 == w))
            br.upsert_sink(ctx.stream(), key="event_id", checkpoint=ckpt).awaitTermination()

        # AUDIT the staged head (-O-safe): updates must conserve row
        # count and violate no value constraint — and main must be
        # untouched while the branch ingested
        staged = br.read()
        if staged.count() != n_base:
            raise AssertionError("staged upserts changed the row count")
        if staged.where(F.col("cents") < 0).limit(1).count() != 0:
            raise AssertionError("staged head violates the cents >= 0 constraint")
        if store.latest_version() != v0 or store.read().count() != n_base:
            raise AssertionError("branch ingest leaked into main before publish")

        v_pub = store.merge_branch("ingest-stage")
        out = (
            store.read(v_pub)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum("cents").alias("sum_cents"),
            )
            .orderBy("event_type")
        )
        capture_plan("streaming_branch_staged_ingest/published_rollup", out)
        pdf = out.toPandas()  # result-sized localization before rmtree
        agency.close(remove_logs=True)
    finally:
        _sh.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        pdf, "event_type string, n_events long, sum_cents long"
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Schema evolution under the ORACLE: a new `channel` column arrives with
# a later append (merge_schema=True — Delta semantics, enforced by
# sources/versioned.py::_merged_schema); the evolved HEAD reads
# pre-evolution rows with channel = NULL, while the PRE-evolution
# snapshot still reads with its own recorded schema — schema time
# travel, asserted in-plan.  The graded output is the head rollup by
# channel including the NULL (pre-evolution) bucket, which the oracle
# reconstructs from the raw table + the declared evolution rule.
# Scale: evolution is a manifest-schema change — no data rewrite; the
# recorded schema is the read schema, so parquet fills the evolved
# column with NULL on old files without opening a footer to infer one.
# ---------------------------------------------------------------------------

_SCHEMA_EVO_ORACLE = """
WITH base AS (
  SELECT event_id, event_type,
         cast(round(value * 100) AS BIGINT) AS cents
  FROM events
), evolved AS (
  SELECT event_id, event_type, cents, CAST(NULL AS VARCHAR) AS channel
  FROM base
  UNION ALL
  SELECT event_id + 10000000, event_type, cents, event_type || '-web'
  FROM base WHERE event_id % 9 = 2
)
SELECT coalesce(channel, '(pre-evolution)') AS channel,
       cast(count(*) AS BIGINT) AS n,
       cast(sum(cents) AS BIGINT) AS sum_cents
FROM evolved GROUP BY 1 ORDER BY 1
"""


@register(
    "versioned_schema_evolution_read",
    _SCHEMA_EVO_ORACLE,
    tags=("storage", "versioned", "schema"),
)
def versioned_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil as _sh

    e_base = load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    root = tempfile.mkdtemp(prefix="est-schevo-q-")
    try:
        store = VersionedStore(spark, f"{root}/t")
        v0 = store.append(e_base)
        evolved_rows = (
            e_base.filter(F.col("event_id") % 9 == 2)
            .withColumn("event_id", F.col("event_id") + 10_000_000)
            .withColumn("channel", F.concat(F.col("event_type"), F.lit("-web")))
        )
        store.append(evolved_rows, merge_schema=True)

        # schema time travel (-O-safe): the pre-evolution snapshot reads
        # with the schema it was committed under — no channel column
        if "channel" in store.read(v0).columns:
            raise AssertionError("pre-evolution snapshot leaked the evolved column")
        head = store.read()
        if "channel" not in head.columns:
            raise AssertionError("head read lost the evolved column")

        out = (
            head.groupBy(
                F.coalesce("channel", F.lit("(pre-evolution)")).alias("channel")
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("cents").alias("sum_cents"),
            )
            .orderBy("channel")
        )
        capture_plan("versioned_schema_evolution_read/head_rollup", out)
        pdf = out.toPandas()  # result-sized localization before rmtree
    finally:
        _sh.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        pdf, "channel string, n long, sum_cents long"
    ).orderBy("channel")
