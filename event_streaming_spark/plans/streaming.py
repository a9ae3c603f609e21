"""Oracle-paired streaming queries: publish → log → micro-batch → drain.

The windowed drains, the incremental dedup indexes and the HTTP gateway
round trip, each graded by the driver's value-hash gate.  Drains that
emit in update mode fold their batches through ``UpdateModeFold``.
Each section below opens with its design notes.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import urllib.request

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from event_streaming_spark.functions.localframe import local_frame
from event_streaming_spark.functions.numeric import exact_sum, sql_exact_sum
from event_streaming_spark.operators import similarity as S
from event_streaming_spark.plans.catalog import capture_plan, load, register
from event_streaming_spark.plans.curation import _SEM_SCALE, _SEM_TAU_SQ_PPM
from event_streaming_spark.plans.llm import _EQ_SUM


class UpdateModeFold:
    """Structured Streaming's update-mode output, folded on the driver
    (Armbrust et al., SIGMOD 2018): each micro-batch emits the RUNNING
    aggregate of the keys it touched, so the last emission per key is the
    final, batch-equal value.

    ``collect`` is a drain callback's body: it localizes one batch's
    update rows (state-sized, never event-sized).  ``frame`` keeps the
    last emission per ``keys`` in batch order, maps it through
    ``finish`` and returns it as a frame of ``schema``; an empty frame
    when no batch emitted."""

    def __init__(self, keys: list[str]):
        self.keys = keys
        self._batches: list = []

    def collect(self, batch_df: DataFrame, batch_id: int) -> None:
        pdf = batch_df.toPandas()
        pdf["batch_id"] = batch_id
        self._batches.append(pdf)

    def frame(self, spark: SparkSession, schema, finish) -> DataFrame:
        if not self._batches:
            return local_frame(spark, [], schema)
        import pandas as pd

        last = (
            pd.concat(self._batches, ignore_index=True)
            .sort_values("batch_id", kind="stable")
            .groupby(self.keys, as_index=False)
            .last()
        )
        return local_frame(spark, finish(last), schema)

# ===========================================================================
# Oracle-paired STREAMING queries — the publish → log → window → drain
# path graded by the driver's correctness harness, not just pytest.
#
# The engine's headline capability (reference: the events-agency pub/sub
# loop, reference/src/events-agency.c:142-243 + the consumer callback
# contract include/events-agency.h:29-52) is a streaming pipeline:
# ``publish(events)`` appends to a durable topic log; ``consume`` drains it
# through Structured Streaming with a windowed aggregation and hands each
# micro-batch to the subscriber callback.
#
# ``streaming_drain_equals_batch`` runs that WHOLE pipeline batch-callably:
# it publishes the events table to a fresh parquet topic log, drains it
# with an availableNow trigger through a watermarked 1-day window
# aggregate, keeps the LAST update per (window, event_type) key — update
# mode emits the running aggregate per key per micro-batch, so the final
# emission per key equals the batch aggregate — and returns the drained
# result as a DataFrame.  The oracle is the same daily aggregate in ANSI
# SQL over the raw parquet: stream ≡ batch, verified by the driver's
# value-hash, not only by tests/test_streaming.py.
#
# Scale notes: everything data-sized happens inside Structured Streaming
# (the published log is drained by executors; state lives in the state
# store sized to state cardinality).  The only driver-side collection is
# the AGGREGATE rows (windows × event_types — ~150 at any SF; state-sized,
# not data-sized), which is exactly what a subscriber callback receives.
# ===========================================================================

_DRAIN_ORACLE = f"""
SELECT CAST(ts AS DATE) AS event_date,
       event_type,
       count(*) AS n_events,
       {sql_exact_sum('value')} AS total_value
FROM events
GROUP BY CAST(ts AS DATE), event_type
"""

_DRAIN_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("event_date", T.DateType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)


@register(
    "streaming_drain_equals_batch",
    _DRAIN_ORACLE,
    tags=("streaming", "window", "agg"),
)
def streaming_drain_equals_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Publish events → parquet topic log → availableNow windowed drain;
    the drained per-key FINAL updates must hash-equal the batch oracle."""
    from event_streaming_spark.streaming.agency import EventsAgency

    root = tempfile.mkdtemp(prefix="est-drain-")
    fold = UpdateModeFold(["event_date", "event_type"])
    try:
        agency = EventsAgency(spark, root=root, log_format="parquet")
        ctx = agency.topic("driver-gate", "events")
        ev = load(spark, sf_dir, "events")
        ctx.publish(ev)

        def windowed(df: DataFrame) -> DataFrame:
            # Scaled-long sum inside the streaming agg: order-independent
            # (exact integer addition), so the drained value is bitwise
            # reproducible run-to-run — same contract as exact_sum.
            return (
                df.withWatermark("ts", "1 hour")
                .groupBy(F.window("ts", "1 day"), "event_type")
                .agg(
                    F.count(F.lit(1)).alias("n_events"),
                    F.sum(F.round(F.col("value") * 1e6).cast("long")).alias("sv"),
                )
            )

        def on_notify(c, batch_df: DataFrame, batch_id: int) -> None:
            # The subscriber callback (O3 contract): receives the per-batch
            # UPDATED aggregate rows — state-sized, safe to localize.
            fold.collect(
                batch_df.select(
                    F.to_date(F.col("window.start")).alias("event_date"),
                    "event_type",
                    "n_events",
                    "sv",
                ),
                batch_id,
            )

        ctx.consume(
            on_notify,
            once=True,
            transform=windowed,
            output_mode="update",
            # state cardinality = days × event_types (~150 rows at any SF);
            # see TopicContext.consume docstring for the store-count rule.
            state_partitions=8,
        )
        agency.close(remove_logs=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)

    return fold.frame(
        spark,
        _DRAIN_RESULT_SCHEMA,
        lambda last: last.assign(total_value=(last["sv"] / 1e6).round(2))[
            ["event_date", "event_type", "n_events", "total_value"]
        ],
    )


# ---------------------------------------------------------------------------
# Streaming SESSION windows: the gap-based analogue of the daily drain.
# Built-in `session_window` (merging event-time state) drains the topic
# log availableNow in append mode; a sentinel event 2 hours past the max
# real timestamp pushes the watermark beyond every real session's end,
# so the trailing no-data micro-batch finalizes and emits them all —
# each session exactly once.  The oracle is batch gaps-and-islands with
# a STRICT < 30min gap: Spark merges sessions only while the next event
# falls strictly inside [first, last+gap), so an exactly-30-minute gap
# starts a new session (the `events_sessionize_30m` batch query keeps
# its <= semantics; this one mirrors the streaming operator's).
#
# Scale: state is one aggregate row per OPEN session (merged by the
# state store); emission is append-once per finalized session —
# callback traffic is session-sized, never event-sized.  The published
# log drains through executors exactly like streaming_drain_equals_batch.
# ---------------------------------------------------------------------------

_SESSIONW_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN ts - lag(ts) OVER w < INTERVAL 30 MINUTE THEN 0 ELSE 1
         END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id,
       epoch_ms(date_trunc('millisecond', min(ts))) AS session_start_ms,
       count(*) AS n_events,
       round(cast(epoch_ms(max(ts)) - epoch_ms(min(ts)) AS double) / 1000.0,
             3) AS duration_s,
       {sql_exact_sum('value')} AS session_value
FROM sessions
GROUP BY user_id, sid
"""

_SESSIONW_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start_ms", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("session_value", T.DoubleType()),
    ]
)


@register(
    "streaming_session_window_drain",
    _SESSIONW_ORACLE,
    tags=("streaming", "window", "session"),
)
def streaming_session_window_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Publish events (+ watermark sentinel) → session_window drain in
    append mode; finalized sessions must hash-equal the batch islands."""
    from event_streaming_spark.streaming.agency import EventsAgency

    root = tempfile.mkdtemp(prefix="est-sessw-")
    batches: list = []
    try:
        agency = EventsAgency(spark, root=root, log_format="parquet")
        ctx = agency.topic("driver-gate", "events-sessions")
        ev = load(spark, sf_dir, "events")
        max_ts = ev.agg(F.max("ts")).first()[0]  # 1-row scalar probe
        ctx.publish(ev)
        sentinel = [
            {
                "event_id": -1,
                "ts": (max_ts + __import__("datetime").timedelta(hours=2))
                .isoformat(sep="T"),
                "user_id": -1,
                "event_type": "__flush__",
                "value": 0.0,
                "props": "{}",
            }
        ]
        ctx.publish(sentinel)

        def sessioned(df: DataFrame) -> DataFrame:
            return (
                df.withWatermark("ts", "1 hour")
                .groupBy(F.session_window("ts", "30 minutes"), "user_id")
                .agg(
                    F.count(F.lit(1)).alias("n_events"),
                    F.sum(F.round(F.col("value") * 1e6).cast("long")).alias("sv"),
                )
            )

        def on_notify(c, batch_df: DataFrame, batch_id: int) -> None:
            # append mode: each finalized session arrives exactly once
            batches.append(
                batch_df.select(
                    "user_id",
                    F.unix_millis(F.col("session_window.start")).alias(
                        "session_start_ms"
                    ),
                    "n_events",
                    # window.end = last event + gap: subtract the gap to
                    # recover the last event's epoch-ms exactly
                    (
                        F.unix_millis(F.col("session_window.end"))
                        - F.lit(30 * 60 * 1000)
                        - F.unix_millis(F.col("session_window.start"))
                    ).alias("dur_ms"),
                    "sv",
                ).toPandas()
            )

        ctx.consume(
            on_notify,
            once=True,
            transform=sessioned,
            output_mode="append",
            # state cardinality at 1× is ~100k sessions and the per-batch
            # store-commit floor dominates
            state_partitions=8,
        )
        agency.close(remove_logs=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)

    import pandas as pd

    if not batches:
        return local_frame(spark, [], _SESSIONW_SCHEMA)
    out = pd.concat(batches, ignore_index=True)
    out = out[out["user_id"] >= 0].copy()  # drop the watermark sentinel
    out["duration_s"] = (out["dur_ms"] / 1000.0).round(3)
    out["session_value"] = (out["sv"] / 1e6).round(2)
    out = out[
        ["user_id", "session_start_ms", "n_events", "duration_s", "session_value"]
    ]
    return spark.createDataFrame(out, _SESSIONW_SCHEMA)


# ---------------------------------------------------------------------------
# Stream-stream INTERVAL JOIN: views and purchases ride separate topic
# logs; a Structured Streaming inner join matches each purchase to the
# same user's views from the preceding hour.  Watermarks on both sides +
# the time-range conjunct give Spark the state-retention bound (view
# state older than the watermark minus the interval is GC'd); with an
# availableNow drain every match is found before any state expires, so
# the emitted pairs equal the batch join EXACTLY — which is what the
# oracle checks, pair for pair.
#
# Scale: join state is bounded by watermark horizon × arrival rate per
# side, not the log; output pairs stream through the callback per
# micro-batch.  This is the operator class the daily/session drains
# don't cover: two live streams correlated on key + time range.
# ---------------------------------------------------------------------------

_IVJ_ORACLE = """
SELECT v.event_id AS view_id,
       p.event_id AS purchase_id,
       round(cast(epoch_ms(p.ts) - epoch_ms(v.ts) AS double) / 1000.0, 3)
         AS gap_s
FROM events v
JOIN events p
  ON p.user_id = v.user_id
 AND v.event_type = 'view'
 AND p.event_type = 'purchase'
 AND p.ts >= v.ts
 AND p.ts <= v.ts + INTERVAL 1 HOUR
ORDER BY view_id, purchase_id
"""

def _join_state_session(agency, n_rows: int):
    """Session clone sized for a stream-stream join's state stores.

    Join state = rows retained inside the watermark window PER SIDE, and
    each micro-batch pays an open+snapshot+commit floor per store with
    TWO stores per partition (left + right) — so the store count must
    track STATE cardinality, not the session's batch shuffle width (the
    same rule as ``TopicContext.consume``'s ``state_partitions``, where
    32 → 8 stores measurably halved the windowed drain's wall).  Sizing
    is data-adaptive: ~250k state rows per store, floor 8, capped at 4×
    parallelism (the ``operators/ranks._n_buckets`` clamp) — a fixture
    drain stops paying 64 commit floors per micro-batch for ~100k rows
    of state, and a billion-row window still fans out to hundreds of
    stores on a real cluster.
    """
    sc = agency.spark.sparkContext
    p = int(max(8, min(sc.defaultParallelism * 4, n_rows // 250_000 + 8)))
    return agency.tuned_clone(p)


_IVJ_SCHEMA = T.StructType(
    [
        T.StructField("view_id", T.LongType()),
        T.StructField("purchase_id", T.LongType()),
        T.StructField("gap_s", T.DoubleType()),
    ]
)


@register(
    "streaming_interval_join_drain",
    _IVJ_ORACLE,
    tags=("streaming", "join"),
)
def streaming_interval_join_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two topic logs → stream-stream time-range join → drained pairs
    must hash-equal the batch interval join."""
    from event_streaming_spark.streaming.agency import EventsAgency

    root = tempfile.mkdtemp(prefix="est-ivj-")
    batches: list = []
    try:
        agency = EventsAgency(spark, root=root, log_format="parquet")
        ctx_v = agency.topic("driver-gate", "views")
        ctx_p = agency.topic("driver-gate", "purchases")
        ev = load(spark, sf_dir, "events")
        ctx_v.publish(ev.where(F.col("event_type") == "view"))
        ctx_p.publish(ev.where(F.col("event_type") == "purchase"))
        # state-store count sized to the join's state cardinality, not
        # the session's batch shuffle width (see _join_state_session)
        sess = _join_state_session(agency, ev.count())

        views = (
            ctx_v.stream(session=sess)
            .withWatermark("ts", "1 hour")
            .select(
                F.col("event_id").alias("view_id"),
                F.col("user_id").alias("v_user"),
                F.col("ts").alias("v_ts"),
            )
        )
        purchases = (
            ctx_p.stream(session=sess)
            .withWatermark("ts", "1 hour")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
            )
        )
        joined = views.join(
            purchases,
            F.expr(
                "v_user = p_user AND p_ts >= v_ts"
                " AND p_ts <= v_ts + INTERVAL 1 HOUR"
            ),
            "inner",
        ).select(
            "view_id",
            "purchase_id",
            F.round(
                (F.unix_millis("p_ts") - F.unix_millis("v_ts")).cast("double")
                / 1000.0,
                3,
            ).alias("gap_s"),
        )

        def cb(batch_df: DataFrame, batch_id: int) -> None:
            batches.append(batch_df.toPandas())

        ckpt = os.path.join(root, "_ckpt-ivj")
        q = (
            joined.writeStream.foreachBatch(cb)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        agency.close(remove_logs=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)

    import pandas as pd

    if not batches:
        return local_frame(spark, [], _IVJ_SCHEMA)
    out = pd.concat(batches, ignore_index=True)
    out = out.sort_values(["view_id", "purchase_id"]).reset_index(drop=True)
    return spark.createDataFrame(out, _IVJ_SCHEMA)


# ---------------------------------------------------------------------------
# Stream-stream LEFT OUTER interval join: the outer complement of
# streaming_interval_join_drain.  Views with NO purchase in the following
# hour must still emit — null-padded — once the watermark proves no match
# can arrive.  This is the one streaming-join class the catalog didn't
# cover: state EVICTION is part of the answer, not just an optimization
# (a null row emits exactly when the view's join window closes under the
# watermark).
#
# Drain mechanics — TWO availableNow drains over ONE checkpoint:
#   1. data + a sentinel 3 h past the max real timestamp drain in a
#      single micro-batch.  The watermark is 0 DURING that batch, so
#      both sides are fully buffered and every inner match emits; the
#      batch COMMITS a watermark of max+2h (sentinel − 1h delay).
#   2. a second flush file is published and the query RESUMES from the
#      same checkpoint (join state + watermark persist — the standard
#      restart path).  Its batch runs under the committed max+2h
#      watermark, which closes every view's [v_ts, v_ts+1h] window:
#      all never-matched views evict and emit null-padded exactly once.
# Naive alternatives fail: a single drain never runs a batch after the
# watermark advances (nulls never emit), and per-file micro-batches race
# the watermark ahead of unordered files (late rows get dropped).
# Sentinel rows are filtered from the output.  Oracle: the batch LEFT
# JOIN, null rows and all.
#
# Scale: join state is watermark-horizon-bounded per side exactly as in
# the inner variant; the null-emission pass touches only evicted state.
# ---------------------------------------------------------------------------

_LOJ_ORACLE = """
SELECT v.event_id AS view_id,
       p.event_id AS purchase_id,
       round(cast(epoch_ms(p.ts) - epoch_ms(v.ts) AS double) / 1000.0, 3)
         AS gap_s
FROM events v
LEFT JOIN events p
  ON p.user_id = v.user_id
 AND p.event_type = 'purchase'
 AND p.ts >= v.ts
 AND p.ts <= v.ts + INTERVAL 1 HOUR
WHERE v.event_type = 'view'
ORDER BY view_id, purchase_id
"""


@register(
    "streaming_left_outer_interval_join",
    _LOJ_ORACLE,
    tags=("streaming", "join", "outer"),
    bench=True,  # top-10 expensive (two full drains) -> regression-tracked
)
def streaming_left_outer_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two topic logs → stream-stream LEFT OUTER time-range join; matched
    pairs AND watermark-finalized null rows hash-equal the batch join."""
    import datetime

    from event_streaming_spark.streaming.agency import EventsAgency

    root = tempfile.mkdtemp(prefix="est-loj-")
    batches: list = []
    try:
        agency = EventsAgency(spark, root=root, log_format="parquet")
        ctx_v = agency.topic("driver-gate", "views-lo")
        ctx_p = agency.topic("driver-gate", "purchases-lo")
        ev = load(spark, sf_dir, "events")
        ctx_v.publish(ev.where(F.col("event_type") == "view"))
        ctx_p.publish(ev.where(F.col("event_type") == "purchase"))
        max_ts = ev.agg(F.max("ts")).first()[0]  # 1-row scalar probe
        sentinel = [
            {
                "event_id": -1,
                "ts": (max_ts + datetime.timedelta(hours=3)).isoformat(sep="T"),
                "user_id": -1,
                "event_type": "__flush__",
                "value": 0.0,
                "props": "{}",
            }
        ]
        ctx_v.publish(sentinel)
        ctx_p.publish(sentinel)

        # state-store count sized to the join's state cardinality
        sess = _join_state_session(agency, ev.count())

        def build_join() -> DataFrame:
            views = (
                ctx_v.stream(session=sess)
                .withWatermark("ts", "1 hour")
                .select(
                    F.col("event_id").alias("view_id"),
                    F.col("user_id").alias("v_user"),
                    F.col("ts").alias("v_ts"),
                )
            )
            purchases = (
                ctx_p.stream(session=sess)
                .withWatermark("ts", "1 hour")
                .select(
                    F.col("event_id").alias("purchase_id"),
                    F.col("user_id").alias("p_user"),
                    F.col("ts").alias("p_ts"),
                )
            )
            return views.join(
                purchases,
                F.expr(
                    "v_user = p_user AND p_ts >= v_ts"
                    " AND p_ts <= v_ts + INTERVAL 1 HOUR"
                ),
                "leftOuter",
            ).select(
                "view_id",
                "purchase_id",
                F.round(
                    (F.unix_millis("p_ts") - F.unix_millis("v_ts")).cast("double")
                    / 1000.0,
                    3,
                ).alias("gap_s"),
            )

        def cb(batch_df: DataFrame, batch_id: int) -> None:
            batches.append(batch_df.toPandas())

        ckpt = os.path.join(root, "_ckpt-loj")

        def drain() -> None:
            q = (
                build_join()
                .writeStream.foreachBatch(cb)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        drain()  # all matches, single batch, watermark 0 -> commits max+2h
        sentinel2 = [dict(sentinel[0], event_id=-2)]
        ctx_v.publish(sentinel2)
        ctx_p.publish(sentinel2)
        drain()  # resumed state + committed watermark -> null-emission batch
        agency.close(remove_logs=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)

    import pandas as pd

    if not batches:
        return local_frame(spark, [], _IVJ_SCHEMA)
    out = pd.concat(batches, ignore_index=True)
    out = out[out["view_id"] >= 0].copy()  # drop the watermark sentinels
    out = out.sort_values(["view_id", "purchase_id"]).reset_index(drop=True)
    # Outer-padded cells arrive as pandas NaN/NA — map them to real NULLs
    # (NaN would hash-mismatch the oracle's NULL).
    out = out.astype(object).where(pd.notna(out), None)
    return spark.createDataFrame(out, _IVJ_SCHEMA)


# ---------------------------------------------------------------------------
# Stream-stream FULL OUTER interval join: the last uncovered streaming
# join class (inner and left-outer above).  Both unmatched classes emit
# null-padded under watermark-driven eviction: views with no purchase in
# the FOLLOWING hour AND purchases with no view in the PRECEDING hour.
# Same two-drain mechanics as the left-outer variant — one checkpoint,
# sentinel rows 3 h past max(ts) on BOTH sides advance the committed
# watermark, and the resumed second drain's batch evicts every closed
# window on both sides (a view closes at v_ts+1h, a purchase at p_ts —
# the range condition bounds each side's state horizon symmetrically).
# Oracle: the batch FULL OUTER interval join, null rows on both sides.
#
# Scale: per-side state is watermark-horizon-bounded exactly as in the
# inner/left variants; null emission touches only evicted state.
# ---------------------------------------------------------------------------

_FOJ_ORACLE = """
SELECT v.event_id AS view_id,
       p.event_id AS purchase_id,
       round(cast(epoch_ms(p.ts) - epoch_ms(v.ts) AS double) / 1000.0, 3)
         AS gap_s
FROM (SELECT * FROM events WHERE event_type = 'view') v
FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON p.user_id = v.user_id
 AND p.ts >= v.ts
 AND p.ts <= v.ts + INTERVAL 1 HOUR
ORDER BY view_id NULLS LAST, purchase_id NULLS LAST
"""


@register(
    "streaming_full_outer_interval_join",
    _FOJ_ORACLE,
    tags=("streaming", "join", "outer"),
)
def streaming_full_outer_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER time-range join; matched pairs plus
    watermark-finalized null rows on BOTH sides hash-equal the batch
    full outer join."""
    import datetime

    from event_streaming_spark.streaming.agency import EventsAgency

    root = tempfile.mkdtemp(prefix="est-foj-")
    batches: list = []
    try:
        agency = EventsAgency(spark, root=root, log_format="parquet")
        ctx_v = agency.topic("driver-gate", "views-fo")
        ctx_p = agency.topic("driver-gate", "purchases-fo")
        ev = load(spark, sf_dir, "events")
        ctx_v.publish(ev.where(F.col("event_type") == "view"))
        ctx_p.publish(ev.where(F.col("event_type") == "purchase"))
        max_ts = ev.agg(F.max("ts")).first()[0]  # 1-row scalar probe
        sentinel = [
            {
                "event_id": -1,
                "ts": (max_ts + datetime.timedelta(hours=3)).isoformat(sep="T"),
                "user_id": -1,
                "event_type": "__flush__",
                "value": 0.0,
                "props": "{}",
            }
        ]
        ctx_v.publish(sentinel)
        ctx_p.publish(sentinel)

        # state-store count sized to the join's state cardinality
        sess = _join_state_session(agency, ev.count())

        def build_join() -> DataFrame:
            views = (
                ctx_v.stream(session=sess)
                .withWatermark("ts", "1 hour")
                .select(
                    F.col("event_id").alias("view_id"),
                    F.col("user_id").alias("v_user"),
                    F.col("ts").alias("v_ts"),
                )
            )
            purchases = (
                ctx_p.stream(session=sess)
                .withWatermark("ts", "1 hour")
                .select(
                    F.col("event_id").alias("purchase_id"),
                    F.col("user_id").alias("p_user"),
                    F.col("ts").alias("p_ts"),
                )
            )
            return views.join(
                purchases,
                F.expr(
                    "v_user = p_user AND p_ts >= v_ts"
                    " AND p_ts <= v_ts + INTERVAL 1 HOUR"
                ),
                "fullOuter",
            ).select(
                "view_id",
                "purchase_id",
                F.round(
                    (F.unix_millis("p_ts") - F.unix_millis("v_ts")).cast("double")
                    / 1000.0,
                    3,
                ).alias("gap_s"),
            )

        def cb(batch_df: DataFrame, batch_id: int) -> None:
            batches.append(batch_df.toPandas())

        ckpt = os.path.join(root, "_ckpt-foj")

        def drain() -> None:
            q = (
                build_join()
                .writeStream.foreachBatch(cb)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        drain()  # all matches, single batch, watermark 0 -> commits max+2h
        sentinel2 = [dict(sentinel[0], event_id=-2)]
        ctx_v.publish(sentinel2)
        ctx_p.publish(sentinel2)
        drain()  # resumed state + committed watermark -> both null classes
        agency.close(remove_logs=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)

    import pandas as pd

    if not batches:
        return local_frame(spark, [], _IVJ_SCHEMA)
    out = pd.concat(batches, ignore_index=True)
    # Drop the watermark sentinels from EITHER side (unmatched sentinel
    # rows surface with the id on their own side and NULL on the other).
    keep = ~((out["view_id"] < 0) | (out["purchase_id"] < 0))
    out = out[keep.fillna(True)].copy()
    out = out.sort_values(
        ["view_id", "purchase_id"], na_position="last"
    ).reset_index(drop=True)
    out = out.astype(object).where(pd.notna(out), None)
    return spark.createDataFrame(out, _IVJ_SCHEMA)


# ---------------------------------------------------------------------------
# Stream-static enrichment: the topic stream joined per micro-batch to a
# STATIC dimension (customer), then a watermarked daily aggregate per
# nation.  The stream-static join is the standard enrichment shape — the
# dim side is a bounded broadcast each micro-batch, no state beyond the
# windowed agg (days × nations).  Same drain/update-mode discipline as
# streaming_drain_equals_batch; oracle is the batch join+rollup.
# ---------------------------------------------------------------------------

_ENRICH_ORACLE = f"""
SELECT CAST(e.ts AS DATE) AS event_date,
       n.n_name AS nation,
       count(*) AS n_events,
       {sql_exact_sum('e.value')} AS total_value
FROM events e
JOIN customer c ON c.c_custkey = e.user_id
JOIN nation n ON n.n_nationkey = c.c_nationkey
GROUP BY CAST(e.ts AS DATE), n.n_name
"""

_ENRICH_SCHEMA = T.StructType(
    [
        T.StructField("event_date", T.DateType()),
        T.StructField("nation", T.StringType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)


@register(
    "streaming_static_enrich_drain",
    _ENRICH_ORACLE,
    tags=("streaming", "join", "agg"),
)
def streaming_static_enrich_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic stream ⋈ static dims per micro-batch → watermarked daily
    nation rollup; final per-key updates hash-equal the batch rollup."""
    from event_streaming_spark.streaming.agency import EventsAgency

    root = tempfile.mkdtemp(prefix="est-enrich-")
    fold = UpdateModeFold(["event_date", "nation"])
    try:
        agency = EventsAgency(spark, root=root, log_format="parquet")
        ctx = agency.topic("driver-gate", "events-enrich")
        ev = load(spark, sf_dir, "events")
        ctx.publish(ev)
        dim = (
            load(spark, sf_dir, "customer")
            .select("c_custkey", "c_nationkey")
            .join(
                load(spark, sf_dir, "nation").select("n_nationkey", "n_name"),
                F.col("c_nationkey") == F.col("n_nationkey"),
            )
            .select(F.col("c_custkey").alias("user_id"), F.col("n_name").alias("nation"))
        )

        def enriched(df: DataFrame) -> DataFrame:
            return (
                df.join(dim, "user_id")  # stream-static inner join
                .withWatermark("ts", "1 hour")
                .groupBy(F.window("ts", "1 day"), "nation")
                .agg(
                    F.count(F.lit(1)).alias("n_events"),
                    F.sum(F.round(F.col("value") * 1e6).cast("long")).alias("sv"),
                )
            )

        def on_notify(c, batch_df: DataFrame, batch_id: int) -> None:
            fold.collect(
                batch_df.select(
                    F.to_date(F.col("window.start")).alias("event_date"),
                    "nation",
                    "n_events",
                    "sv",
                ),
                batch_id,
            )

        ctx.consume(
            on_notify,
            once=True,
            transform=enriched,
            output_mode="update",
            state_partitions=8,
        )
        agency.close(remove_logs=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)

    return fold.frame(
        spark,
        _ENRICH_SCHEMA,
        lambda last: last.assign(total_value=(last["sv"] / 1e6).round(2))[
            ["event_date", "nation", "n_events", "total_value"]
        ],
    )


# ---------------------------------------------------------------------------
# HOPPING (sliding) windows: 1-day windows every 6 hours — each event
# lands in exactly 4 overlapping windows.  Same drain discipline as the
# tumbling query; the oracle EXPLODES each event to its 4 covering
# window starts with integer epoch-ms arithmetic (no window function
# needed — the window set of an event is pure arithmetic on its
# timestamp, which is also how Spark's WindowExec generates them).
# ---------------------------------------------------------------------------

_HOP_MS = 6 * 3600 * 1000
_HOPW_ORACLE = f"""
WITH hopped AS (
  SELECT (epoch_ms(ts) // {_HOP_MS} - k) * {_HOP_MS} AS window_start_ms,
         event_type, value
  FROM events, (SELECT unnest(generate_series(0, 3)) AS k)
)
SELECT window_start_ms, event_type,
       count(*) AS n_events,
       {sql_exact_sum('value')} AS total_value
FROM hopped
GROUP BY window_start_ms, event_type
"""


@register(
    "streaming_hopping_window_drain",
    _HOPW_ORACLE,
    tags=("streaming", "window", "agg"),
)
def streaming_hopping_window_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """availableNow drain through a 1-day/6-hour sliding window; final
    per-key updates hash-equal the arithmetic window explosion."""
    from event_streaming_spark.streaming.agency import EventsAgency

    root = tempfile.mkdtemp(prefix="est-hopw-")
    fold = UpdateModeFold(["window_start_ms", "event_type"])
    try:
        agency = EventsAgency(spark, root=root, log_format="parquet")
        ctx = agency.topic("driver-gate", "events-hopping")
        ev = load(spark, sf_dir, "events")
        ctx.publish(ev)

        def hopped(df: DataFrame) -> DataFrame:
            return (
                df.withWatermark("ts", "1 hour")
                .groupBy(F.window("ts", "1 day", "6 hours"), "event_type")
                .agg(
                    F.count(F.lit(1)).alias("n_events"),
                    F.sum(F.round(F.col("value") * 1e6).cast("long")).alias("sv"),
                )
            )

        def on_notify(c, batch_df: DataFrame, batch_id: int) -> None:
            fold.collect(
                batch_df.select(
                    F.unix_millis(F.col("window.start")).alias("window_start_ms"),
                    "event_type",
                    "n_events",
                    "sv",
                ),
                batch_id,
            )

        ctx.consume(
            on_notify,
            once=True,
            transform=hopped,
            output_mode="update",
            # state = 4× the tumbling cardinality (overlap factor), still
            # windows × types — store count tracks it
            state_partitions=8,
        )
        agency.close(remove_logs=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)

    return fold.frame(
        spark,
        "window_start_ms long, event_type string, n_events long, total_value double",
        lambda last: last.assign(total_value=(last["sv"] / 1e6).round(2))[
            ["window_start_ms", "event_type", "n_events", "total_value"]
        ],
    )


# ---------------------------------------------------------------------------
# Dead-letter-queue ingest: one bad row must never kill the batch — it
# must be ROUTED, with a reason, to an auditable quarantine table.  The
# topic log carries the raw corpus plus three deterministic corruption
# classes (disjoint by construction, so the oracle can count them):
#
#   * null_event_id — the required key arrives as a non-numeric string;
#     schema-on-read nulls the FIELD (JSON permissive mode), the row
#     survives into the batch and fails the NOT NULL rule;
#   * bad_value     — negative value, a policy violation;
#   * unknown_type  — event_type not in the (broadcast) type dimension,
#     the dimension-validated-ingest shape.
#
# Per micro-batch the consumer splits valid/invalid with ONE pass of
# stateless predicates + a broadcast semi-join against the type dim,
# appends invalid rows to the DLQ store, and rolls valid rows into the
# ingest aggregate.  The graded output is the per-reason admission
# report; the DLQ row count is cross-checked against it in-plan.
#
# Reference parity: consumer callback + categorical routing (SURVEY
# O3/O42/O43) carrying the ingest-hardening contract the gateway already
# enforces at the HTTP boundary (schema-coercion failure → 400), here at
# the STREAM boundary where rows (not requests) fail.
# Scale: predicates are stateless, the dim is broadcast, the DLQ append
# is invalid-rows-sized; nothing shuffles but the final tiny rollup.
# ---------------------------------------------------------------------------

_DLQ_ORACLE = """
SELECT 'ok' AS reason, count(*) AS n_events,
       cast(sum(cast(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events
UNION ALL
SELECT 'null_event_id', count(*), cast(NULL AS BIGINT)
FROM events WHERE event_id % 10 = 0
UNION ALL
SELECT 'bad_value', count(*), cast(NULL AS BIGINT)
FROM events WHERE event_id % 7 = 3 AND event_id % 10 <> 0
UNION ALL
SELECT 'unknown_type', count(*), cast(NULL AS BIGINT)
FROM events
WHERE event_id % 13 = 5 AND event_id % 10 <> 0 AND event_id % 7 <> 3
ORDER BY reason
"""


def _run_ingest_dlq(
    spark: SparkSession, sf_dir: str, restart: bool = False
) -> DataFrame:
    import pandas as pd

    from event_streaming_spark.streaming.agency import EventsAgency

    ev = load(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    # disjoint corruption classes, derived from the table so the oracle
    # can reconstruct each count
    is_a = F.col("event_id") % 10 == 0
    is_b = (F.col("event_id") % 7 == 3) & ~is_a
    is_c = (F.col("event_id") % 13 == 5) & ~is_a & (F.col("event_id") % 7 != 3)
    corrupt_a = ev.filter(is_a).withColumn(
        "event_id", F.concat(F.lit("corrupt-"), F.col("event_id").cast("string"))
    )
    corrupt_b = ev.filter(is_b).withColumn("value", -F.abs(F.col("value")) - 1)
    corrupt_c = ev.filter(is_c).withColumn("event_type", F.lit("bogus"))
    # The validation dimension is config-sized (~5 types): collect it ONCE
    # here and rebuild it as a literal DataFrame, so the per-micro-batch
    # broadcast join below never re-scans the base table to re-derive the
    # distinct() — the join side is a LocalTableScan every batch.
    type_dim = local_frame(spark, 
        ev.select("event_type").distinct().collect(), "event_type string"
    )

    root = tempfile.mkdtemp(prefix="est-dlq-")
    batches: list = []
    try:
        # JSON log: schema-on-read is what turns the corrupt-string key
        # into a NULL field instead of a dead consumer
        agency = EventsAgency(spark, root=os.path.join(root, "topic"), log_format="json")
        ctx = agency.topic("driver-gate", "ingest-dlq")
        ctx.publish(ev)
        ctx.publish(corrupt_a)  # string event_id -> JSON field-null on read
        if not restart:
            ctx.publish(corrupt_b)
            ctx.publish(corrupt_c)
        dlq_dir = os.path.join(root, "dlq")

        def on_notify(c, batch_df: DataFrame, batch_id: int) -> None:
            known = F.broadcast(type_dim).alias("dim")
            b = batch_df.alias("b").join(
                known, F.col("b.event_type") == F.col("dim.event_type"), "left"
            )
            reason = (
                F.when(F.col("b.event_id").isNull(), F.lit("null_event_id"))
                .when(F.col("b.value") < 0, F.lit("bad_value"))
                .when(F.col("dim.event_type").isNull(), F.lit("unknown_type"))
                .otherwise(F.lit("ok"))
            )
            tagged = b.select(
                F.col("b.event_id").alias("event_id"),
                F.col("b.event_type").alias("event_type"),
                F.col("b.value").alias("value"),
                reason.alias("reason"),
            )
            capture_plan("streaming_ingest_dead_letter_queue/batch_routing", tagged)
            tagged.filter(F.col("reason") != "ok").write.mode("append").parquet(
                dlq_dir
            )
            batches.append(
                tagged.groupBy("reason")
                .agg(
                    F.count(F.lit(1)).alias("n_events"),
                    F.sum(
                        F.when(
                            F.col("reason") == "ok",
                            F.round(F.col("value") * 100).cast("bigint"),
                        )
                    ).alias("sum_cents"),
                )
                .toPandas()
            )

        ctx.consume(on_notify, once=True)
        if restart:
            # KILL the query instance at the checkpoint boundary — only
            # the checkpoint and the DLQ parquet survive — then publish
            # the remaining two corruption legs and RESUME a new
            # instance from the same checkpoint.
            ctx.stop()
            pre_kill_dlq = spark.read.parquet(dlq_dir).count()
            n_batches_before = len(batches)
            ctx.publish(corrupt_b)
            ctx.publish(corrupt_c)
            ctx.consume(on_notify, once=True)
            if len(batches) <= n_batches_before:  # -O-safe
                raise AssertionError("resumed DLQ consumer processed no batches")
            # delta-only / exactly-once proof for the SIDE-EFFECTING
            # quarantine append: the resumed instance must add exactly
            # the post-kill invalid rows — a history re-process would
            # re-append the pre-kill quarantine set
            expect_delta = corrupt_b.count() + corrupt_c.count()
            post_kill_dlq = spark.read.parquet(dlq_dir).count()
            if post_kill_dlq - pre_kill_dlq != expect_delta:  # -O-safe
                raise AssertionError(
                    f"resumed DLQ append not delta-only: {pre_kill_dlq} -> "
                    f"{post_kill_dlq}, expected +{expect_delta}"
                )
        agency.close(remove_logs=True)

        allb = pd.concat(batches, ignore_index=True)
        rollup = (
            allb.groupby("reason", as_index=False)
            .agg(n_events=("n_events", "sum"), sum_cents=("sum_cents", "sum"))
            .sort_values("reason")
        )
        # in-plan cross-check: the quarantine table holds exactly the
        # non-ok rows the report claims
        dlq_n = spark.read.parquet(dlq_dir).count()
        claimed = int(rollup.loc[rollup["reason"] != "ok", "n_events"].sum())
        if dlq_n != claimed:  # -O-safe
            raise AssertionError(f"DLQ holds {dlq_n} rows, report claims {claimed}")
        rollup["sum_cents"] = rollup["sum_cents"].astype("object").where(
            rollup["reason"] == "ok", None
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        rollup, "reason string, n_events long, sum_cents long"
    ).orderBy("reason")


@register(
    "streaming_ingest_dead_letter_queue",
    _DLQ_ORACLE,
    tags=("streaming", "quality", "routing", "dlq"),
)
def streaming_ingest_dead_letter_queue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter-queue ingest over one availableNow drain — see the
    section comment above."""
    return _run_ingest_dlq(spark, sf_dir, restart=False)


@register(
    "streaming_ingest_dlq_restart_drain",
    _DLQ_ORACLE,
    tags=("streaming", "quality", "routing", "dlq", "restart"),
)
def streaming_ingest_dlq_restart_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kill+resume path for the DLQ ingest (VERDICT r7 #7): drain the
    base corpus + the schema-corruption leg, KILL the query, publish the
    policy- and dimension-violation legs, resume from the same
    checkpoint.  Graded invariants, all across the checkpoint boundary:
    the per-reason admission report hash-equals the single-drain oracle;
    the quarantine table holds EXACTLY the claimed non-ok rows (the
    standing cross-check — a replayed batch would double-append); and
    the resumed instance's DLQ delta equals |post-kill invalid rows|
    exactly (asserted in-plan), proving the side-effecting quarantine
    append is once-per-row across a restart."""
    return _run_ingest_dlq(spark, sf_dir, restart=True)


# ---------------------------------------------------------------------------
# Late-data RECONCILIATION (the lambda pattern): the streaming rollup is
# PROVISIONAL — events arriving after the watermark passed their window
# are dropped by the stateful operator (by design; see the 100× drain
# measurement note in BASELINE.md) — but the durable topic LOG loses
# nothing, so a batch backfill over the same log recomputes the exact
# rollup and emits per-key CORRECTIONS (Δn, Δcents ≠ 0).  This is how a
# production deployment closes the watermark gap: stream for freshness,
# backfill for completeness, corrections as the audited diff.
#
# Arrival model (deterministic, oracle-reconstructible): events with
# event_id % 11 == 0 are held back and published AFTER the rest has been
# fully drained — by then the watermark sits at max(on-time ts) − 1 h,
# so a held-back event lands in the provisional rollup iff its daily
# window is still open (window_end > watermark); the rest are dropped.
# The oracle mirrors exactly that acceptance predicate.
#
# Scale: the provisional path is the normal drain; the backfill is one
# batch aggregate over the log (daily partitions at scale → backfill
# reads only the affected days); corrections are an outer-join diff on
# the view's own keys — O(view), never O(events).
# ---------------------------------------------------------------------------

_RECON_ORACLE = """
WITH wm AS (
  SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events WHERE event_id % 11 <> 0
), exact AS (
  SELECT CAST(ts AS DATE) AS event_date, event_type,
         count(*) AS n,
         cast(sum(cast(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
), prov AS (
  SELECT CAST(ts AS DATE) AS event_date, event_type,
         count(*) AS n,
         cast(sum(cast(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events, wm
  WHERE event_id % 11 <> 0
     OR date_trunc('day', ts) + INTERVAL 1 DAY > wm.w
  GROUP BY 1, 2
)
SELECT e.event_date, e.event_type,
       e.n - coalesce(p.n, 0) AS dn,
       e.cents - coalesce(p.cents, 0) AS dcents
FROM exact e LEFT JOIN prov p
  ON e.event_date = p.event_date AND e.event_type = p.event_type
WHERE e.n - coalesce(p.n, 0) <> 0 OR e.cents - coalesce(p.cents, 0) <> 0
ORDER BY e.event_date, e.event_type
"""


def _run_late_data_recon(
    spark: SparkSession, sf_dir: str, restart: bool = False
) -> DataFrame:
    import pandas as pd

    from event_streaming_spark.streaming.agency import EventsAgency

    ev = load(spark, sf_dir, "events")
    on_time = ev.filter(F.col("event_id") % 11 != 0)
    held_back = ev.filter(F.col("event_id") % 11 == 0)

    root = tempfile.mkdtemp(prefix="est-recon-")
    updates: list = []
    try:
        agency = EventsAgency(spark, root=root, log_format="parquet")
        ctx = agency.topic("driver-gate", "recon")

        def daily(df: DataFrame) -> DataFrame:
            return (
                df.withWatermark("ts", "1 hour")
                .groupBy(F.window("ts", "1 day"), "event_type")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"),
                )
            )

        def on_notify(c, batch_df: DataFrame, batch_id: int) -> None:
            pdf = batch_df.select(
                F.to_date(F.col("window.start")).alias("event_date"),
                "event_type",
                "n",
                "cents",
            ).toPandas()
            pdf["_b"] = len(updates)
            updates.append(pdf)

        def drain() -> None:
            ctx.consume(
                on_notify,
                once=True,
                transform=daily,
                output_mode="update",
                state_partitions=8,
            )

        def latest_per_key(pdfs: list) -> "pd.DataFrame":
            allu = pd.concat(pdfs, ignore_index=True)
            return (
                allu.sort_values("_b", kind="stable")
                .groupby(["event_date", "event_type"], as_index=False)
                .last()[["event_date", "event_type", "n", "cents"]]
            )

        # stream leg: on-time drained first (watermark advances to
        # max(on-time ts) − 1 h), then the held-back late arrivals
        if restart:
            # KILL+RESUME inside the on-time wave, split at the median ts
            # so the intermediate watermark (median − 1 h) can never drop
            # a second-half event — the provisional state is therefore
            # bit-identical to the single-drain run, and the restart is
            # an execution detail, not a semantic one (same oracle).
            pivot = int(
                on_time.select(F.unix_micros("ts").alias("us")).approxQuantile(
                    "us", [0.5], 0.001
                )[0]
            )
            first = on_time.filter(F.unix_micros("ts") <= pivot)
            second = on_time.filter(F.unix_micros("ts") > pivot)
            ctx.publish(first)
            drain()
            # kill the query instance; checkpoint + windowed state survive
            ctx.stop()
            ctx.publish(second)
            drain()
            # delta-only proof: if the resumed instance re-processed the
            # pre-kill files, the windowed counts would double — the
            # cumulative provisional row count must equal |on-time| exactly
            n_prov = int(latest_per_key(updates)["n"].sum())
            n_on_time = on_time.count()
            if n_prov != n_on_time:  # -O-safe
                raise AssertionError(
                    f"resumed drain reprocessed history: provisional rows "
                    f"{n_prov} != on-time rows {n_on_time}"
                )
            ctx.publish(held_back)
            drain()
        else:
            for wave in (on_time, held_back):
                ctx.publish(wave)
                drain()

        # provisional = last update per key across all drains
        prov = local_frame(spark, 
            latest_per_key(updates),
            "event_date date, event_type string, n long, cents long",
        )

        # backfill leg: batch recompute over the SAME durable topic log —
        # the log retained what the watermark dropped
        log = spark.read.schema(ctx.schema).parquet(ctx.log_dir)
        exact = (
            log.groupBy(F.to_date("ts").alias("event_date"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents"),
            )
        )
        e, p = exact.alias("e"), prov.alias("p")
        corr = (
            e.join(
                p,
                (F.col("e.event_date") == F.col("p.event_date"))
                & (F.col("e.event_type") == F.col("p.event_type")),
                "left",
            )
            .select(
                F.col("e.event_date").alias("event_date"),
                F.col("e.event_type").alias("event_type"),
                (F.col("e.n") - F.coalesce(F.col("p.n"), F.lit(0))).alias("dn"),
                (
                    F.col("e.cents") - F.coalesce(F.col("p.cents"), F.lit(0))
                ).alias("dcents"),
            )
            .filter((F.col("dn") != 0) | (F.col("dcents") != 0))
            .orderBy("event_date", "event_type")
        )
        if corr.isEmpty():  # -O-safe: the gate must exercise real drops
            raise AssertionError("no watermark-dropped events — arrival model broken")
        capture_plan("streaming_late_data_reconciliation/backfill_diff", corr)
        pdf = corr.toPandas()
        agency.close(remove_logs=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        pdf, "event_date date, event_type string, dn long, dcents long"
    ).orderBy("event_date", "event_type")


@register(
    "streaming_late_data_reconciliation",
    _RECON_ORACLE,
    tags=("streaming", "window", "backfill", "lambda"),
)
def streaming_late_data_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lambda reconciliation: provisional stream rollup + exact batch
    backfill over the same durable log; corrections = the diff.  See the
    section comment above."""
    return _run_late_data_recon(spark, sf_dir, restart=False)


@register(
    "streaming_late_data_recon_restart_drain",
    _RECON_ORACLE,
    tags=("streaming", "window", "backfill", "lambda", "restart"),
)
def streaming_late_data_recon_restart_drain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The kill+resume path for the reconciliation pipeline (VERDICT r7
    #7): the on-time wave is split at its median ts, the query instance
    is KILLED between the halves, and a new instance resumes from the
    same checkpoint before the held-back late wave arrives.  Graded
    invariant: the correction set is identical across the checkpoint
    boundary (same oracle as the single-drain variant), and the resumed
    instance provably processes ONLY the post-kill delta — the
    cumulative provisional count must equal |on-time| exactly, which a
    history re-process would double (asserted in-plan).  The median-ts
    split keeps the intermediate watermark below every second-half
    event, so the restart cannot change which rows the watermark drops:
    restart is an execution detail, not a semantic one."""
    return _run_late_data_recon(spark, sf_dir, restart=True)


@register(
    "streaming_custom_state_sessionizer",
    _SESSIONW_ORACLE,
    tags=("streaming", "state", "session", "custom"),
)
def streaming_custom_state_sessionizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization through the CUSTOM stateful operator
    (``applyInPandasWithState``, streaming/state.py::sessionize_stream)
    instead of the built-in ``session_window`` — same batch-islands
    oracle as ``streaming_session_window_drain``, so the driver's hash
    pins the custom operator's state fold, its event-time-timeout
    eviction, and its exactly-once append emission all at once.

    Arrival model: two ts-ordered waves split at the median (the open
    sessions at the split CROSS the wave boundary through GroupState —
    the path a single-drain run never exercises), then the far-future
    sentinel advances the watermark so every remaining open session
    times out and flushes (Spark's no-data micro-batch fires the
    event-time timeouts after the final watermark update).

    Scale: state is one 4-long record per OPEN session (bounded by
    concurrent users, evicted on timeout); per-batch work is an
    Arrow-batched fold over each key's new rows — no shuffle beyond the
    keyed exchange every stateful operator pays."""
    import datetime as _dt

    from event_streaming_spark.streaming.agency import EventsAgency
    from event_streaming_spark.streaming.state import sessionize_stream

    root = tempfile.mkdtemp(prefix="est-custsess-")
    batches: list = []
    try:
        agency = EventsAgency(spark, root=root, log_format="parquet")
        ctx = agency.topic("driver-gate", "custom-sessions")
        ev = load(spark, sf_dir, "events")
        max_ts = ev.agg(F.max("ts")).first()[0]
        pivot = int(
            ev.select(F.unix_micros("ts").alias("us")).approxQuantile(
                "us", [0.5], 0.001
            )[0]
        )
        sentinel = [
            {
                "event_id": -1,
                "ts": (max_ts + _dt.timedelta(hours=2)).isoformat(sep="T"),
                "user_id": -1,
                "event_type": "__flush__",
                "value": 0.0,
                "props": "{}",
            }
        ]

        def sessioned(df: DataFrame) -> DataFrame:
            out = sessionize_stream(df.withWatermark("ts", "1 hour"))
            # the scale-relevant INTERNAL plan (FlatMapGroupsInPandasWithState
            # over the keyed exchange) — the returned DF is localized rows
            capture_plan("streaming_custom_state_sessionizer/stateful_plan", out)
            return out

        def on_notify(c, batch_df: DataFrame, batch_id: int) -> None:
            batches.append(batch_df.toPandas())

        for wave in (
            ev.filter(F.unix_micros("ts") <= pivot),
            ev.filter(F.unix_micros("ts") > pivot),
            sentinel,
        ):
            ctx.publish(wave)
            ctx.consume(
                on_notify,
                once=True,
                transform=sessioned,
                output_mode="append",
                state_partitions=8,
            )
        agency.close(remove_logs=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)

    import pandas as pd

    if not batches:
        return local_frame(spark, [], _SESSIONW_SCHEMA)
    out = pd.concat(batches, ignore_index=True)
    out = out[out["user_id"] >= 0].copy()  # drop the watermark sentinel
    out["session_value"] = (out["sv"] / 1e6).round(2)
    out = out[
        ["user_id", "session_start_ms", "n_events", "duration_s", "session_value"]
    ]
    return spark.createDataFrame(out, _SESSIONW_SCHEMA)


# ---------------------------------------------------------------------------
# Streaming APPROXIMATE distinct: HLL registers AS the streaming state.
# Exact streaming COUNT(DISTINCT user) needs state proportional to the
# distinct users per window; the production shape for "how many uniques
# today, live" keeps ≤ m=64 REGISTER rows per window instead — the
# register update (per-(window, bucket) max) is a plain streaming MAX
# aggregate, so watermarks/update-mode/checkpointing all apply
# unchanged.  The registers come from the batch sketch's own builder
# (operators/sketches.py::hll_registers_by, grouped by window): the
# drain's final per-(window, bucket) updates are the exact same
# registers the batch sketch computes (max is idempotent/
# commutative — arrival order can't change it), so the finalized
# estimate is bit-equal to the batch HLL AND the oracle can replay it
# in SQL; the exact distinct rides along for the error audit.
# Scale: state = windows × 64 rows regardless of event volume — the
# whole point; callback traffic is register-sized.
# ---------------------------------------------------------------------------


def _hll_drain_oracle() -> str:
    from event_streaming_spark.functions.hashing import sql_stable_hash32
    from event_streaming_spark.operators.sketches import _alpha

    b = 6
    m = 1 << b
    w_bits = 32 - b
    mask = (1 << w_bits) - 1
    alpha = _alpha(m)
    h = sql_stable_hash32("cast(user_id AS VARCHAR)")
    return f"""
WITH hashed AS (
  SELECT CAST(ts AS DATE) AS day, {h} AS h FROM events
), br AS (
  SELECT day, h >> {w_bits} AS bucket,
         CASE WHEN (h & {mask}) = 0 THEN {w_bits + 1}
              ELSE {w_bits + 1} - length(bin(h & {mask})) END AS rank
  FROM hashed WHERE h IS NOT NULL
), regs AS (
  SELECT day, bucket, max(rank) AS reg FROM br GROUP BY day, bucket
), acc AS (
  SELECT day, sum(1::BIGINT << (32 - reg)) AS s_scaled, count(*) AS m_present
  FROM regs GROUP BY day
), est AS (
  SELECT day, CASE
    WHEN ({alpha} * {m} * {m} * 4294967296.0)
           / (s_scaled + ({m} - m_present) * 4294967296) <= {2.5 * m}
         AND ({m} - m_present) > 0
    THEN round({float(m)} * ln({float(m)} / ({m} - m_present)), 4)
    ELSE round(({alpha} * {m} * {m} * 4294967296.0)
           / (s_scaled + ({m} - m_present) * 4294967296), 4)
  END AS hll_users
  FROM acc
), exact AS (
  SELECT CAST(ts AS DATE) AS day,
         cast(count(DISTINCT user_id) AS BIGINT) AS exact_users
  FROM events GROUP BY day
)
SELECT est.day AS day, est.hll_users, exact.exact_users
FROM est JOIN exact ON est.day = exact.day
ORDER BY day
"""


@register(
    "streaming_hll_distinct_drain",
    _hll_drain_oracle(),
    tags=("streaming", "sketch", "window", "agg"),
)
def streaming_hll_distinct_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the topic log through a windowed HLL-register aggregate
    (see section comment); finalize the drained registers and audit
    against the batch exact distinct."""
    from event_streaming_spark.operators.sketches import hll_finalize_by, hll_registers_by
    from event_streaming_spark.streaming.agency import EventsAgency

    b = 6
    root = tempfile.mkdtemp(prefix="est-hlldrain-")
    fold = UpdateModeFold(["day", "bucket"])
    try:
        agency = EventsAgency(spark, root=root, log_format="parquet")
        ctx = agency.topic("driver-gate", "hll-distinct")
        ev = load(spark, sf_dir, "events")
        ctx.publish(ev)

        def registered(df: DataFrame) -> DataFrame:
            # the aliased window keeps the watermark's metadata, so
            # update mode still evicts closed windows from the state
            windowed = df.withWatermark("ts", "1 hour").select(
                F.window("ts", "1 day").alias("window"), "user_id"
            )
            return hll_registers_by(windowed, ["window"], F.col("user_id"), b)

        def on_notify(c, batch_df: DataFrame, batch_id: int) -> None:
            fold.collect(
                batch_df.select(F.to_date(F.col("window.start")).alias("day"), "bucket", "reg"),
                batch_id,
            )

        ctx.consume(
            on_notify,
            once=True,
            transform=registered,
            output_mode="update",
            # state = windows × 64 register rows — the sketch's whole point
            state_partitions=8,
        )
        agency.close(remove_logs=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)

    regs_df = fold.frame(
        spark, "day date, bucket long, reg long", lambda last: last[["day", "bucket", "reg"]]
    )
    est = hll_finalize_by(regs_df, ["day"], b).withColumnRenamed(
        "hll_estimate", "hll_users"
    )
    exact = (
        load(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    return est.join(exact, "day").orderBy("day")


# ---------------------------------------------------------------------------
# Streaming heavy hitters: bounded Misra-Gries state ACROSS micro-batches
# (streaming/state.py::heavy_hitters_stream) + one exact batch rescan of
# the candidates — the streaming twin of `text_heavy_hitters_mg_rescan`.
# Three arrival waves (doc_id % 3) force the candidate set to form
# incrementally through GroupState; streaming state never exceeds
# #salts × capacity counters no matter the vocabulary (an exact
# streaming top-k would hold the whole vocabulary in the state store).
# Correctness is PROVEN per run: each term lives in exactly one salt
# group, so a group's realized decrement total bounds the undercount of
# any term it dropped; the plan asserts min(top-20 exact count) >
# max_g(dec_total_g) and raises otherwise — on return the output
# provably equals the exact global top-20 the oracle computes.
# ---------------------------------------------------------------------------


def _shh_oracle() -> str:
    from event_streaming_spark.functions.hashing import sql_normalize_text

    return f"""
WITH t AS (
  SELECT unnest(string_split({sql_normalize_text('text')}, ' ')) AS term
  FROM documents
), c AS (
  SELECT term, cast(count(*) AS BIGINT) AS n FROM t GROUP BY 1
), r AS (
  SELECT term, n, row_number() OVER (ORDER BY n DESC, term) AS rnk FROM c
)
SELECT term, n, rnk FROM r WHERE rnk <= 20
"""


_SHH_CAPACITY = 64
_SHH_SALTS = 8


def _run_heavy_hitters(spark: SparkSession, sf_dir: str, restart: bool) -> DataFrame:
    from pyspark.sql import Window

    from event_streaming_spark.functions.hashing import tokens as tok_fn
    from event_streaming_spark.plans.catalog import spread
    from event_streaming_spark.streaming.agency import EventsAgency
    from event_streaming_spark.streaming.state import heavy_hitters_stream

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", (F.col("doc_id") % 3).cast("int").alias("wave"), "text"
    )
    root = tempfile.mkdtemp(prefix="est-shh-")
    batches: list = []
    phase = [1]  # restart path: 1 = first query instance, 2 = resumed
    try:
        agency = EventsAgency(spark, root=root, log_format="parquet")
        ctx = agency.topic("driver-gate", "hh-docs")
        ctx.schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("wave", T.IntegerType()),
                T.StructField("text", T.StringType()),
            ]
        )

        def summarized(df: DataFrame) -> DataFrame:
            toks = df.select(F.explode(tok_fn(F.col("text"))).alias("term")).select(
                F.pmod(F.hash("term"), F.lit(_SHH_SALTS)).cast("int").alias("salt"),
                "term",
            )
            out = heavy_hitters_stream(toks, capacity=_SHH_CAPACITY)
            capture_plan(
                "streaming_heavy_hitters"
                + ("_restart" if restart else "")
                + "_drain/stateful_plan",
                out,
            )
            return out

        def on_notify(c, batch_df: DataFrame, batch_id: int) -> None:
            pdf = batch_df.toPandas()
            pdf["_b"] = len(batches)
            pdf["_phase"] = phase[0]
            batches.append(pdf)

        # arrival schedule: the restart variant holds wave 2 back until
        # the first query instance has been killed
        for w in range(2 if restart else 3):
            ctx.publish(docs.filter(F.col("wave") == w))
        ctx.consume(
            on_notify,
            once=True,
            transform=summarized,
            output_mode="update",
            # state = salts x capacity counter rows -- the whole point
            state_partitions=_SHH_SALTS,
            # one micro-batch per 32-file wave: 3 per drain (r12; was 16
            # -> 6 half-wave batches paying double the per-batch state
            # open+snapshot+commit floors).  Still >1 micro-batch per
            # instance, so incremental GroupState formation stays
            # exercised; MG folding is batch-split-insensitive (the
            # decrement bound and the conservation proof hold for any
            # batching), and the graded output is the exact rescan.
            max_files_per_trigger=32,
        )
        if restart:
            # KILL the query instance (availableNow already terminated it;
            # stop() drops the handle so nothing survives but the
            # checkpoint + the GroupState store), publish the held-back
            # wave, and RESUME from the same checkpoint.
            ctx.stop()
            phase[0] = 2
            ctx.publish(docs.filter(F.col("wave") == 2))
            ctx.consume(
                on_notify,
                once=True,
                transform=summarized,
                output_mode="update",
                state_partitions=_SHH_SALTS,
                max_files_per_trigger=32,
            )
            if not any(p["_phase"].eq(2).any() for p in batches if not p.empty):
                raise AssertionError("resumed query emitted no snapshots")  # -O-safe
        agency.close(remove_logs=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)

    import pandas as pd

    allb = pd.concat([b for b in batches if not b.empty], ignore_index=True)
    # final snapshot per salt group = its last emission
    last_b = allb.groupby("salt")["_b"].transform("max")
    final = allb[allb["_b"] == last_b]
    maxdec = int(final["dec_total"].max())
    cand = spark.createDataFrame(final[["term"]].drop_duplicates(), "term string")

    # exact rescan of candidates only; global top-20 via TakeOrdered,
    # rank window applied post-limit on 20 rows.  The stream-token total
    # needed by the conservation proof below rides this SAME pass as an
    # observed metric (CollectMetrics above the candidate join, which a
    # filter cannot be pushed through) — previously a separate
    # stream.count() re-tokenized the whole corpus a second time
    # (guide §1.2: don't compute a full pass for a scalar a running pass
    # already produces).  If the observation ever under-counted (e.g. a
    # pushdown through the metrics node), the conservation assert below
    # fails loudly — the proof guards its own instrumentation.
    from pyspark.sql import Observation

    tok_obs = Observation("shh-total-tokens")
    stream = (
        spread(load(spark, sf_dir, "documents"))
        .select(F.explode(tok_fn(F.col("text"))).alias("term"))
        .observe(tok_obs, F.count(F.lit(1)).alias("n"))
    )
    exact = (
        stream.join(F.broadcast(cand), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    top = exact.orderBy(F.col("n").desc(), "term").limit(20)
    # materializer pin, not .cache(): a leaked cache entry would be
    # plan-matched by the next invocation in the same session (cache
    # hygiene, VERDICT r11) — the checkpoint pins the 20 rows for the
    # proof reads below and the caller, and a rerun always recomputes.
    from event_streaming_spark.operators.materialize import materialize

    ranked = materialize(
        top.select(
            "term",
            "n",
            F.row_number()
            .over(Window.orderBy(F.col("n").desc(), F.col("term")))
            .alias("rnk"),
        ),
        "shh-ranked",
    )
    ranked_rows = ranked.collect()  # exact pass + observation ran at the pin
    total_tokens = int(tok_obs.get["n"])

    # TOKEN-CONSERVATION proof: summed over salt groups, the final
    # snapshots' running n_seen must equal the batch-leg token count
    # exactly -- every token folded into the state ONCE (a lost
    # GroupState across the kill would undercount; a source-offset
    # re-delivery would overcount).  On the tiny fixture vocabulary the
    # oracle alone could not distinguish a state reset (the last wave
    # re-covers every term), so this equality, not the rank match, is
    # what pins cross-instance state persistence.
    seen_sum = int(final.drop_duplicates(["salt"])["n_seen"].sum())
    if seen_sum != total_tokens:  # -O-safe
        raise AssertionError(
            f"token conservation violated across the drain: state n_seen "
            f"{seen_sum} != {total_tokens} stream tokens (lost or "
            f"re-delivered micro-batches)"
        )
    if restart:
        # delta-only proof: the resumed instance's contribution equals
        # EXACTLY the held-back wave's token count
        pre = allb[allb["_phase"] == 1]
        pre_last = pre.groupby("salt")["_b"].transform("max")
        pre_seen = int(pre[pre["_b"] == pre_last].drop_duplicates(["salt"])["n_seen"].sum())
        wave2 = (
            spread(load(spark, sf_dir, "documents"))
            .filter((F.col("doc_id") % 3) == 2)
            .select(F.explode(tok_fn(F.col("text"))).alias("term"))
            .count()
        )
        if seen_sum - pre_seen != wave2:  # -O-safe
            raise AssertionError(
                f"resumed instance processed {seen_sum - pre_seen} tokens, "
                f"expected exactly the post-kill delta {wave2}"
            )

    floor = min(r["n"] for r in ranked_rows)
    if floor <= maxdec:  # -O-safe
        raise AssertionError(
            f"MG capacity {_SHH_CAPACITY}x{_SHH_SALTS} cannot prove top-20 "
            f"completeness: min exact count {floor} <= realized decrement "
            f"bound {maxdec}; raise _SHH_CAPACITY"
        )
    return ranked


@register(
    "streaming_heavy_hitters_drain",
    _shh_oracle(),
    tags=("streaming", "sketch", "state", "text"),
    bench=True,  # r8: heaviest streaming addition — tracked round-over-round
)
def streaming_heavy_hitters_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the documents topic through the bounded-state MG operator in
    three arrival waves; exact-rescan the final candidates, prove top-20
    completeness from the realized decrement totals, and prove token
    conservation (state n_seen == stream token count exactly)."""
    return _run_heavy_hitters(spark, sf_dir, restart=False)


@register(
    "streaming_heavy_hitters_restart_drain",
    _shh_oracle(),
    tags=("streaming", "sketch", "state", "text", "restart"),
)
def streaming_heavy_hitters_restart_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION restart path for the bounded MG state: drain two
    waves, KILL the query, publish the held-back wave, resume from the
    same checkpoint.  The resumed instance must carry the predecessor's
    GroupState forward (token conservation: final n_seen == total stream
    tokens) and must process EXACTLY the post-kill delta (n_seen growth
    == held-back wave's token count) -- both asserted in-plan.  Same
    oracle as the single-run variant: restart is an execution detail,
    not a semantic one."""
    return _run_heavy_hitters(spark, sf_dir, restart=True)


# ===========================================================================
# Streaming incremental MinHash-LSH dedup: a continuously-maintained
# band index that dedups each arriving micro-batch against ALL history at
# delta cost — the production shape for deduplicating a continuous crawl
# feed without ever recomputing the full pair join.
#
# Three "arrival waves" of the documents table (wave = doc_id % 3) are
# published to a topic log and drained with availableNow micro-batches.
# Per micro-batch, inside the subscriber callback (the O3 contract):
#
# 1. band the batch's docs (same k=16 minhash / LSH_BANDS machinery as
#    ``minhash_lsh_near_dup_pairs``);
# 2. PROBE the pre-update index store for cross-batch candidates — an
#    equi-join on (band_idx, band_hash) against only the new docs' bands;
# 3. self-join within the batch for same-batch candidates;
# 4. verify candidates by estimated Jaccard and emit pairs ≥ 0.3;
# 5. append the batch's bands to the index — a BUCKETED managed table
#    keyed by (band_idx, band_hash) (``sources/bucketed.py``); the index
#    itself never leaves the cluster.
#
# The graded invariant: the union of incrementally-found pairs equals the
# FULL batch LSH pair set, with each pair labeled canonically by arrival
# order (earlier = smaller (wave, doc_id)) — and this holds for ANY
# micro-batch partitioning of the log, which is exactly what makes the
# incremental index trustworthy in production: Spark's file-source
# batching is an execution detail, not a semantic one.
#
# Reference parity: topic publish/consume + subscriber callback
# (include/events-agency.h:52, src/events-agency.c) carrying the LLM-dedup
# workload end to end.
#
# Scale: per batch the probe is bands(batch) ⋈ index — candidate-bounded,
# never all-pairs.  The index IS bucketed by (band_idx, band_hash)
# (``sources/bucketed.py``; r6, VERDICT r5 #6): each batch's append pays
# one delta-sized bucket shuffle at write time, and the probe join plans
# with NO Exchange on the index side — the accumulated history never
# reshuffles, so per-batch cost tracks the DELTA (new docs × bands), not
# history (asserted on the physical plan in
# tests/test_bucketed_and_streamjoin.py).
# ===========================================================================

# Same pair set as the batch LSH oracle — only the labeling differs:
# each unordered candidate pair maps to (earlier, later) by the arrival
# key (wave = doc_id % 3, doc_id).
_SDEDUP_ORACLE = f"""
WITH hs AS (
  SELECT doc_id, {S.sql_shingle_hashes('text')} AS hs FROM documents
), sig AS (
  SELECT doc_id, {', '.join(S.sql_minhash_exprs('hs'))} FROM hs
), banded AS (
  SELECT doc_id, {', '.join(S.sql_band_hash_exprs())} FROM sig
), bands AS (
  {' UNION ALL '.join(f"SELECT doc_id, {j} AS band_idx, band{j} AS bh FROM banded" for j in range(S.LSH_BANDS))}
), cand AS (
  SELECT DISTINCT a.doc_id AS earlier_doc, b.doc_id AS later_doc
  FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.bh = b.bh
   AND ((a.doc_id % 3 < b.doc_id % 3)
        OR (a.doc_id % 3 = b.doc_id % 3 AND a.doc_id < b.doc_id))
)
SELECT earlier_doc, later_doc, est_jaccard FROM (
  SELECT earlier_doc, later_doc,
         round(cast({_EQ_SUM} as double) / {S.MINHASH_K}, 6) AS est_jaccard
  FROM cand JOIN sig sa ON sa.doc_id = earlier_doc JOIN sig sb ON sb.doc_id = later_doc
) WHERE est_jaccard >= 0.3
ORDER BY earlier_doc, later_doc
"""

_PAIR_SCHEMA = T.StructType(
    [
        T.StructField("earlier_doc", T.LongType()),
        T.StructField("later_doc", T.LongType()),
        T.StructField("est_jaccard", T.DoubleType()),
    ]
)


def _banded(df: DataFrame) -> DataFrame:
    """(doc_id, wave, text) → exploded band rows carrying the signature."""
    hs = df.select(
        "doc_id", "wave", S.shingle_hashes(F.col("text")).alias("hs")
    )
    sig = hs.select(
        "doc_id", "wave", F.array(*S.minhash_cols(F.col("hs"))).alias("sig")
    )
    return sig.select(
        "doc_id",
        "wave",
        "sig",
        F.posexplode(F.array(*S.band_hashes_over(F.col("sig")))).alias("band_idx", "bh"),
    )


def _arrival_lt(a_wave, a_doc, b_wave, b_doc):
    return (a_wave < b_wave) | ((a_wave == b_wave) & (a_doc < b_doc))


def _run_minhash_index(spark: SparkSession, sf_dir: str, restart: bool) -> DataFrame:
    import uuid

    from event_streaming_spark.sources.bucketed import write_bucketed
    from event_streaming_spark.streaming.agency import EventsAgency

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", (F.col("doc_id") % 3).cast("int").alias("wave"), "text"
    )

    root = tempfile.mkdtemp(prefix="est-sdedup-")
    # The band index is a BUCKETED managed table keyed by the probe's
    # join columns: history never reshuffles at probe time, each append
    # pays only its own delta-sized bucket shuffle (VERDICT r5 #6).
    idx_table = f"sdedup_band_index_{uuid.uuid4().hex[:12]}"
    idx_appended = [False]
    phase = [1]  # restart path: 1 = first run, 2 = resumed-from-checkpoint
    found: list = []  # bounded: the final near-dup PAIR set, not the corpus
    try:
        agency = EventsAgency(spark, root=root, log_format="parquet")
        ctx = agency.topic("driver-gate", "docs")
        # topic payload is documents, not the default event envelope
        ctx.schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("wave", T.IntegerType()),
                T.StructField("text", T.StringType()),
            ]
        )
        # arrival schedule: the restart variant holds wave 2 back until
        # the first query instance has been killed
        for w in range(2 if restart else 3):
            ctx.publish(docs.filter(F.col("wave") == w))

        def on_notify(c, batch_df: DataFrame, batch_id: int) -> None:
            if restart and phase[0] == 2:
                # Graded restart invariant: the resumed query must see
                # ONLY the delta published after the kill — a re-delivery
                # of waves 0/1 would mean the checkpoint's source offsets
                # were lost (the final dropDuplicates would mask it, so
                # assert it in-plan like the gateway's 401 check).
                early = batch_df.filter(F.col("wave") < 2).count()
                if early != 0:  # -O-safe, like the gateway's 401 check
                    raise AssertionError(f"restart re-delivered {early} pre-kill docs")
            bands = _banded(batch_df).localCheckpoint()
            sig_b = bands.select("doc_id", "wave", "sig").dropDuplicates(["doc_id"])
            pair_frames = []
            # cross-batch: probe the PRE-update index (disjoint from batch).
            # Read through the BATCH's session: the managed table lives in
            # the shared catalog, but each session caches the relation's
            # file list — the batch session is the one whose cache the
            # append invalidates, so it alone is guaranteed fresh.
            if idx_appended[0]:
                idx = batch_df.sparkSession.table(idx_table).alias("x")
                n = bands.alias("n")
                pair_frames.append(
                    n.join(
                        idx,
                        (F.col("n.band_idx") == F.col("x.band_idx"))
                        & (F.col("n.bh") == F.col("x.bh")),
                    ).select(
                        F.col("n.doc_id").alias("da"), F.col("n.wave").alias("wa"),
                        F.col("n.sig").alias("sig_a"),
                        F.col("x.doc_id").alias("db"), F.col("x.wave").alias("wb"),
                        F.col("x.sig").alias("sig_b"),
                    )
                )
            # same-batch: half self-join by arrival key
            a, b = bands.alias("a"), bands.alias("b")
            pair_frames.append(
                a.join(
                    b,
                    (F.col("a.band_idx") == F.col("b.band_idx"))
                    & (F.col("a.bh") == F.col("b.bh"))
                    & _arrival_lt(
                        F.col("a.wave"), F.col("a.doc_id"),
                        F.col("b.wave"), F.col("b.doc_id"),
                    ),
                ).select(
                    F.col("a.doc_id").alias("da"), F.col("a.wave").alias("wa"),
                    F.col("a.sig").alias("sig_a"),
                    F.col("b.doc_id").alias("db"), F.col("b.wave").alias("wb"),
                    F.col("b.sig").alias("sig_b"),
                )
            )
            cand = pair_frames[0]
            for extra in pair_frames[1:]:
                cand = cand.unionByName(extra)
            # canonical (earlier, later) labels + Jaccard verify
            flip = _arrival_lt(F.col("wb"), F.col("db"), F.col("wa"), F.col("da"))
            scored = (
                cand.select(
                    F.when(flip, F.col("db")).otherwise(F.col("da")).alias("earlier_doc"),
                    F.when(flip, F.col("da")).otherwise(F.col("db")).alias("later_doc"),
                    S.minhash_est_jaccard_arrays(
                        F.col("sig_a"), F.col("sig_b")
                    ).alias("est_jaccard"),
                )
                .dropDuplicates(["earlier_doc", "later_doc"])
                .filter(F.col("est_jaccard") >= 0.3)
            )
            # expose the per-batch probe plan (delta ⋈ bucketed index, no
            # Exchange on the index side) to tools/dump_plans.py — the
            # drain's returned DataFrame is localized and can't show it
            if idx_appended[0]:
                capture_plan(
                    "streaming_minhash_index"
                    + ("_restart" if restart else "")
                    + "_drain/cross_batch_probe",
                    scored,
                )
            # result-sized localization (the pair set), same bound as the
            # other drains' callback collections
            found.append(scored.toPandas())
            # index update AFTER the probe: append this batch's bands into
            # the same bucket layout (delta-sized shuffle, history untouched)
            write_bucketed(
                bands.select("doc_id", "wave", "band_idx", "bh", "sig"),
                idx_table,
                ["band_idx", "bh"],
                n_buckets=8,
                sort=False,
                mode="append" if idx_appended[0] else "overwrite",
            )
            idx_appended[0] = True

        ctx.consume(
            on_notify,
            once=True,
            transform=None,
            max_files_per_trigger=16,  # force >1 micro-batch: the pair set must not depend on the split
        )
        if restart:
            # KILL the query instance (availableNow already terminated it;
            # stop() drops the handle so nothing survives but the
            # checkpoint + the index table), publish the held-back wave,
            # and RESUME from the same checkpoint: the restarted instance
            # must process only the new files and probe the index built
            # by its predecessor.
            ctx.stop()
            n_before = len(found)
            phase[0] = 2
            ctx.publish(docs.filter(F.col("wave") == 2))
            ctx.consume(on_notify, once=True, transform=None, max_files_per_trigger=16)
            if len(found) <= n_before:  # -O-safe
                raise AssertionError("resumed query processed no batches")
        agency.close(remove_logs=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.sql(f"DROP TABLE IF EXISTS {idx_table}")

    import pandas as pd

    if not found:
        return local_frame(spark, [], _PAIR_SCHEMA)
    allp = pd.concat(found, ignore_index=True)
    if allp.empty:
        return local_frame(spark, [], _PAIR_SCHEMA)
    return (
        spark.createDataFrame(allp, _PAIR_SCHEMA)
        .dropDuplicates(["earlier_doc", "later_doc"])
        .orderBy("earlier_doc", "later_doc")
    )


@register(
    "streaming_minhash_index_drain",
    _SDEDUP_ORACLE,
    tags=("streaming", "llm", "dedup", "join"),
)
def streaming_minhash_index_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash-LSH dedup over three arrival waves drained in
    one availableNow pass — see the module docstring."""
    return _run_minhash_index(spark, sf_dir, restart=False)


@register(
    "streaming_minhash_index_restart_drain",
    _SDEDUP_ORACLE,
    tags=("streaming", "llm", "dedup", "join", "restart"),
)
def streaming_minhash_index_restart_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION restart path under the gate (VERDICT r5 #8): drain
    waves 0-1, KILL the query, publish wave 2, resume a new query
    instance from the same checkpoint.  Graded invariant: the union of
    pairs across both instances equals the full batch LSH pair set — and
    the resumed instance processes ONLY the post-kill delta (asserted
    in-plan: a wave<2 doc in phase 2 raises), probing the band index its
    predecessor built.  Same oracle as the single-drain variant: restart
    is an execution detail, not a semantic one."""
    return _run_minhash_index(spark, sf_dir, restart=True)


# ---------------------------------------------------------------------------
# Streaming incremental SEMANTIC dedup — the embedding-space complement
# of the MinHash index drain above.  Textual LSH can't see paraphrases;
# this index catches them as they ARRIVE, at delta cost:
#
#   * cell key = the stateless hyperplane bucket (operators/similarity
#     sign-pattern LSH): no centroids to train, so the quantizer is
#     identical for every batch by construction — the property that
#     makes semantic dedup incremental (SemDeDup's k-means cells would
#     drift as history grows);
#   * pair gate = the exact-integer cosine test SemDeDup uses
#     (int8-style quantization, dot>0 ∧ dot²·10⁶ ≥ τ²ppm·‖a‖²·‖b‖²,
#     all int64 — bit-identical on any engine/partitioning);
#   * per batch: probe the PRE-update bucket index for cross-batch
#     candidates (equi-join on bucket), self-join within the batch,
#     gate, emit (earlier, later) by arrival order, append the batch
#     to the index (bucketed managed table — delta-sized write shuffle,
#     history never reshuffles).
#
# Graded invariant: the union of incrementally-found pairs equals the
# batch recompute over the full corpus — for ANY micro-batch split.
# Recall vs exact cosine is a separate, already-audited property
# (emb_lsh_recall_audit); THIS gate pins the incremental-index algebra.
# ---------------------------------------------------------------------------


_SEM_STREAM_ORACLE = f"""
WITH q8 AS (
  SELECT vec_id, vec_id % 3 AS wave,
         {S.sql_hyperplane_bucket('embedding')} AS bucket,
         list_transform(embedding,
             x -> cast(floor(cast(x as double)*{_SEM_SCALE} + 0.5) as bigint)) AS q
  FROM embeddings
), nn AS (
  SELECT vec_id, wave, bucket, q,
         list_sum(list_transform(q, x -> x*x)) AS n2
  FROM q8
), pairs AS (
  SELECT a.vec_id AS va, a.wave AS wa, b.vec_id AS vb, b.wave AS wb,
         list_sum(list_transform(list_zip(a.q, b.q),
                  t -> t[1] * t[2])) AS dot,
         a.n2 AS n2a, b.n2 AS n2b
  FROM nn a JOIN nn b ON a.bucket = b.bucket
   AND ((a.wave < b.wave) OR (a.wave = b.wave AND a.vec_id < b.vec_id))
)
SELECT va AS earlier_vec, vb AS later_vec,
       cast((dot * dot * 1000000) // (n2a * n2b) AS BIGINT) AS cos_sq_ppm
FROM pairs
WHERE dot > 0 AND dot * dot * 1000000 >= {_SEM_TAU_SQ_PPM} * n2a * n2b
ORDER BY earlier_vec, later_vec
"""

_SEMPAIR_SCHEMA = T.StructType(
    [
        T.StructField("earlier_vec", T.LongType()),
        T.StructField("later_vec", T.LongType()),
        T.StructField("cos_sq_ppm", T.LongType()),
    ]
)


def _run_semantic_index(spark: SparkSession, sf_dir: str, restart: bool) -> DataFrame:
    import uuid

    from event_streaming_spark.operators.similarity import hyperplane_bucket
    from event_streaming_spark.sources.bucketed import write_bucketed
    from event_streaming_spark.streaming.agency import EventsAgency

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", (F.col("vec_id") % 3).cast("int").alias("wave"), "embedding"
    )

    root = tempfile.mkdtemp(prefix="est-semidx-")
    idx_table = f"sem_bucket_index_{uuid.uuid4().hex[:12]}"
    idx_appended = [False]
    phase = [1]  # restart path: 1 = first run, 2 = resumed-from-checkpoint
    found: list = []
    try:
        agency = EventsAgency(spark, root=root, log_format="parquet")
        ctx = agency.topic("driver-gate", "vecs")
        ctx.schema = T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("wave", T.IntegerType()),
                T.StructField("embedding", T.ArrayType(T.FloatType())),
            ]
        )
        # arrival schedule: the restart variant holds wave 2 back until
        # the first query instance has been killed
        for w in range(2 if restart else 3):
            ctx.publish(emb.filter(F.col("wave") == w))

        def _featurize(df: DataFrame) -> DataFrame:
            q = F.transform(
                "embedding",
                lambda x: F.floor(x.cast("double") * _SEM_SCALE + F.lit(0.5)).cast("long"),
            )
            out = df.select(
                "vec_id",
                "wave",
                hyperplane_bucket(F.col("embedding")).alias("bucket"),
                q.alias("q"),
            )
            n2 = F.aggregate(
                F.transform("q", lambda x: x * x),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            return out.withColumn("n2", n2)

        def _gate_and_label(cand: DataFrame) -> DataFrame:
            dot = F.aggregate(
                F.zip_with("qa", "qb", lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            scored = cand.withColumn("dot", dot).filter(
                (F.col("dot") > 0)
                & (
                    F.col("dot") * F.col("dot") * F.lit(1_000_000)
                    >= F.lit(_SEM_TAU_SQ_PPM) * F.col("n2a") * F.col("n2b")
                )
            )
            flip = _arrival_lt(F.col("wb"), F.col("vb"), F.col("wa"), F.col("va"))
            return scored.select(
                F.when(flip, F.col("vb")).otherwise(F.col("va")).alias("earlier_vec"),
                F.when(flip, F.col("va")).otherwise(F.col("vb")).alias("later_vec"),
                F.expr("(dot * dot * 1000000) div (n2a * n2b)").alias("cos_sq_ppm"),
            ).dropDuplicates(["earlier_vec", "later_vec"])

        def on_notify(c, batch_df: DataFrame, batch_id: int) -> None:
            if restart and phase[0] == 2:
                # Graded restart invariant (same as the minhash variant):
                # the resumed query must see ONLY the post-kill delta —
                # a wave<2 vector here means the checkpoint's source
                # offsets were lost (the final dropDuplicates would mask
                # it, so assert in-plan).
                early = batch_df.filter(F.col("wave") < 2).count()
                if early != 0:  # -O-safe
                    raise AssertionError(f"restart re-delivered {early} pre-kill vecs")
            feats = _featurize(batch_df).localCheckpoint()
            pair_frames = []
            if idx_appended[0]:
                idx = batch_df.sparkSession.table(idx_table).alias("x")
                n = feats.alias("n")
                pair_frames.append(
                    n.join(idx, F.col("n.bucket") == F.col("x.bucket")).select(
                        F.col("n.vec_id").alias("va"), F.col("n.wave").alias("wa"),
                        F.col("n.q").alias("qa"), F.col("n.n2").alias("n2a"),
                        F.col("x.vec_id").alias("vb"), F.col("x.wave").alias("wb"),
                        F.col("x.q").alias("qb"), F.col("x.n2").alias("n2b"),
                    )
                )
            a, b = feats.alias("a"), feats.alias("b")
            pair_frames.append(
                a.join(
                    b,
                    (F.col("a.bucket") == F.col("b.bucket"))
                    & _arrival_lt(
                        F.col("a.wave"), F.col("a.vec_id"),
                        F.col("b.wave"), F.col("b.vec_id"),
                    ),
                ).select(
                    F.col("a.vec_id").alias("va"), F.col("a.wave").alias("wa"),
                    F.col("a.q").alias("qa"), F.col("a.n2").alias("n2a"),
                    F.col("b.vec_id").alias("vb"), F.col("b.wave").alias("wb"),
                    F.col("b.q").alias("qb"), F.col("b.n2").alias("n2b"),
                )
            )
            cand = pair_frames[0]
            for extra in pair_frames[1:]:
                cand = cand.unionByName(extra)
            gated = _gate_and_label(cand)
            if idx_appended[0]:
                capture_plan(
                    "streaming_semantic_index"
                    + ("_restart" if restart else "")
                    + "_drain/cross_batch_probe",
                    gated,
                )
            found.append(gated.toPandas())
            write_bucketed(
                feats.select("vec_id", "wave", "bucket", "q", "n2"),
                idx_table,
                ["bucket"],
                n_buckets=8,
                sort=False,
                mode="append" if idx_appended[0] else "overwrite",
            )
            idx_appended[0] = True

        ctx.consume(on_notify, once=True, transform=None, max_files_per_trigger=16)
        if restart:
            # KILL the query instance (availableNow already terminated it;
            # stop() drops the handle so nothing survives but the
            # checkpoint + the index table), publish the held-back wave,
            # and RESUME from the same checkpoint: the restarted instance
            # must process only the new files and probe the bucket index
            # built by its predecessor.
            ctx.stop()
            n_before = len(found)
            phase[0] = 2
            ctx.publish(emb.filter(F.col("wave") == 2))
            ctx.consume(on_notify, once=True, transform=None, max_files_per_trigger=16)
            if len(found) <= n_before:  # -O-safe
                raise AssertionError("resumed query processed no batches")
        agency.close(remove_logs=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.sql(f"DROP TABLE IF EXISTS {idx_table}")

    import pandas as pd

    if not found:
        return local_frame(spark, [], _SEMPAIR_SCHEMA)
    allp = pd.concat(found, ignore_index=True)
    if allp.empty:
        return local_frame(spark, [], _SEMPAIR_SCHEMA)
    return (
        spark.createDataFrame(allp, _SEMPAIR_SCHEMA)
        .dropDuplicates(["earlier_vec", "later_vec"])
        .orderBy("earlier_vec", "later_vec")
    )


@register(
    "streaming_semantic_index_drain",
    _SEM_STREAM_ORACLE,
    tags=("streaming", "llm", "dedup", "ann"),
)
def streaming_semantic_index_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental semantic dedup over three arrival waves drained in one
    availableNow pass — see the section comment above."""
    return _run_semantic_index(spark, sf_dir, restart=False)


@register(
    "streaming_semantic_index_restart_drain",
    _SEM_STREAM_ORACLE,
    tags=("streaming", "llm", "dedup", "ann", "restart"),
)
def streaming_semantic_index_restart_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The restart path for the SEMANTIC index (VERDICT r6 #5), mirroring
    ``streaming_minhash_index_restart_drain``: drain waves 0-1, KILL the
    query, publish wave 2, resume a new query instance from the same
    checkpoint.  Graded invariant: the union of pairs across both
    instances equals the full batch recompute — and the resumed instance
    processes ONLY the post-kill delta (asserted in-plan), probing the
    hyperplane-bucket index its predecessor built.  Same oracle as the
    single-drain variant: restart is an execution detail, not a semantic
    one."""
    return _run_semantic_index(spark, sf_dir, restart=True)


# ---------------------------------------------------------------------------
# INCREMENTAL cluster-label maintenance: near-dup pairs arrive in waves
# (the streaming index's output shape) and the cluster labeling advances
# per wave by running connected components over the CONTRACTED graph —
# current labels as star edges (node → component, O(nodes)) plus ONLY
# the new wave's pairs.  Component contraction preserves connectivity,
# so after every wave the labels provably equal the batch CC over all
# pairs seen so far; the final state must hash-equal the full batch
# clustering (same oracle as dedup_near_dup_clusters).  At scale this is
# the maintenance story for the dedup cluster table: historical PAIRS
# (which dwarf nodes) are never reprocessed — each wave costs
# O(|Δpairs| + |nodes|) edges through the log-diameter CC rounds, and
# the near-converged input collapses those rounds to 1-2.
# ---------------------------------------------------------------------------


@register(
    "dedup_cluster_incremental_maintenance",
    None,  # set right below (reuses the batch CC oracle)
    tags=("streaming", "llm", "dedup", "iterative", "incremental"),
)
def dedup_cluster_incremental_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from event_streaming_spark.operators.components import connected_components
    from event_streaming_spark.plans.llm import (
        minhash_lsh_near_dup_pairs,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id")
    pairs = minhash_lsh_near_dup_pairs(spark, sf_dir).select("doc_a", "doc_b")
    labels = docs.select(
        F.col("doc_id").alias("node"), F.col("doc_id").alias("component")
    )
    # three deterministic arrival waves over the pair stream
    for w in range(3):
        wave = pairs.where((F.col("doc_a") + F.col("doc_b")) % 3 == w)
        star = labels.where(F.col("node") != F.col("component")).select(
            F.col("node").alias("doc_a"), F.col("component").alias("doc_b")
        )
        labels = connected_components(docs, star.unionByName(wave))
        # keep the label frame a small materialized table between waves
        # (connected_components materializes internally; the frame is
        # O(nodes) either way)
    return labels.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )


# reuse the batch clustering oracle: incremental maintenance is an
# execution strategy, not a semantic one
def _set_cluster_maint_oracle() -> None:
    import dataclasses

    from event_streaming_spark.plans.catalog import REGISTRY
    from event_streaming_spark.plans.curation import _CC_ORACLE

    q = REGISTRY["dedup_cluster_incremental_maintenance"]
    REGISTRY["dedup_cluster_incremental_maintenance"] = dataclasses.replace(
        q, oracle=_CC_ORACLE
    )


_set_cluster_maint_oracle()


# ===========================================================================
# Oracle-paired GATEWAY query — the HTTP ingest front door under the
# driver's value-hash gate, not just pytest.
#
# Reference parity: the gateway is the reference's ONE external entry
# point (libsoup server, reference/src/main.c:82-120; declared
# intent parse → JWT authn → publish).  ``gateway_ingest_roundtrip``
# exercises that whole deployment story as a batch-callable query:
#
#     events.parquet → HTTP POST (JWT bearer, batched JSON bodies)
#       → ApiGateway → topic log (parquet) → availableNow drain
#       → date-partitioned EventStore → daily rollup over the STORE
#
# The oracle is the same daily rollup in ANSI SQL over the raw parquet —
# so a value-hash match proves no event was lost, duplicated, retyped or
# time-shifted anywhere along the ingest chain (JSON serialization, HTTP
# framing, gateway parse, arrow-typed log append, streaming drain,
# store partitioning).
#
# Scale notes: the HTTP client role is inherently driver-side — in a real
# deployment a fleet of off-cluster producers plays it; here one loop
# POSTs the sf-dir events (10k rows at sf0.01, bounded by the gate's SF
# and documented as the ingest-client boundary, not a data-plane
# collect).  Everything after the gateway is the engine's normal scale
# path: the topic log is parquet (columnar, vectorized scan), the drain
# runs through Structured Streaming on executors, the store append is a
# partitioned distributed write, and the final rollup is a key-partitioned
# aggregate whose output is state-sized (days × event_types).
# ===========================================================================

_ROUNDTRIP_ORACLE = f"""
SELECT CAST(ts AS DATE) AS event_date,
       event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       {sql_exact_sum('value')} AS total_value
FROM events
GROUP BY CAST(ts AS DATE), event_type
ORDER BY event_date, event_type
"""

_GATEWAY_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("event_date", T.DateType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("n_users", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

#: Events per POST body.  4 MiB body cap / ~150 B per JSON event leaves
#: ample headroom; 1000 keeps the request count low (10 at sf0.01).
_POST_BATCH = 1000


def _post(url: str, payload, token: str | None) -> tuple[int, dict]:
    """POST a JSON body; ``payload`` is either a Python list (dumped here)
    or an already-encoded JSON string (the batch fast path)."""
    headers = {"Content-Type": "application/json"}
    if token is not None:
        headers["Authorization"] = f"Bearer {token}"
    body = payload if isinstance(payload, str) else json.dumps(payload)
    req = urllib.request.Request(
        url, data=body.encode(), headers=headers, method="POST"
    )
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read() or b"{}")
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read() or b"{}")


@register(
    "gateway_ingest_roundtrip",
    _ROUNDTRIP_ORACLE,
    tags=("gateway", "streaming", "store", "ingest"),
)
def gateway_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTTP POST → gateway → topic log → drain → store → rollup; the
    rollup must hash-equal the same aggregate over the raw parquet."""
    from event_streaming_spark.functions.auth import mint_hs256
    from event_streaming_spark.sources.store import EventStore
    from event_streaming_spark.streaming.agency import EventsAgency
    from event_streaming_spark.streaming.gateway import ApiGateway

    # The ingest-client role: serialize the events table to JSON rows.
    # Driver-side by design (the producer is off-cluster in deployment);
    # bounded by the gate's SF — 10k rows at sf0.01.
    ev = load(spark, sf_dir, "events")
    pdf = ev.select("event_id", "ts", "user_id", "event_type", "value", "props").toPandas()
    # Vectorized batch encoding (VERDICT r5 #9): one pandas to_json call
    # per POST body — NaN→null and ISO-8601 timestamps handled natively —
    # instead of a per-record dict comprehension + per-batch json.dumps.
    # µs date_unit: Spark timestamps are µs and the gateway's publish
    # parses ≤6 fractional digits; the events table is µs-aligned
    # (asserted below), so nothing truncates.
    n_rows = len(pdf)
    # NaT-safe alignment guard (a NULL ts converts to the int64 min
    # sentinel, which is NOT a precision violation — it rides through
    # to_json as null exactly like the old per-record path)
    ts_ns = pdf["ts"].dropna().astype("int64")
    if int((ts_ns % 1000 != 0).sum()) != 0:
        raise AssertionError("events.ts carries sub-µs precision; µs JSON would truncate")
    bodies = [
        pdf.iloc[i : i + _POST_BATCH].to_json(
            orient="records", date_format="iso", date_unit="us"
        )
        for i in range(0, n_rows, _POST_BATCH)
    ] or ["[]"]  # empty table: still exercise the 401 contract below

    root = tempfile.mkdtemp(prefix="est-gateway-")
    agency = EventsAgency(spark, root=root, log_format="parquet")
    gw = ApiGateway(agency, port=0, jwt_secret="driver-gate").start()
    try:
        host, port = gw.address
        url = f"http://{host}:{port}/topics/prod/events"

        # The authn boundary must actually gate: no token → 401, and the
        # rejected batch must NOT reach the log (the oracle would catch
        # a duplicate, but assert the status contract here too).
        code, _ = _post(url, bodies[0], token=None)
        if code != 401:
            raise AssertionError(f"gateway accepted unauthenticated POST: {code}")

        token = mint_hs256({"iss": "driver-gate", "sub": "ingester"}, "driver-gate")
        accepted = 0
        for i, body_json in enumerate(bodies):
            code, body = _post(url, body_json, token=token)
            if code != 202:
                raise AssertionError(f"gateway refused batch {i}: {code} {body}")
            accepted += body["accepted"]
        if accepted != n_rows:
            raise AssertionError(f"accepted {accepted} != posted {n_rows}")

        # Drain the topic log to the date-partitioned store (the
        # reference's consumer → BDB-store leg), then aggregate the STORE.
        store = EventStore(spark, f"{root}/store")
        ctx = agency.find_topic("prod", "events")

        def on_notify(c, batch_df: DataFrame, batch_id: int) -> None:
            store.append(batch_df)

        ctx.consume(on_notify, once=True)

        agg = (
            store.read()
            .groupBy("event_date", "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.countDistinct("user_id").alias("n_users"),
                exact_sum("value").alias("total_value"),
            )
            .orderBy("event_date", "event_type")
        )
        # The aggregate is state-sized (days × event_types, ~150 rows at
        # any SF); localize it before the tmpdir backing the store goes
        # away, then re-enter a DataFrame for the gate.
        out = agg.toPandas()
    finally:
        gw.stop()
        agency.close()
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(out, _GATEWAY_RESULT_SCHEMA)
