"""Streaming layer tests: agency pub/sub lifecycle, windowed aggregation,
keep-latest state, stream dedup — all driven synchronously via
availableNow/processAllAvailable on file-backed topics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from event_streaming_spark.streaming.agency import EventsAgency
from event_streaming_spark.streaming.state import (
    keep_latest_stream,
    stream_dedup_within_watermark,
)


def ev(event_id, ts, user_id, event_type="click", value=1.0, k=1):
    return {
        "event_id": event_id,
        "ts": ts,
        "user_id": user_id,
        "event_type": event_type,
        "value": value,
        "props": f'{{"k": {k}}}',
    }


@pytest.fixture()
def agency(spark, tmp_path):
    a = EventsAgency(spark, root=str(tmp_path / "agency"))
    yield a
    a.close()


def test_publish_consume_roundtrip(agency):
    """O1/O2/O3: publish JSON events, consume via callback per batch."""
    got = []

    def on_notify(ctx, batch_df, batch_id):
        got.extend(r.asDict() for r in batch_df.collect())

    ctx = agency.subscribe("brokerA", "t1", on_notify)  # empty topic: 0 events
    ctx.publish([ev(1, "2024-01-01T00:00:00", 7), ev(2, "2024-01-01T00:01:00", 8)])
    ctx.publish(ev(3, "2024-01-01T00:02:00", 7, "purchase", 9.5))
    ctx.consume(on_notify, once=True)
    assert sorted(r["event_id"] for r in got) == [1, 2, 3]
    assert {r["event_type"] for r in got} == {"click", "purchase"}


def test_subscribe_replace_latest_and_free(agency):
    """O4: re-subscribe replaces the callback (last-write-wins) and frees
    the old subscriber state via on_free_data (events-agency.c:207-219)."""
    freed, first, second = [], [], []
    ctx = agency.subscribe(
        "b", "t", lambda c, df, i: first.append(df.count()),
        notify_data={"gen": 1}, on_free_data=lambda d: freed.append(d),
    )
    ctx.publish(ev(1, "2024-01-01T00:00:00", 1))
    agency.subscribe("b", "t", lambda c, df, i: second.append(df.count()))
    assert freed == [{"gen": 1}]  # old state released
    assert agency.find_topic("b", "t") is ctx  # same context, new consumer
    ctx.publish(ev(2, "2024-01-01T00:01:00", 1))
    ctx.consume(lambda c, df, i: second.append(df.count()), once=True)
    assert sum(second) >= 1


def test_subscribe_replacement_reclaims_old_checkpoint(agency):
    """r6 review: each subscribe() replacement moved to a fresh
    checkpoint-genN dir but left the previous generation's checkpoint on
    disk — an unbounded leak for a long-lived topic under repeated
    replacement.  Contract now: the replaced generation's checkpoint is
    rmtree'd before the generation bump."""
    import os

    ctx = agency.subscribe("b", "ckpt-leak", lambda c, df, i: None)
    ctx.publish(ev(1, "2024-01-01T00:00:00", 1))
    gen0 = ctx.checkpoint_dir
    assert os.path.isdir(gen0)  # first consume committed offsets there
    agency.subscribe("b", "ckpt-leak", lambda c, df, i: None)
    gen1 = ctx.checkpoint_dir
    assert gen1 != gen0 and not os.path.exists(gen0)
    ctx.publish(ev(2, "2024-01-01T00:01:00", 1))
    agency.subscribe("b", "ckpt-leak", lambda c, df, i: None)
    assert not os.path.exists(gen1) and ctx.checkpoint_dir not in (gen0, gen1)


def test_unsubscribe_and_find(agency):
    """O5/O6: unsubscribe removes from registry; find returns None after."""
    agency.subscribe("b1", "t1", lambda c, d, i: None)
    assert agency.find_topic("b1", "t1") is not None
    assert agency.unsubscribe("b1", "t1") == 0
    assert agency.find_topic("b1", "t1") is None
    assert agency.unsubscribe("b1", "t1") == -1  # double-remove → error code


def test_topics_ordering_nulls_first(agency):
    """O30 comparator: (broker, topic) ascending, NULLs first — WITHOUT
    the reference's asymmetry bug (events-agency.c:133)."""
    for b, t in [("z", "t"), (None, "t"), ("a", None), ("a", "t")]:
        agency.topic(b, t)
    assert agency.topics() == [(None, "t"), ("a", None), ("a", "t"), ("z", "t")]


def test_streaming_windowed_aggregation(agency, spark):
    """Tumbling window + watermark over a topic stream (SURVEY §2.4)."""
    results = []

    def agg(df):
        return (
            df.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "10 minutes"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
            .select(
                F.col("window.start").alias("ws"), "event_type", "n", "total"
            )
        )

    ctx = agency.topic("b", "win")
    ctx.publish(
        [
            ev(1, "2024-01-01T00:01:00", 1, "click", 1.0),
            ev(2, "2024-01-01T00:05:00", 2, "click", 2.0),
            ev(3, "2024-01-01T00:11:00", 1, "purchase", 5.0),
        ]
    )
    ctx.consume(
        lambda c, df, i: results.extend(df.collect()),
        once=True,
        transform=agg,
        output_mode="update",
    )
    by_key = {(r["ws"].minute, r["event_type"]): (r["n"], r["total"]) for r in results}
    assert by_key[(0, "click")] == (2, 3.0)
    assert by_key[(10, "purchase")] == (1, 5.0)


def test_keep_latest_stream_state(agency, spark):
    """O27 keep-latest across micro-batches via applyInPandasWithState."""
    ctx = agency.topic("b", "latest")
    ctx.publish(
        [
            ev(1, "2024-01-01T00:00:00", 1, "click", 1.0),
            ev(2, "2024-01-01T00:02:00", 1, "view", 2.0),
            ev(3, "2024-01-01T00:01:00", 2, "click", 3.0),
        ]
    )
    out = []
    ctx.consume(
        lambda c, df, i: out.extend(df.collect()),
        once=True,
        transform=lambda df: keep_latest_stream(df, "user_id", "ts"),
    )
    latest = {r["user_id"]: r["event_id"] for r in out}
    assert latest == {1: 2, 2: 3}  # user 1: event 2 is latest by ts

    # second batch: older event for user 1 must NOT displace state;
    # newer event for user 2 must win.
    ctx.publish(
        [
            ev(9, "2023-12-31T00:00:00", 1, "stale", 0.0),
            ev(10, "2024-01-01T00:05:00", 2, "purchase", 4.0),
        ]
    )
    out2 = []
    ctx.consume(
        lambda c, df, i: out2.extend(df.collect()),
        once=True,
        transform=lambda df: keep_latest_stream(df, "user_id", "ts"),
    )
    latest2 = {r["user_id"]: r["event_id"] for r in out2}
    assert latest2[1] == 2  # unchanged — stale arrival ignored (GroupState won)
    assert latest2[2] == 10


def test_stream_dedup_within_watermark(agency, spark):
    """O23 discard policy under streaming: duplicate event_ids dropped."""
    ctx = agency.topic("b", "dedup")
    ctx.publish(
        [
            ev(1, "2024-01-01T00:00:00", 1),
            ev(1, "2024-01-01T00:00:30", 1),  # dup id within watermark
            ev(2, "2024-01-01T00:01:00", 2),
        ]
    )
    out = []
    ctx.consume(
        lambda c, df, i: out.extend(df.collect()),
        once=True,
        transform=lambda df: stream_dedup_within_watermark(df, ["event_id"]),
    )
    assert sorted(r["event_id"] for r in out) == [1, 2]


def test_streaming_session_window(agency, spark):
    """Native session_window (gap 30 min) on a topic stream — the streaming
    twin of the batch events_sessionize_30m catalog query."""
    ctx = agency.topic("b", "sess")
    ctx.publish(
        [
            ev(1, "2024-01-01T00:00:00", 1, "click", 1.0),
            ev(2, "2024-01-01T00:10:00", 1, "click", 2.0),   # same session (10m gap)
            ev(3, "2024-01-01T01:00:00", 1, "click", 4.0),   # new session (50m gap)
            ev(4, "2024-01-01T00:05:00", 2, "view", 8.0),
        ]
    )
    out = []

    def sessions(df):
        return (
            df.withWatermark("ts", "2 hours")
            .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
            .select("user_id", "n", "total")
        )

    ctx.consume(
        lambda c, df, i: out.extend(df.collect()),
        once=True,
        transform=sessions,
        output_mode="complete",
    )
    got = {(r["user_id"], r["n"]): r["total"] for r in out}
    assert got[(1, 2)] == 3.0   # events 1+2 merged into one session
    assert got[(1, 1)] == 4.0   # event 3 alone
    assert got[(2, 1)] == 8.0


def test_continuous_consume_and_stop(agency, spark):
    """once=False: a live micro-batch query keeps consuming until stopped
    (the long-running subscribe mode of the reference's consumer loop)."""
    import time

    got = []
    ctx = agency.topic("b", "live")
    ctx.publish(ev(1, "2024-01-01T00:00:00", 1))
    q = ctx.consume(lambda c, df, i: got.extend(df.collect()), once=False)
    try:
        deadline = time.monotonic() + 30
        while not got and time.monotonic() < deadline:
            time.sleep(0.5)
        assert [r["event_id"] for r in got] == [1]
        ctx.publish(ev(2, "2024-01-01T00:01:00", 1))  # arrives while live
        deadline = time.monotonic() + 30
        while len(got) < 2 and time.monotonic() < deadline:
            time.sleep(0.5)
        assert sorted(r["event_id"] for r in got) == [1, 2]
    finally:
        ctx.stop()
    assert q.isActive is False


def test_stop_during_a_batch_job_ends_the_query_cleanly(agency, spark):
    """Stopping a live consumer while its callback runs a Spark job ends
    the query as stopped.  Spark decides that with a regex that recurses
    once per character of the callback's error text; the raw
    Py4JJavaError text (the whole Java stack trace) overflowed the stream
    thread's stack, and the thread died before it recorded the stop."""
    import threading
    import time

    started = threading.Event()

    def on_notify(ctx, batch_df, batch_id):
        started.set()
        spark.range(0, 10**12, 1, 2).selectExpr("sum(id % 7)").collect()  # until cancelled

    ctx = agency.topic("b", "stopped")
    ctx.publish(ev(1, "2024-01-01T00:00:00", 1))
    q = ctx.consume(on_notify, once=False)
    try:
        assert started.wait(60)
        time.sleep(1)  # the callback's job is running
    finally:
        ctx.stop()
    assert q.exception() is None
    assert q.status["message"] == "Stopped"


def test_checkpoint_resume_delivers_only_new_events(agency, spark):
    """Offsets live in the per-topic checkpoint: a second consume sees only
    events published after the first drain (at-least-once, no replay)."""
    ctx = agency.topic("b", "resume")
    ctx.publish([ev(1, "2024-01-01T00:00:00", 1), ev(2, "2024-01-01T00:01:00", 1)])
    first, second = [], []
    ctx.consume(lambda c, df, i: first.extend(df.collect()), once=True)
    assert sorted(r["event_id"] for r in first) == [1, 2]

    ctx.publish(ev(3, "2024-01-01T00:02:00", 2))
    ctx.consume(lambda c, df, i: second.extend(df.collect()), once=True)
    assert [r["event_id"] for r in second] == [3]  # no replay of 1,2


def test_schema_on_read_tolerates_sparse_events(agency, spark):
    """Schema-on-read (reference D1: schemaless JSON events): missing
    fields surface as nulls, extra fields are ignored — consumers declare
    the schema, producers evolve freely."""
    ctx = agency.topic("b", "sparse")
    ctx.publish([
        {"event_id": 1, "ts": "2024-01-01T00:00:00", "user_id": 1,
         "event_type": "click", "value": 1.0, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01T00:01:00", "event_type": "view"},  # sparse
        {"event_id": 3, "ts": "2024-01-01T00:02:00", "user_id": 2,
         "event_type": "click", "value": 2.0, "props": "{}",
         "brand_new_field": "ignored"},  # evolved producer
    ])
    got = []
    ctx.consume(lambda c, df, i: got.extend(df.collect()), once=True)
    rows = {r["event_id"]: r for r in got}
    assert set(rows) == {1, 2, 3}
    assert rows[2]["user_id"] is None and rows[2]["value"] is None
    assert "brand_new_field" not in rows[3].asDict()


def test_memory_sink_table(agency, spark):
    """format('memory') sink: drained topic queryable as a SQL table."""
    ctx = agency.topic("b", "memsink")
    ctx.publish([ev(1, "2024-01-01T00:00:00", 1), ev(2, "2024-01-01T00:01:00", 2)])
    q = (
        ctx.stream()
        .writeStream.format("memory")
        .queryName("mem_events")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert spark.sql("SELECT count(*) n FROM mem_events").collect()[0]["n"] == 2


def test_concurrent_topics_isolated(agency, spark):
    """Two live topics under one agency: independent logs, checkpoints,
    and callbacks (the registry's whole point, events-agency.h:78-91)."""
    a_got, b_got = [], []
    ta = agency.topic("b1", "alpha")
    tb = agency.topic("b2", "beta")
    ta.publish(ev(1, "2024-01-01T00:00:00", 1))
    tb.publish([ev(10, "2024-01-01T00:00:00", 2), ev(11, "2024-01-01T00:01:00", 2)])
    ta.consume(lambda c, df, i: a_got.extend(df.collect()), once=True)
    tb.consume(lambda c, df, i: b_got.extend(df.collect()), once=True)
    assert [r["event_id"] for r in a_got] == [1]
    assert sorted(r["event_id"] for r in b_got) == [10, 11]
    assert agency.topics() == [("b1", "alpha"), ("b2", "beta")]


def test_discover_topics_after_restart(spark, tmp_path):
    """Durable logs survive the process; a new agency over the same root
    rebuilds the registry and resumes from the per-topic checkpoint."""
    root = str(tmp_path / "persistent-agency")
    a1 = EventsAgency(spark, root=root)
    a1.topic("b1", "t1").publish(ev(1, "2024-01-01T00:00:00", 1))
    a1.topic(None, "t2").publish(ev(2, "2024-01-01T00:00:00", 2))
    drained = []
    a1.find_topic("b1", "t1").consume(lambda c, df, i: drained.extend(df.collect()), once=True)
    assert len(drained) == 1
    a1.close()  # process "dies" — registry gone, logs + checkpoints remain

    a2 = EventsAgency(spark, root=root)
    assert a2.topics() == []
    found = a2.discover_topics()
    assert ("b1", "t1") in found and (None, "t2") in found
    # checkpoint carried over: t1 sees nothing old, only new publishes
    got = []
    ctx = a2.find_topic("b1", "t1")
    ctx.publish(ev(3, "2024-01-01T00:01:00", 1))
    ctx.consume(lambda c, df, i: got.extend(df.collect()), once=True)
    assert [r["event_id"] for r in got] == [3]
    a2.close()


def test_streaming_incremental_rollup_refresh(agency, spark, tmp_path):
    """Streaming → materialized rollup: each consumed micro-batch refreshes
    the partials store idempotently (partition overwrite keyed by batch);
    finalize over partials equals a direct aggregation of everything
    published — the streaming face of operators/rollup.py."""
    from pyspark.sql import functions as F
    from event_streaming_spark.operators.rollup import finalize, partial_rollup

    base = str(tmp_path / "rollup_partials")
    keys = ["event_date", "event_type"]

    def refresh(ctx, batch_df, batch_id):
        out = partial_rollup(
            batch_df.select(
                F.col("ts").cast("date").alias("event_date"), "event_type", "value"
            ),
            keys,
            "value",
        ).withColumn("batch_id", F.lit(batch_id))
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        out.write.mode("overwrite").partitionBy("batch_id").parquet(base)

    ctx = agency.subscribe("b", "rollup", refresh)
    ctx.publish([ev(i, f"2024-01-0{1 + i % 3}T00:0{i}:00", i, "view", 1.5 * i) for i in range(5)])
    ctx.consume(refresh, once=True)
    ctx.publish([ev(10 + i, f"2024-01-0{1 + i % 2}T01:0{i}:00", i, "purchase", 2.25 * i) for i in range(4)])
    ctx.consume(refresh, once=True)

    stored = spark.read.parquet(base).drop("batch_id")
    got = {tuple(r)[:2]: tuple(r)[2:] for r in finalize(stored, keys).collect()}

    raw = spark.read.schema(ctx.schema).json(ctx.log_dir).select(
        F.col("ts").cast("date").alias("event_date"), "event_type", "value"
    )
    direct = {tuple(r)[:2]: tuple(r)[2:] for r in finalize(partial_rollup(raw, keys, "value"), keys).collect()}
    assert got == direct


def test_streaming_ingest_dedup_against_signature_store(agency, spark, tmp_path):
    """The streaming face of dedup_incremental_vs_index: each micro-batch
    is minhash-signed and band-joined against a persisted signature
    store; clean docs append their signatures so later batches dedupe
    against everything seen so far.  This is the production ingest loop —
    per-batch work scales with the batch, never the corpus."""
    import os

    from event_streaming_spark.operators import similarity as S

    store = str(tmp_path / "sigstore")
    flagged = []

    def bands_of(docs_df):
        hs = docs_df.select("doc_id", S.shingle_hashes(F.col("text")).alias("hs"))
        sig = hs.select("doc_id", F.array(*S.minhash_cols(F.col("hs"))).alias("sig"))
        return sig.select(
            "doc_id", "sig",
            F.posexplode(F.array(*S.band_hashes_over(F.col("sig")))).alias("band_idx", "bh"),
        )

    def on_notify(ctx, batch_df, batch_id):
        docs = batch_df.select(
            F.col("event_id").alias("doc_id"),
            F.get_json_object("props", "$.text").alias("text"),
        )
        bands = bands_of(docs)
        if os.path.exists(store):
            idx = spark.read.parquet(store)
            cand = (
                bands.alias("n")
                .join(idx.alias("x"), (F.col("n.band_idx") == F.col("x.band_idx")) & (F.col("n.bh") == F.col("x.bh")))
                .select(
                    F.col("n.doc_id").alias("new_doc"),
                    F.col("x.doc_id").alias("index_doc"),
                    S.minhash_est_jaccard_arrays(F.col("n.sig"), F.col("x.sig")).alias("est"),
                )
                .filter(F.col("est") >= 0.3)
                .dropDuplicates(["new_doc", "index_doc"])
            )
            dups = {r["new_doc"] for r in cand.collect()}
            flagged.extend(sorted(dups))
        else:
            dups = set()
        clean = bands.filter(~F.col("doc_id").isin(list(dups)) if dups else F.lit(True))
        clean.write.mode("append").parquet(store)

    base = (
        "the quick brown fox jumps over the lazy dog and runs far away tonight "
        "while the silver moon rises slowly above the quiet sleeping village and "
        "every small light goes out one by one across the whole valley floor"
    )
    ctx = agency.topic("b", "ingest")
    ctx.publish([
        ev(1, "2024-01-01T00:00:00", 1, k=1) | {"props": f'{{"text": "{base}"}}'},
        ev(2, "2024-01-01T00:00:01", 1, k=1) | {"props": '{"text": "completely different words about spark shuffles and partitions here now"}'},
    ])
    ctx.consume(on_notify, once=True)
    ctx.publish([
        ev(3, "2024-01-01T00:01:00", 2, k=1) | {"props": f'{{"text": "{base.replace("dog", "cat")}"}}'},
        ev(4, "2024-01-01T00:01:01", 2, k=1) | {"props": '{"text": "yet another unrelated document with totally fresh vocabulary in it"}'},
    ])
    ctx.consume(on_notify, once=True)

    assert flagged == [3]  # near-copy of doc 1 caught; fresh docs pass
    kept = {r["doc_id"] for r in spark.read.parquet(store).select("doc_id").distinct().collect()}
    assert kept == {1, 2, 4}


def test_token_bucket_stream_matches_batch(agency, spark):
    """Rate limiting: the streaming GroupState recurrence must converge to
    the batch twin when events arrive in event-time order per key, and
    state must carry across micro-batches (a drained bucket stays
    drained)."""
    from event_streaming_spark.operators.ratelimit import (
        token_bucket_batch,
        token_bucket_stream,
    )

    # bursts that drain the 3-token bucket + a gap long enough to refill 1
    batch1 = [
        ev(1, "2024-01-01T00:00:00", 1), ev(2, "2024-01-01T00:00:01", 1),
        ev(3, "2024-01-01T00:00:02", 1), ev(4, "2024-01-01T00:00:03", 1),
        ev(5, "2024-01-01T00:00:00", 2),
    ]
    batch2 = [
        ev(6, "2024-01-01T00:30:00", 1),   # still drained (refill 2h/token)
        ev(7, "2024-01-01T02:00:10", 1),   # ~2h after last -> 1 token back
        ev(8, "2024-01-01T02:00:11", 1),   # consumed again -> reject
        ev(9, "2024-01-01T00:00:01", 2),
    ]
    ctx = agency.topic("b", "ratelimit")
    got = {}

    def drain():
        ctx.consume(
            lambda c, df, i: got.update({r["event_id"]: r["admitted"] for r in df.collect()}),
            once=True,
            transform=lambda df: token_bucket_stream(
                df, rate_seconds_per_token=7200, capacity_tokens=3
            ),
        )

    ctx.publish(batch1)
    drain()
    ctx.publish(batch2)
    drain()

    rows = spark.createDataFrame(batch1 + batch2).withColumn("ts", F.to_timestamp("ts"))
    want = {
        r["event_id"]: r["admitted"]
        for r in token_bucket_batch(
            rows, rate_seconds_per_token=7200, capacity_tokens=3
        ).collect()
    }
    assert got == want
    # and the semantics are what the docstring promises
    assert [want[i] for i in (1, 2, 3, 4)] == [True, True, True, False]
    assert want[6] is False and want[7] is True and want[8] is False


# -- parquet topic log (throughput format) ----------------------------------


def test_parquet_log_roundtrip_dicts_and_dataframe(spark, tmp_path):
    """log_format="parquet": dict publishes (driver-side Arrow append,
    ISO-string timestamps coerced) and DataFrame publishes land in ONE
    typed log; the consume side reads them back identically to the JSON
    path — same events, typed ts/value."""
    a = EventsAgency(spark, root=str(tmp_path / "pq"), log_format="parquet")
    try:
        ctx = a.topic("b", "t")
        ctx.publish([ev(1, "2024-01-01T00:00:00", 7), ev(2, "2024-01-01T00:01:00", 8)])
        ctx.publish(ev(3, "2024-01-01T00:02:00", 7, "purchase", 9.5))
        df = spark.createDataFrame(
            [(4, "2024-01-01T00:03:00", 9, "view", 2.5, "{}")],
            "event_id long, ts string, user_id long, event_type string, value double, props string",
        ).withColumn("ts", F.to_timestamp("ts"))
        ctx.publish(df)
        got = []
        ctx.consume(lambda c, b, i: got.extend(r.asDict() for r in b.collect()), once=True)
        assert sorted(r["event_id"] for r in got) == [1, 2, 3, 4]
        by_id = {r["event_id"]: r for r in got}
        assert by_id[3]["value"] == 9.5 and by_id[3]["event_type"] == "purchase"
        assert by_id[1]["ts"].isoformat().startswith("2024-01-01T00:00:00")
        assert by_id[4]["ts"].isoformat().startswith("2024-01-01T00:03:00")
        # the log really is parquet, not json
        import glob
        import os

        files = [
            f
            for f in glob.glob(os.path.join(ctx.log_dir, "*"))
            if not os.path.basename(f).startswith("_")  # Spark's _SUCCESS marker
        ]
        assert files and all(f.endswith(".parquet") for f in files)
    finally:
        a.close(remove_logs=True)


def test_parquet_log_windowed_agg_matches_json_log(spark, tmp_path):
    """The same publish stream through a json-log topic and a parquet-log
    topic produces identical windowed-aggregation output."""
    rows = [ev(i, f"2024-01-0{1 + i % 3}T00:0{i % 6}:00", i % 4, "view", 0.5 * i) for i in range(12)]

    def drain(fmt, root):
        a = EventsAgency(spark, root=root, log_format=fmt)
        try:
            ctx = a.topic("b", "t")
            ctx.publish(rows)
            out = []

            def tr(df):
                return (
                    df.withWatermark("ts", "1 hour")
                    .groupBy(F.window("ts", "1 day"), "event_type")
                    .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
                )

            ctx.consume(
                lambda c, b, i: out.extend(
                    (r["window"]["start"].isoformat(), r["event_type"], r["n"], r["v"])
                    for r in b.collect()
                ),
                once=True,
                transform=tr,
                output_mode="update",
            )
            return sorted(out)
        finally:
            a.close(remove_logs=True)

    assert drain("json", str(tmp_path / "j")) == drain("parquet", str(tmp_path / "p"))


def test_unknown_log_format_rejected(spark, tmp_path):
    with pytest.raises(ValueError, match="log_format"):
        EventsAgency(spark, root=str(tmp_path / "x"), log_format="csv")


def test_tuned_clone_cached_per_partition_count(spark, tmp_path):
    """r5 ADVICE: consume(state_partitions=N) must reuse one session
    clone per N, not mint a fresh newSession() per call (which
    accumulated session state in the shared SparkContext)."""
    a = EventsAgency(spark, root=str(tmp_path / "agency"))
    s8 = a.tuned_clone(8)
    assert a.tuned_clone(8) is s8
    assert s8.conf.get("spark.sql.shuffle.partitions") == "8"
    s4 = a.tuned_clone(4)
    assert s4 is not s8
    assert len(a._session_clones) == 2
    # the clone shares the context but not the shared session's conf
    assert s8.sparkContext is spark.sparkContext


# ---------------------------------------------------------------------------
# custom stateful sessionizer (streaming/state.py::sessionize_stream)
# ---------------------------------------------------------------------------


def _drain_sessions(spark, tmp_path, waves, gap_minutes=30):
    """Publish each wave, drain through sessionize_stream; return the
    emitted session rows (sentinel user filtered by caller)."""
    import pandas as pd

    from event_streaming_spark.streaming.state import sessionize_stream

    agency = EventsAgency(spark, root=str(tmp_path / "topic"), log_format="parquet")
    ctx = agency.topic("t", "sess")
    got = []
    for wave in waves:
        ctx.publish(wave)
        ctx.consume(
            lambda c, df, bid: got.append(df.toPandas()),
            once=True,
            transform=lambda df: sessionize_stream(
                df.withWatermark("ts", "1 hour"), gap_minutes=gap_minutes
            ),
            output_mode="append",
            state_partitions=2,
        )
    agency.close(remove_logs=True)
    out = pd.concat([p for p in got if not p.empty], ignore_index=True)
    return out[out["user_id"] >= 0].sort_values(
        ["user_id", "session_start_ms"]
    ).reset_index(drop=True)


def _sentinel(ts):
    return ev(-1, ts, -1, "__flush__", 0.0)


def test_custom_sessionizer_exact_gap_starts_new_session(spark, tmp_path):
    """ts - prev == exactly the gap must START a new session (strict <
    extends — the same semantics as the built-in session_window and the
    batch islands oracle)."""
    rows = [
        ev(1, "2024-01-01T00:00:00", 7, value=1.0),
        ev(2, "2024-01-01T00:30:00", 7, value=2.0),   # exactly 30 min later
        ev(3, "2024-01-01T00:45:00", 7, value=3.0),   # 15 min after that
    ]
    out = _drain_sessions(spark, tmp_path, [rows, [_sentinel("2024-01-02T00:00:00")]])
    assert len(out) == 2
    assert list(out["n_events"]) == [1, 2]
    assert list(out["sv"]) == [1_000_000, 5_000_000]


def test_custom_sessionizer_state_crosses_batch_boundary(spark, tmp_path):
    """An OPEN session must extend across two separate drains through
    GroupState (events 10 minutes apart split across waves)."""
    w1 = [ev(1, "2024-01-01T00:00:00", 3, value=1.0)]
    w2 = [ev(2, "2024-01-01T00:10:00", 3, value=2.0)]
    out = _drain_sessions(
        spark, tmp_path, [w1, w2, [_sentinel("2024-01-02T00:00:00")]]
    )
    assert len(out) == 1
    assert out.loc[0, "n_events"] == 2
    assert out.loc[0, "duration_s"] == 600.0


def test_custom_sessionizer_timeout_flushes_without_new_events(spark, tmp_path):
    """The event-time timeout alone (watermark advancing past
    last_ts + gap via an unrelated key) must flush an idle user's open
    session — no further events for that user required."""
    w1 = [ev(1, "2024-01-01T00:00:00", 5, value=4.0)]
    # second wave touches ONLY the sentinel user; user 5's session must
    # still emit, via GroupStateTimeout.EventTimeTimeout
    out = _drain_sessions(
        spark, tmp_path, [w1, [_sentinel("2024-01-02T00:00:00")]]
    )
    assert len(out) == 1
    assert (out.loc[0, "user_id"], out.loc[0, "n_events"]) == (5, 1)


# -- bounded-state streaming heavy hitters (Misra-Gries GroupState) ----------


def test_mg_merge_overflow_decrements_and_bounds():
    """The fixture vocabulary (31 tokens) never overflows the production
    capacity, so the decrement path is pinned here directly: overflow
    subtracts the (capacity+1)-th largest from all, keeps ≤ capacity
    survivors, and the returned decrement is exactly the undercount any
    dropped term incurred (the completeness bound the drain asserts)."""
    from event_streaming_spark.streaming.state import mg_merge

    terms, counts, dec = mg_merge([], [], {"a": 10, "b": 7, "c": 3, "d": 1}, 2)
    # kth largest (cap+1 = 3rd) = 3 → a:7, b:4 survive; c,d dropped
    assert (terms, counts, dec) == (["a", "b"], [7, 4], 3)
    # merging more mass accumulates; state order is deterministic (sorted)
    terms, counts, dec2 = mg_merge(terms, counts, {"d": 6, "a": 1}, 2)
    # combined a:8, b:4, d:6 → kth = 4 → a:4, d:2
    assert (terms, counts, dec2) == (["a", "d"], [4, 2], 4)
    # undercount bound: true(d) = 7, stored 2, undercount 5 ≤ dec+dec2 = 7
    assert 7 - 2 <= dec + dec2


def test_mg_merge_no_overflow_is_exact():
    from event_streaming_spark.streaming.state import mg_merge

    terms, counts, dec = mg_merge(["x"], [5], {"y": 2, "x": 1}, 8)
    assert (terms, counts, dec) == (["x", "y"], [6, 2], 0)


def test_mg_merge_tie_at_threshold_keeps_within_capacity():
    from event_streaming_spark.streaming.state import mg_merge

    # all values tie: the (cap+1)-th largest equals them all → all drop
    terms, counts, dec = mg_merge([], [], {"a": 5, "b": 5, "c": 5}, 2)
    assert terms == [] and counts == [] and dec == 5


@pytest.mark.parametrize("log_format", ["json", "parquet"])
def test_publish_temp_file_is_hidden_from_the_stream(spark, tmp_path, monkeypatch, log_format):
    """A dict publish writes its file under a temp name and renames it.
    Spark's file source lists every name not starting with ``_`` or
    ``.``, so the temp name must be dot-prefixed, and in the log dir
    itself so the rename stays atomic; otherwise a micro-batch can read
    a half-written file."""
    import os

    renames = []
    real_rename = os.rename

    def spy(src, dst):
        renames.append((src, dst))
        real_rename(src, dst)

    a = EventsAgency(spark, root=str(tmp_path / "agency"), log_format=log_format)
    try:
        ctx = a.topic("b", "hidden")
        monkeypatch.setattr(os, "rename", spy)
        ctx.publish(ev(1, "2024-01-01T00:00:00", 1))
        monkeypatch.undo()
        [(src, dst)] = renames
        assert os.path.basename(src).startswith(".")
        assert os.path.dirname(src) == os.path.dirname(dst) == ctx.log_dir
        assert os.listdir(ctx.log_dir) == [os.path.basename(dst)]
        got = []
        ctx.consume(lambda c, df, i: got.extend(df.collect()), once=True)
        assert [r["event_id"] for r in got] == [1]
    finally:
        a.close()
