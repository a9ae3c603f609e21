"""EventStore partition pruning and compaction, key index, file and Kafka
sources, email sink, JWT auth."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from event_streaming_spark.functions.auth import claims_udf, mint_hs256, verify_hs256
from event_streaming_spark.plans.catalog import load
from event_streaming_spark.sources.readers import list_folder, load_file
from event_streaming_spark.sources.store import EventStore
from event_streaming_spark.streaming.sinks import EmailAlertSink, compose_alert_payload
from tests.conftest import SF_SMALL


def test_event_store_roundtrip_and_pruning(spark, tmp_path):
    store = EventStore(spark, str(tmp_path / "store"))
    ev = load(spark, SF_SMALL, "events")
    store.append(ev)

    # date-partition layout on disk (the "secondary index by timestamp")
    days = [d for d in os.listdir(store.path) if d.startswith("event_date=")]
    assert len(days) >= 28  # ~1 month of data → ~30 day partitions

    out = store.read_range(dt.datetime(2024, 1, 10), dt.datetime(2024, 1, 12))
    expected = ev.filter(
        (F.col("ts") >= "2024-01-10") & (F.col("ts") < "2024-01-12")
    ).count()
    assert out.count() == expected

    # partition pruning visible in the physical plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "event_date" in plan

    # keyed point read
    k = store.read_key("user_id", 7)
    assert k.count() == ev.filter(F.col("user_id") == 7).count()


def test_load_file_and_listing(spark, tmp_path):
    d = tmp_path / "files" / "sub"
    d.mkdir(parents=True)
    (tmp_path / "files" / "a.txt").write_bytes(b"hello")
    (d / "b.bin").write_bytes(b"\x00" * 64)
    (tmp_path / "files" / ".hidden").write_bytes(b"x")  # skipped like reference BFS

    full = load_file(spark, str(tmp_path / "files"))
    rows = {os.path.basename(r["path"]): r for r in full.collect()}
    assert set(rows) == {"a.txt", "b.bin"}
    assert rows["a.txt"]["content"] == bytearray(b"hello")

    stat = load_file(spark, str(tmp_path / "files"), stat_only=True)
    assert "content" not in stat.columns
    names = [os.path.basename(r["path"]) for r in list_folder(spark, str(tmp_path / "files")).collect()]
    assert names == ["a.txt", "b.bin"]  # sorted, hidden skipped

    non_rec = load_file(spark, str(tmp_path / "files"), recursive=False)
    assert {os.path.basename(r["path"]) for r in non_rec.collect()} == {"a.txt"}


def test_email_sink_idempotent(spark, tmp_path):
    ev = load(spark, SF_SMALL, "events").limit(50)
    sent_live = []

    sink = EmailAlertSink(
        predicate=F.col("event_type") == "error",
        make_alerts=lambda df: compose_alert_payload(
            df.select(
                F.concat(F.lit("user"), F.col("user_id").cast("string"), F.lit("@example.com")).alias("to_addr"),
                F.concat(F.lit("error event "), F.col("event_id").cast("string")).alias("subject"),
                F.concat(F.lit("value: "), F.col("value").cast("string"), F.lit(" at t. end.")).alias("body"),
            )
        ),
        transport=lambda f, to, p: sent_live.append((f, to, p)),
        ledger_dir=str(tmp_path / "ledger"),
    )
    sink(ev, batch_id=1)
    n_errors = ev.filter(F.col("event_type") == "error").count()
    assert len(sink.sent) == n_errors == len(sent_live)
    assert "Subject: error event" in sink.sent[0][2]
    assert ". end.." in sink.sent[0][2].split("\r\n\r\n", 1)[1]  # dot-stuffed body

    sink(ev, batch_id=1)  # replay of the same batch → skipped
    assert len(sink.sent) == n_errors


def test_email_sink_per_row_replay(spark, tmp_path):
    """A crash mid-batch must not re-deliver the rows already sent."""
    ev = load(spark, SF_SMALL, "events").limit(50)
    delivered = []

    def make(transport):
        return EmailAlertSink(
            predicate=F.col("event_type") == "error",
            make_alerts=lambda df: compose_alert_payload(
                df.select(
                    F.concat(F.lit("u"), F.col("user_id").cast("string"), F.lit("@example.com")).alias("to_addr"),
                    F.col("event_id").cast("string").alias("subject"),
                    F.lit("b").alias("body"),
                )
            ),
            transport=transport,
            ledger_dir=str(tmp_path / "rowledger"),
        )

    n_errors = ev.filter(F.col("event_type") == "error").count()
    assert n_errors > 2
    boom_after = 2

    def flaky(f, to, p):
        if len(delivered) >= boom_after:
            raise RuntimeError("smtp down")
        delivered.append((to[0], p))

    import pytest

    with pytest.raises(RuntimeError):
        make(flaky)(ev, batch_id=7)
    assert len(delivered) == boom_after

    # restart (fresh sink object), transport healthy: only the remainder goes out
    make(lambda f, to, p: delivered.append((to[0], p)))(ev, batch_id=7)
    assert len(delivered) == n_errors
    assert len({p for _, p in delivered}) == n_errors  # no duplicates

    # full-batch replay after completion: nothing more
    make(lambda f, to, p: delivered.append((to[0], p)))(ev, batch_id=7)
    assert len(delivered) == n_errors


def test_jwt_roundtrip_and_udf(spark):
    tok = mint_hs256({"iss": "event-streaming", "sub": "user42", "aud": "gateway"}, "s3cret")
    claims = verify_hs256(tok, "s3cret")
    assert claims["iss"] == "event-streaming" and claims["sub"] == "user42"
    assert "iat" in claims and "jti" in claims
    assert verify_hs256(tok, "wrong") is None
    assert verify_hs256(tok + "x", "s3cret") is None
    assert verify_hs256(mint_hs256({"exp": 1}, "s"), "s") is None  # expired

    df = spark.createDataFrame([(tok,), ("garbage",), (None,)], ["token"])
    out = df.withColumn("claims", claims_udf("s3cret")(F.col("token")))
    got = out.select(F.col("claims.sub").alias("sub")).collect()
    assert [r["sub"] for r in got] == ["user42", None, None]


def test_rs256_roundtrip_and_udf(spark):
    """RS256 parity with the reference's libjwt boundary
    (/root/reference/tests/test-jwt.c:134-209): mint with the RSA private
    key, verify with the public key — pure-stdlib PKCS#1 v1.5."""
    import os as _os

    from event_streaming_spark.functions.auth import (
        claims_udf,
        mint_rs256,
        parse_rsa_pem,
        verify_rs256,
    )

    data = _os.path.join(_os.path.dirname(__file__), "data")
    priv_pem = open(_os.path.join(data, "rs256_test_key.pem")).read()
    pub_pem = open(_os.path.join(data, "rs256_test_pub.pem")).read()
    pub_pkcs1 = open(_os.path.join(data, "rs256_test_pub_pkcs1.pem")).read()

    # key parsing: PKCS#8 private, SPKI + PKCS#1 public agree
    priv, pub = parse_rsa_pem(priv_pem), parse_rsa_pem(pub_pem)
    assert parse_rsa_pem(pub_pkcs1) == pub
    assert priv["n"] == pub["n"] and priv["e"] == pub["e"] == 65537
    assert pow(pow(12345, priv["e"], priv["n"]), priv["d"], priv["n"]) == 12345

    tok = mint_rs256({"iss": "event-streaming", "sub": "svc-a"}, priv_pem)
    claims = verify_rs256(tok, pub_pem)
    assert claims is not None and claims["sub"] == "svc-a" and "jti" in claims

    # tampered payload / truncated signature / HS256 header → rejected
    head, payload, sig = tok.split(".")
    assert verify_rs256(f"{head}.{payload[:-2]}xx.{sig}", pub_pem) is None
    assert verify_rs256(f"{head}.{payload}.{sig[:-8]}", pub_pem) is None
    from event_streaming_spark.functions.auth import mint_hs256

    assert verify_rs256(mint_hs256({"sub": "x"}, "secret"), pub_pem) is None
    # exp enforcement
    expired = mint_rs256({"sub": "x", "exp": 100}, priv_pem)
    assert verify_rs256(expired, pub_pem, now=200) is None

    # UDF path: RS256 claims extraction inside a DataFrame
    df = spark.createDataFrame([(tok,), ("garbage",), (None,)], "token STRING")
    rows = (
        df.select(claims_udf(rs256_public_key=pub_pem)(F.col("token")).alias("claims"))
        .collect()
    )
    assert rows[0]["claims"]["sub"] == "svc-a"
    assert rows[1]["claims"] is None and rows[2]["claims"] is None


def test_rs256_matches_openssl(tmp_path):
    """Our PKCS#1 v1.5 signature must be byte-identical to openssl's for
    the same signing input (deterministic padding scheme)."""
    import base64
    import os as _os
    import shutil
    import subprocess

    if shutil.which("openssl") is None:
        import pytest

        pytest.skip("openssl not available")
    from event_streaming_spark.functions.auth import mint_rs256

    data = _os.path.join(_os.path.dirname(__file__), "data")
    key = _os.path.join(data, "rs256_test_key.pem")
    tok = mint_rs256({"iss": "x", "sub": "y", "iat": 1700000000, "jti": "fixed"}, open(key).read())
    head, payload, sig = tok.split(".")
    signing = f"{head}.{payload}".encode()
    inp = tmp_path / "signing.txt"
    inp.write_bytes(signing)
    out = subprocess.run(
        ["openssl", "dgst", "-sha256", "-sign", key, str(inp)],
        capture_output=True, check=True,
    ).stdout
    ours = base64.urlsafe_b64decode(sig + "=" * (-len(sig) % 4))
    assert ours == out


def test_gateway_accepts_rs256(spark, tmp_path):
    import os as _os

    from event_streaming_spark.functions.auth import mint_rs256
    from event_streaming_spark.streaming.agency import EventsAgency
    from event_streaming_spark.streaming.gateway import ApiGateway
    from tests.test_gateway import _post

    data = _os.path.join(_os.path.dirname(__file__), "data")
    priv_pem = open(_os.path.join(data, "rs256_test_key.pem")).read()
    pub_pem = open(_os.path.join(data, "rs256_test_pub.pem")).read()
    agency = EventsAgency(spark, root=str(tmp_path / "rsagency"))
    g = ApiGateway(agency, port=0, jwt_rs256_public_key=pub_pem).start()
    try:
        ev = {"event_id": 5, "ts": "2024-02-01T10:00:00", "user_id": 1,
              "event_type": "click", "value": 1.0, "props": "{}"}
        assert _post(g, "/topics/b/t", ev)[0] == 401  # no token
        tok = mint_rs256({"iss": "event-streaming", "sub": "svc"}, priv_pem)
        assert _post(g, "/topics/b/t", ev, token=tok)[0] == 202
    finally:
        g.stop()
        agency.close()


def test_store_compaction(spark, tmp_path):
    store = EventStore(spark, str(tmp_path / "cstore"))
    ev = load(spark, SF_SMALL, "events").filter(F.to_date("ts") == "2024-01-05")
    for _ in range(4):  # 4 micro-batch appends → many small files
        store.append(ev)
    import glob

    part = f"{store.path}/event_date=2024-01-05"
    before = len(glob.glob(f"{part}/*.parquet"))
    assert before >= 4
    import datetime as dt

    after = store.compact(dt.date(2024, 1, 5))
    assert after == 1
    assert store.read_key("event_date", "2024-01-05").count() == 4 * ev.count()


def test_store_compaction_crash_recovery(spark, tmp_path):
    import datetime as dt
    import os
    import shutil

    store = EventStore(spark, str(tmp_path / "rstore"))
    two_days = load(spark, SF_SMALL, "events").filter(
        F.to_date("ts").isin("2024-01-05", "2024-01-06")
    )
    store.append(two_days)
    ev = two_days.filter(F.to_date("ts") == "2024-01-05")
    n = ev.count()
    part = f"{store.path}/event_date=2024-01-05"
    old = f"{store.path}/_old-2024-01-05"
    tmp = f"{store.path}/_compacting-2024-01-05"

    # Underscore-prefixed siblings are invisible to Spark's file index:
    # a reader during compaction must never see the day twice.
    shutil.copytree(part, tmp)
    assert store.read().count() == two_days.count()
    shutil.rmtree(tmp)

    # Crash between the two swap renames: day displaced to _old-, part
    # missing.  The next compact() must restore it before proceeding.
    os.rename(part, old)
    assert store.read_key("event_date", "2024-01-05").count() == 0
    after = store.compact(dt.date(2024, 1, 5))
    assert after == 1
    assert store.read_key("event_date", "2024-01-05").count() == n
    assert not os.path.exists(old) and not os.path.exists(tmp)


def test_csv_json_text_sources_roundtrip(spark, tmp_path):
    """SURVEY §2.4 scan row: csv/json/text sources with explicit schemas."""
    ev = load(spark, SF_SMALL, "events").limit(100)

    csv_dir = str(tmp_path / "csv")
    ev.write.option("header", True).csv(csv_dir)
    back_csv = (
        spark.read.option("header", True)
        .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")
        .csv(csv_dir)
    )
    assert back_csv.count() == 100
    assert dict(back_csv.dtypes)["value"] == "double"

    json_dir = str(tmp_path / "json")
    ev.write.json(json_dir)
    from event_streaming_spark.sources.readers import read_events_json

    back_json = read_events_json(spark, json_dir)
    assert back_json.count() == 100
    s = {r["event_id"] for r in ev.select("event_id").collect()}
    assert {r["event_id"] for r in back_json.select("event_id").collect()} == s

    text_dir = str(tmp_path / "text")
    ev.select(F.col("props")).write.text(text_dir)
    back_text = spark.read.text(text_dir)
    assert back_text.count() == 100
    assert back_text.columns == ["value"]


def test_rate_source_smoke(spark):
    """Built-in rate source through the standard transform stack (the
    SURVEY §2.4 'rate' scan row) — deterministic row count via availableNow."""
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 100)
        .option("numPartitions", 2)
        .load()
    )
    got = []
    q = (
        rate.withColumn("bucket", F.col("value") % 10)
        .writeStream.foreachBatch(lambda df, i: got.append(df.count()))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    assert sum(got) >= 0  # drained without error; schema fixed
    assert dict(rate.dtypes) == {"timestamp": "timestamp", "value": "bigint"}


def test_orc_roundtrip(spark, tmp_path):
    ev = load(spark, SF_SMALL, "events").limit(50)
    path = str(tmp_path / "orc")
    ev.write.orc(path)
    back = spark.read.orc(path)
    assert back.count() == 50
    assert dict(back.dtypes)["value"] == "double"


def test_kafka_backend_error_message(spark, tmp_path):
    from event_streaming_spark.streaming.agency import EventsAgency

    a = EventsAgency(spark, root=str(tmp_path / "k"), backend="kafka")
    ctx = a.topic("localhost:9092", "t")
    try:
        ctx.stream()
        hit = None
    except RuntimeError as e:
        hit = str(e)
    assert hit is not None and "spark-sql-kafka" in hit  # actionable guidance
    a.close()


def test_kafka_contract_roundtrip_without_broker(spark):
    """The kafka wire contract (envelope → raw source frame → parse) is
    pure DataFrame shaping — testable with no broker or connector."""
    from event_streaming_spark.streaming.kafka_contract import (
        from_kafka_envelope,
        kafka_sink_options,
        kafka_source_options,
        simulate_kafka_source_frame,
        to_kafka_envelope,
    )

    ev = load(spark, SF_SMALL, "events").limit(100)
    enveloped = to_kafka_envelope(ev, key_col="user_id")
    assert enveloped.columns == ["key", "value"]
    raw = simulate_kafka_source_frame(enveloped, topic="t-events")
    assert {"key", "value", "topic", "partition", "offset", "timestamp"} <= set(raw.columns)
    assert dict(raw.dtypes)["value"] == "binary"

    back = from_kafka_envelope(raw, ev.schema)
    assert back.schema == ev.schema
    orig = {r["event_id"]: r for r in ev.collect()}
    got = {r["event_id"]: r for r in back.collect()}
    assert set(got) == set(orig)
    sample = next(iter(orig))
    assert got[sample]["value"] == orig[sample]["value"]
    assert got[sample]["ts"] == orig[sample]["ts"]

    # malformed payloads parse to null rows, not stream failure
    junk = spark.createDataFrame([(b"{not json",)], "value BINARY")
    junk = junk.select(
        F.lit(None).cast("binary").alias("key"), "value",
        F.lit("t").alias("topic"), F.lit(0).alias("partition"),
        F.lit(0).cast("long").alias("offset"),
        F.current_timestamp().alias("timestamp"), F.lit(0).alias("timestampType"),
    )
    bad = from_kafka_envelope(junk, ev.schema).collect()
    assert len(bad) == 1 and bad[0]["event_id"] is None

    # option dicts: the exact connector contract
    src = kafka_source_options("broker:9092", "t-events")
    assert src["subscribe"] == "t-events" and src["failOnDataLoss"] == "false"
    snk = kafka_sink_options("broker:9092", "t-events")
    assert snk == {"kafka.bootstrap.servers": "broker:9092", "topic": "t-events"}


def test_kafka_publish_error_message(spark, tmp_path):
    from event_streaming_spark.streaming.agency import EventsAgency

    a = EventsAgency(spark, root=str(tmp_path / "kp"), backend="kafka")
    ctx = a.topic("localhost:9092", "t")
    try:
        ctx.publish({"event_id": 1})
        hit = None
    except RuntimeError as e:
        hit = str(e)
    assert hit is not None and "kafka" in hit
    a.close()


def test_store_delete_where_touches_only_affected_days(spark, tmp_path):
    """GDPR-style erasure: only partitions containing the victim's rows
    are rewritten; every other day keeps its original files untouched."""
    import glob
    import os as _os

    store = EventStore(spark, str(tmp_path / "dstore"))
    ev = load(spark, SF_SMALL, "events")
    store.append(ev)

    victim = ev.select("user_id").first()["user_id"]
    victim_rows = ev.filter(F.col("user_id") == victim)
    victim_days = {
        r[0] for r in victim_rows.select(F.to_date("ts")).distinct().collect()
    }
    all_days = {r[0] for r in ev.select(F.to_date("ts")).distinct().collect()}
    untouched_days = all_days - victim_days
    assert untouched_days, "fixture too small: victim active every day"

    stamp = {
        d: sorted(
            (p, _os.path.getmtime(p))
            for p in glob.glob(f"{store.path}/event_date={d.isoformat()}/*.parquet")
        )
        for d in untouched_days
    }

    n = store.delete_where(F.col("user_id") == victim)
    assert n == victim_rows.count()
    assert store.read().filter(F.col("user_id") == victim).count() == 0
    assert store.read().count() == ev.count() - n
    for d, files in stamp.items():
        now = sorted(
            (p, _os.path.getmtime(p))
            for p in glob.glob(f"{store.path}/event_date={d.isoformat()}/*.parquet")
        )
        assert now == files, f"untouched day {d} was rewritten"


def test_store_delete_where_whole_day_and_null_predicate(spark, tmp_path):
    import datetime as dt
    import os as _os

    store = EventStore(spark, str(tmp_path / "d2store"))
    ev = load(spark, SF_SMALL, "events")
    store.append(ev)
    # delete an entire day via the event_date column: partition dir must vanish
    day = sorted(r[0] for r in ev.select(F.to_date("ts")).distinct().collect())[0]
    n_day = ev.filter(F.to_date("ts") == day).count()
    got = store.delete_where(F.col("event_date") == F.lit(day), dates=[day])
    assert got == n_day
    assert not _os.path.isdir(f"{store.path}/event_date={day.isoformat()}")
    # NULL predicate value = keep (SQL DELETE semantics): props->>missing IS NULL
    before = store.read().count()
    assert store.delete_where(F.expr("value > cast('nan' as double)")) == 0
    assert store.read().count() == before


def test_store_compact_zorder(spark, tmp_path):
    import datetime as _dt
    import glob as _glob

    store = EventStore(spark, str(tmp_path / "zstore"))
    ev = load(spark, SF_SMALL, "events").filter(F.to_date("ts") == "2024-01-05")
    n = ev.count()
    store.append(ev)
    # z-order clamp inputs: user_id and integer value bucket both < 2^16
    after = store.compact(
        _dt.date(2024, 1, 5), target_files=2,
        zorder_by=["user_id", "cast(value as int) & 65535"],
    )
    assert after == 2
    assert store.read_key("event_date", "2024-01-05").count() == n
    assert len(_glob.glob(f"{store.path}/event_date=2024-01-05/*.parquet")) == 2


def test_key_index_point_read_prunes_partitions(spark, tmp_path):
    from event_streaming_spark.sources.store import KeyIndex

    store = EventStore(spark, str(tmp_path / "kistore"))
    ev = load(spark, SF_SMALL, "events")
    store.append(ev)
    idx = KeyIndex(store, "user_id")
    idx.rebuild()

    victim = ev.select("user_id").first()["user_id"]
    via_index = idx.lookup(victim)
    full = store.read_key("user_id", victim)
    assert sorted(r["event_id"] for r in via_index.collect()) == sorted(
        r["event_id"] for r in full.collect()
    )
    # pruning: the day list becomes a PartitionFilter on the scan
    # (inputFiles() lists pre-pruning files, so probe the plan instead)
    active_days = {r[0] for r in ev.filter(F.col("user_id") == victim)
                   .select(F.to_date("ts")).distinct().collect()}
    all_days = {r[0] for r in ev.select(F.to_date("ts")).distinct().collect()}
    assert len(active_days) < len(all_days), "fixture: victim active every day"
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        via_index.explain("formatted")
    plan = buf.getvalue()
    import re as _re

    assert _re.search(r"PartitionFilters: \[event_date#\d+ INSET", plan), plan
    # the pruned set is exactly the victim's active days
    inset = _re.search(r"INSET ([0-9, -]+)", plan).group(1)
    assert len(inset.split(",")) == len(active_days)

    # incremental refresh of one day only
    idx.rebuild(dates=sorted(active_days)[:1])
    assert sorted(r["event_id"] for r in idx.lookup(victim).collect()) == sorted(
        r["event_id"] for r in full.collect()
    )


def test_key_index_incremental_rebuild_drops_erased_days(spark, tmp_path):
    """r6 review: dynamic partition overwrite writes nothing for a day
    whose rows were all deleted, so its stale index partition survived
    forever and lookup() kept probing a dead day."""
    import datetime as dt

    from event_streaming_spark.sources.store import EventStore, KeyIndex

    store = EventStore(spark, str(tmp_path / "store"))
    d0, d1 = dt.date(2024, 1, 1), dt.date(2024, 1, 2)
    rows = [
        (1, dt.datetime(2024, 1, 1, 12), 7, "a", 1.0, "{}"),
        (2, dt.datetime(2024, 1, 2, 12), 7, "b", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    store.append(df)
    idx = KeyIndex(store, "user_id")
    idx.rebuild()
    assert {r["event_date"] for r in idx.lookup(7).select("event_date").collect()} == {d0, d1}
    # erase all of day d0, then incrementally rebuild just that day
    store.delete_where(F.col("event_type") == "a")
    idx.rebuild(dates=[d0])
    days = {r["event_date"] for r in idx.lookup(7).select("event_date").collect()}
    assert days == {d1}, f"stale index day survived: {days}"


def test_claims_udf_coerces_rfc_valid_nonscalar_claims(spark):
    """r6 review: RFC 7519 allows aud to be an ARRAY and numeric dates
    to be floats; the pickle-UDF converter silently nulled mismatched
    values into the flat claims struct.  They must coerce, not vanish."""
    import time

    from event_streaming_spark.functions.auth import claims_udf, mint_hs256

    tok = mint_hs256(
        {"iss": "i", "aud": ["svc-a", "svc-b"], "exp": time.time() + 3600.5},
        "k",
    )
    df = spark.createDataFrame([(tok,)], "token STRING").select(
        claims_udf(secret="k")(F.col("token")).alias("claims")
    )
    row = df.select("claims.aud", "claims.exp", "claims.iss").first()
    assert row["aud"] == "svc-a,svc-b"
    assert row["exp"] is not None and row["iss"] == "i"
