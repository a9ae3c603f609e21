"""EventStore partition pruning, file sources, email sink, auth, multimodal."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from event_streaming_spark.functions.auth import claims_udf, mint_hs256, verify_hs256
from event_streaming_spark.operators.multimodal import decode_image_stub, extract_image_meta
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


def test_multimodal_decode_stub(spark, tmp_path):
    import struct as _s

    d = tmp_path / "imgs"
    d.mkdir()
    # minimal PNG header: signature + IHDR length/type + 320x240 dims
    png = b"\x89PNG\r\n\x1a\n" + _s.pack(">I", 13) + b"IHDR" + _s.pack(">II", 320, 240) + b"\x00" * 16
    (d / "a.png").write_bytes(png)
    (d / "b.jpg").write_bytes(b"\xff\xd8\xff\xe0" + b"\x00" * 32)
    (d / "c.dat").write_bytes(b"garbage-bytes")

    meta = extract_image_meta(load_file(spark, str(d)))
    rows = {os.path.basename(r["path"]): r for r in meta.collect()}
    assert rows["a.png"]["format"] == "png"
    assert (rows["a.png"]["width"], rows["a.png"]["height"]) == (320, 240)
    assert rows["b.jpg"]["format"] == "jpeg" and rows["b.jpg"]["width"] == -2  # stubbed codec
    assert rows["c.dat"]["format"] == "unknown"

    # kernel contract: compressed formats raise past the header
    try:
        decode_image_stub(b"\xff\xd8\xff\xe0" + b"\x00" * 8)
        raised = False
    except NotImplementedError:
        raised = True
    assert raised


def _make_ppm(w, h, value=7):
    return b"P6\n%d %d\n255\n" % (w, h) + bytes([value]) * (w * h * 3)


def _make_bmp_24(w, h, value=9):
    import struct as _s

    row = bytes([value]) * (w * 3)
    pad = b"\x00" * ((-len(row)) % 4)
    raster = (row + pad) * h
    header = b"BM" + _s.pack("<IHHI", 54 + len(raster), 0, 0, 54)
    info = _s.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 0, 0, 0, 0)
    return header + info + raster


def test_uncompressed_image_real_decode():
    """PPM and BMP pixel decode is REAL (numpy raster math, no codec lib)."""
    from event_streaming_spark.operators.multimodal import decode_image_uncompressed

    fmt, w, h, ck = decode_image_uncompressed(_make_ppm(4, 3, value=7))
    assert (fmt, w, h, ck) == ("ppm", 4, 3, 4 * 3 * 3 * 7)
    # BMP: width 3 → rows padded to 12 bytes; padding must NOT be counted
    fmt, w, h, ck = decode_image_uncompressed(_make_bmp_24(3, 2, value=9))
    assert (fmt, w, h, ck) == ("bmp", 3, 2, 3 * 2 * 3 * 9)


def test_image_kernel_selection(monkeypatch):
    """Capability gate: stub in this container; Pillow kernel when PIL imports."""
    import sys
    import types

    from event_streaming_spark.operators import multimodal as M

    name, kernel = M.select_image_kernel()  # container has no Pillow
    assert (name, kernel) == ("stdlib", M.decode_image_stdlib)

    class _FakeImage:
        format, size = "JPEG", (8, 6)

        def convert(self, mode):
            return self

        def tobytes(self):
            return bytes([2]) * (8 * 6)

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    fake_pil = types.ModuleType("PIL")
    fake_pil.Image = types.SimpleNamespace(open=lambda fh: _FakeImage())
    monkeypatch.setitem(sys.modules, "PIL", fake_pil)
    monkeypatch.setitem(sys.modules, "PIL.Image", fake_pil.Image)
    name, kernel = M.select_image_kernel()
    assert name == "pillow"
    assert kernel(b"\xff\xd8\xff fake") == ("jpeg", 8, 6, 8 * 6 * 2)


def test_extract_image_meta_auto_kernel(spark, tmp_path):
    """mapInPandas plumbing with the auto-selected kernel really decodes
    an uncompressed image end to end."""
    import os as _os

    from event_streaming_spark.operators.multimodal import extract_image_meta

    p = tmp_path / "imgs"
    p.mkdir()
    (p / "a.ppm").write_bytes(_make_ppm(5, 4, value=3))
    (p / "b.bin").write_bytes(b"\x00garbage")
    df = spark.read.format("binaryFile").load(str(p))
    rows = {_os.path.basename(r["path"]): r for r in extract_image_meta(df).collect()}
    a = rows["a.ppm"]
    assert (a["format"], a["width"], a["height"], a["checksum64"]) == ("ppm", 5, 4, 5 * 4 * 3 * 3)
    assert rows["b.bin"]["format"] == "unknown"


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


def test_streaming_metrics_listener(spark, tmp_path):
    from event_streaming_spark.streaming.agency import EventsAgency
    from event_streaming_spark.streaming.metrics import ProgressCollector

    collector = ProgressCollector().attach(spark)
    try:
        agency = EventsAgency(spark, root=str(tmp_path / "magency"))
        ctx = agency.topic("b", "metrics")
        ctx.publish({"event_id": 1, "ts": "2024-01-01T00:00:00", "user_id": 1,
                     "event_type": "click", "value": 1.0, "props": "{}"})
        ctx.consume(lambda c, df, i: df.count(), once=True)
        agency.close()
        import time
        for _ in range(40):  # listener events are async
            if collector.progress and collector.terminated:
                break
            time.sleep(0.25)
        assert collector.started
        assert any(p["num_input_rows"] == 1 for p in collector.progress)
        mdf = collector.as_dataframe(spark)
        assert mdf.filter(F.col("num_input_rows") > 0).count() >= 1
        # the whole micro-batch phase map is kept, not just triggerExecution
        assert "addBatch" in next(
            p["duration_ms"] for p in collector.progress if p["num_input_rows"] == 1
        )
        assert {"duration_ms", "state_commit_ms", "state_memory_bytes",
                "state_rows_total"} <= set(mdf.columns)
        assert (
            mdf.filter(F.col("num_input_rows") > 0)
            .where(F.col("duration_ms")["addBatch"].isNotNull())
            .count()
            >= 1
        )
    finally:
        collector.detach(spark)


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


def test_sql_front_door(spark):
    from event_streaming_spark.sql import open_catalog, sql

    views = open_catalog(spark, SF_SMALL)
    assert "lineitem" in views and "events" in views
    out = sql(spark, """
        SELECT l_returnflag, count(*) AS n
        FROM lineitem WHERE l_quantity > 25 GROUP BY l_returnflag
    """).collect()
    assert sum(r["n"] for r in out) > 0
    # portable oracle SQL runs verbatim on the engine
    exists_q = """
        SELECT count(*) AS n FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """
    assert sql(spark, exists_q).collect()[0]["n"] > 0


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


def test_audio_and_frame_sampling_stubs(spark, tmp_path):
    import struct as _s
    from event_streaming_spark.operators.multimodal import (
        extract_audio_meta,
        sample_frame_offsets,
    )

    d = tmp_path / "media"
    d.mkdir()
    # minimal WAV: RIFF/WAVE header with 2ch 16kHz, byte_rate=64000, 128 data bytes
    wav = (b"RIFF" + _s.pack("<I", 36 + 128) + b"WAVE" + b"fmt " + _s.pack("<I", 16)
           + _s.pack("<HHIIHH", 1, 2, 16000, 64000, 4, 16) + b"data" + _s.pack("<I", 128)
           + b"\x00" * 128)
    (d / "a.wav").write_bytes(wav)
    (d / "b.mp3").write_bytes(b"ID3" + b"\x00" * 64)

    meta = {os.path.basename(r["path"]): r for r in
            extract_audio_meta(load_file(spark, str(d))).collect()}
    assert meta["a.wav"]["format"] == "wav"
    assert meta["a.wav"]["sample_rate"] == 16000 and meta["a.wav"]["n_channels"] == 2
    assert meta["a.wav"]["duration_ms"] == 2  # 128 bytes / 64000 B/s
    assert meta["b.mp3"]["format"] == "undecodable"  # codec gap surfaced, not hidden

    frames = sample_frame_offsets(
        load_file(spark, str(d), glob="*.wav", stat_only=True), frame_size=32, every_n=2
    ).collect()
    # 171 bytes of wav → 5 frames (0..4), every 2nd → frames 0,2,4
    got = sorted((r["frame_no"], r["byte_offset"]) for r in frames)
    assert got == [(0, 0), (2, 64), (4, 128)]


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


def _make_wav(freq_hz=440, sr=8000, n=8000, amp=0.5, channels=1, bits=16, extra_chunk=False):
    """Synthesize a PCM WAV: sine at freq_hz, optionally with a LIST
    chunk BEFORE data (the layout that breaks fixed-44-byte parsers)."""
    import math
    import struct as st

    samples = []
    for i in range(n):
        v = amp * math.sin(2 * math.pi * freq_hz * i / sr)
        for _ in range(channels):
            samples.append(int(v * 32767))
    data = b"".join(st.pack("<h", s) for s in samples)
    fmt = st.pack("<HHIIHH", 1, channels, sr, sr * channels * bits // 8, channels * bits // 8, bits)
    chunks = b"fmt " + st.pack("<I", len(fmt)) + fmt
    if extra_chunk:
        info = b"INFOIART" + st.pack("<I", 5) + b"test\x00" + b"\x00"  # odd size → pad byte
        chunks += b"LIST" + st.pack("<I", len(info)) + info
    chunks += b"data" + st.pack("<I", len(data)) + data
    return b"RIFF" + st.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def test_audio_pcm_real_decode():
    """numpy PCM decode recovers true signal features: duration exact,
    rms ≈ amp/√2, zcr ≈ 2·freq/sr — and survives a LIST chunk before
    data, which the fixed-offset header stub cannot."""
    import pytest as _pytest

    from event_streaming_spark.operators import multimodal as M

    wav = _make_wav(freq_hz=440, sr=8000, n=8000, amp=0.5)
    fmt, sr, ch, ns, dur, rms, peak, zcr = M.decode_audio_pcm(wav)
    assert (fmt, sr, ch, ns, dur) == ("wav", 8000, 1, 8000, 1000)
    assert abs(rms - 0.5 / 2 ** 0.5) < 0.01
    assert abs(peak - 0.5) < 0.01
    assert abs(zcr - 2 * 440 / 8000) < 0.005

    # chunk walker: LIST (odd-sized, padded) chunk between fmt and data
    wav2 = _make_wav(freq_hz=100, sr=8000, n=4000, amp=0.25, extra_chunk=True)
    fmt, sr, ch, ns, dur, rms, peak, zcr = M.decode_audio_pcm(wav2)
    assert (fmt, ns, dur) == ("wav", 4000, 500)
    assert abs(zcr - 2 * 100 / 8000) < 0.005

    # stereo mixes down
    wav3 = _make_wav(freq_hz=200, sr=4000, n=2000, amp=0.8, channels=2)
    fmt, sr, ch, ns, dur, rms, peak, zcr = M.decode_audio_pcm(wav3)
    assert (ch, ns, dur) == (2, 2000, 500)

    with _pytest.raises(NotImplementedError):
        M.decode_audio_pcm(b"ID3\x04" + b"\x00" * 64)


def test_extract_audio_features_spark(spark, tmp_path):
    """End-to-end: binaryFile scan → mapInPandas numpy decode; a non-WAV
    file degrades to a sentinel row instead of failing the batch."""
    import os as _os

    from event_streaming_spark.operators.multimodal import extract_audio_features
    from event_streaming_spark.sources.readers import load_file

    d = tmp_path / "audio"
    d.mkdir()
    (d / "tone.wav").write_bytes(_make_wav(freq_hz=440, sr=8000, n=8000, amp=0.5))
    (d / "bad.mp3").write_bytes(b"ID3\x04" + b"\x00" * 64)
    rows = {
        _os.path.basename(r["path"]): r
        for r in extract_audio_features(load_file(spark, str(d))).collect()
    }
    assert rows["tone.wav"]["format"] == "wav"
    assert rows["tone.wav"]["duration_ms"] == 1000
    assert abs(rows["tone.wav"]["rms"] - 0.3536) < 0.01
    assert rows["bad.mp3"]["format"] == "undecodable"


# ---------------------------------------------------------------------------
# Real PNG decode: fixtures are encoded IN-TEST by applying the scanline
# filters FORWARD (independent arithmetic); decode_png must invert them.
# ---------------------------------------------------------------------------


def _png_encode(px, color, filters, palette=None):
    """Minimal PNG writer: px is an (h, stride) ndarray of uint8; one
    filter type per row from `filters` (cycled)."""
    import struct as s
    import zlib

    import numpy as np

    def chunk(ctype, data):
        body = ctype + data
        return s.pack(">I", len(data)) + body + s.pack(">I", zlib.crc32(body))

    h, stride = px.shape
    ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color]
    w = stride // ch
    raw = bytearray()
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        f = filters[y % len(filters)]
        cur = px[y].astype(np.int32)
        enc = np.empty(stride, dtype=np.int32)
        for i in range(stride):
            a = int(cur[i - ch]) if i >= ch else 0
            b = int(prev[i])
            c = int(prev[i - ch]) if i >= ch else 0
            if f == 0:
                enc[i] = cur[i]
            elif f == 1:
                enc[i] = cur[i] - a
            elif f == 2:
                enc[i] = cur[i] - b
            elif f == 3:
                enc[i] = cur[i] - (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc[i] = cur[i] - pred
        raw.append(f)
        raw.extend((enc & 0xFF).astype(np.uint8).tobytes())
        prev = cur
    ihdr = s.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if palette is not None:
        out += chunk(b"PLTE", palette)
    out += chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(b"IEND", b"")
    return out


def test_png_decode_all_filters_rgb():
    import numpy as np

    from event_streaming_spark.operators.multimodal import decode_png

    rng = np.random.RandomState(7)
    px = rng.randint(0, 256, size=(5, 6 * 3), dtype=np.uint8)  # 6x5 RGB
    data = _png_encode(px, color=2, filters=[0, 1, 2, 3, 4])
    assert decode_png(data) == ("png", 6, 5, int(px.astype(np.int64).sum()))


def test_png_decode_gray_rgba_and_palette():
    import numpy as np

    from event_streaming_spark.operators.multimodal import decode_png

    rng = np.random.RandomState(11)
    gray = rng.randint(0, 256, size=(4, 7), dtype=np.uint8)
    assert decode_png(_png_encode(gray, 0, [4, 3, 1, 2])) == (
        "png", 7, 4, int(gray.astype(np.int64).sum()))

    rgba = rng.randint(0, 256, size=(3, 4 * 4), dtype=np.uint8)
    assert decode_png(_png_encode(rgba, 6, [1, 4, 2])) == (
        "png", 4, 3, int(rgba.astype(np.int64).sum()))

    # palette: checksum is over EXPANDED RGB bytes, not indices
    idx = rng.randint(0, 4, size=(3, 5), dtype=np.uint8)
    pal = bytes(range(12))  # 4 RGB entries
    want = sum(pal[3 * int(i) + k] for i in idx.reshape(-1) for k in range(3))
    assert decode_png(_png_encode(idx, 3, [0, 1], palette=pal)) == ("png", 5, 3, want)


def test_png_stdlib_kernel_in_spark_pipeline(spark, tmp_path):
    import os as _os

    import numpy as np

    from event_streaming_spark.operators.multimodal import extract_image_meta

    rng = np.random.RandomState(3)
    px = rng.randint(0, 256, size=(8, 9 * 3), dtype=np.uint8)
    p = tmp_path / "pngs"
    p.mkdir()
    (p / "real.png").write_bytes(_png_encode(px, 2, [0, 1, 2, 3, 4]))
    # 16-bit depth → kernel degrades to header dims + byte checksum, no sentinel
    import struct as _s
    import zlib as _z
    exotic = (b"\x89PNG\r\n\x1a\n"
              + _s.pack(">I", 13) + b"IHDR" + _s.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0)
              + _s.pack(">I", 0)
              + _s.pack(">I", 1) + b"IDAT" + _z.compress(b"\x00") + _s.pack(">I", 0))
    (p / "deep.png").write_bytes(exotic)
    df = spark.read.format("binaryFile").load(str(p))
    rows = {_os.path.basename(r["path"]): r for r in extract_image_meta(df).collect()}
    real = rows["real.png"]
    assert (real["format"], real["width"], real["height"], real["checksum64"]) == (
        "png", 9, 8, int(px.astype(np.int64).sum()))
    deep = rows["deep.png"]
    assert (deep["format"], deep["width"], deep["height"]) == ("png", 2, 2)
    assert deep["checksum64"] > 0  # header-parse fallback, not the -2 sentinel


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


def test_decode_pixels_and_resize_nearest():
    import numpy as np

    from event_streaming_spark.operators.multimodal import (
        decode_pixels,
        resize_nearest,
    )

    # 4x2 gradient PPM
    px = np.arange(4 * 2 * 3, dtype=np.uint8).reshape(2, 4, 3)
    ppm = b"P6\n4 2\n255\n" + px.tobytes()
    got = decode_pixels(ppm)
    assert np.array_equal(got, px)
    # nearest resize 4x2 -> 2x1: rows [0], cols [0, 2] (floor mapping)
    th = resize_nearest(got, 2, 1)
    assert np.array_equal(th, px[[0]][:, [0, 2]])


def test_decode_pixels_png_roundtrip():
    import struct as _struct
    import zlib

    import numpy as np

    from event_streaming_spark.operators.multimodal import decode_pixels

    w, h = 5, 3
    px = (np.arange(w * h * 3, dtype=np.uint64) * 7 % 256).astype(np.uint8).reshape(h, w, 3)
    raw = b"".join(b"\x00" + px[r].tobytes() for r in range(h))  # filter 0 rows

    def chunk(ctype, data):
        body = ctype + data
        return _struct.pack(">I", len(data)) + body + _struct.pack(">I", zlib.crc32(body))

    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", _struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_pixels(png), px)


def test_ppm_stream_frame_sampling():
    import numpy as np

    from event_streaming_spark.operators.multimodal import sample_frames

    frames = []
    for i in range(5):
        px = np.full((2, 3, 3), i + 1, dtype=np.uint8)
        frames.append(b"P6\n3 2\n255\n" + px.tobytes())
    stream = b"".join(frames)
    got = sample_frames(stream, every_n=2)
    assert [(i, w, h) for i, w, h, _ in got] == [(0, 3, 2), (2, 3, 2), (4, 3, 2)]
    assert [ck for *_, ck in got] == [18 * 1, 18 * 3, 18 * 5]


def test_extract_thumbnails_spark_op(spark, tmp_path):
    import numpy as np

    from event_streaming_spark.operators.multimodal import (
        decode_pixels,
        extract_thumbnails,
        resize_box,
    )

    d = tmp_path / "imgs"
    d.mkdir()
    px = (np.arange(16 * 8 * 3, dtype=np.uint64) * 11 % 256).astype(np.uint8).reshape(8, 16, 3)
    (d / "grad.ppm").write_bytes(b"P6\n16 8\n255\n" + px.tobytes())
    (d / "junk.bin").write_bytes(b"\x00\x01\x02")
    df = spark.read.format("binaryFile").load(str(d))
    rows = {r["path"].split("/")[-1]: r for r in extract_thumbnails(df, 4, 4).collect()}
    want = int(resize_box(decode_pixels(b"P6\n16 8\n255\n" + px.tobytes()), 4, 4)
               .astype("int64").sum())
    g = rows["grad.ppm"]
    assert (g["width"], g["height"], g["thumb_checksum64"]) == (16, 8, want)
    assert rows["junk.bin"]["width"] == -1


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


def test_g711_mulaw_alaw_decode():
    """G.711 companded WAV (fmt 6/7) expands via the closed-form tables:
    canonical code points decode exactly, and a companded sine's signal
    features match its linear-PCM version within companding error."""
    import math
    import struct as st

    from event_streaming_spark.operators import multimodal as M

    def g711_wav(codes: bytes, audio_fmt: int, sr=8000):
        fmt = st.pack("<HHIIHH", audio_fmt, 1, sr, sr, 1, 8)
        chunks = (
            b"fmt " + st.pack("<I", len(fmt)) + fmt
            + b"data" + st.pack("<I", len(codes)) + codes
        )
        return b"RIFF" + st.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

    # canonical code points (ITU-T G.711 reference tables)
    #   µ-law: 0x00 → −32124, 0x80 → +32124, 0xFF → 0
    fmt7 = g711_wav(bytes([0x00, 0x80, 0xFF]), 7)
    _, _, _, _, _, _, peak, _ = M.decode_audio_pcm(fmt7)
    assert abs(peak - 32124 / 32768.0) < 1e-9
    #   A-law: 0x55 → −8, 0xD5 → +8, 0x2A → −2912? use peak of ±32256
    fmt6 = g711_wav(bytes([0xAA, 0x2A]), 6)  # 0xAA^0x55=0xFF → +max, 0x2A^0x55=0x7F → −max
    _, _, _, _, _, _, peak6, _ = M.decode_audio_pcm(fmt6)
    assert abs(peak6 - 32256 / 32768.0) < 1e-9

    # companded sine ≈ linear sine in rms/zcr (µ-law reference encoder)
    def linear2ulaw(s):
        BIAS, CLIP = 0x84, 32635
        sign = 0x80 if s < 0 else 0
        s = min(abs(s), CLIP) + BIAS
        exp = 7
        mask = 0x4000
        while exp > 0 and not (s & mask):
            exp -= 1
            mask >>= 1
        mant = (s >> (exp + 3)) & 0x0F
        return ~(sign | (exp << 4) | mant) & 0xFF

    sr, n, freq, amp = 8000, 8000, 440, 0.5
    pcm16 = [int(amp * 32767 * math.sin(2 * math.pi * freq * i / sr)) for i in range(n)]
    codes = bytes(linear2ulaw(s) for s in pcm16)
    fmt, srate, ch, ns, dur, rms, peak, zcr = M.decode_audio_pcm(g711_wav(codes, 7, sr))
    assert (fmt, srate, ns, dur) == ("wav", 8000, 8000, 1000)
    assert abs(rms - amp / 2 ** 0.5) < 0.01  # companding error ≪ 1%
    assert abs(zcr - 2 * freq / sr) < 0.005

    # ADPCM (fmt=2) still genuinely needs a codec
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        M.decode_audio_pcm(g711_wav(b"\x00\x00", 2))


def test_resize_box_is_cell_mean_and_upscale_falls_back():
    import numpy as np

    from event_streaming_spark.operators.multimodal import resize_box, resize_nearest

    # exact 2x downscale: every output pixel is the rounded mean of its 2x2 cell
    px = (np.arange(8 * 8 * 3, dtype=np.uint64) * 7 % 256).astype(np.uint8).reshape(8, 8, 3)
    got = resize_box(px, 4, 4)
    cells = px.astype(np.int64).reshape(4, 2, 4, 2, 3)
    want = ((cells.sum(axis=(1, 3)) + 2) // 4).astype(np.uint8)  # round half up, area 4
    assert np.array_equal(got, want)
    # constant image stays constant at any ragged scale
    const = np.full((10, 7, 3), 123, dtype=np.uint8)
    assert np.array_equal(resize_box(const, 3, 4), np.full((4, 3, 3), 123, dtype=np.uint8))
    # upscale falls back to nearest (identical output)
    assert np.array_equal(resize_box(px, 16, 16), resize_nearest(px, 16, 16))


def test_webp_dimensions_all_container_forms():
    """WebP metadata without libwebp: VP8X (extended), VP8L (lossless),
    VP8 (lossy key frame) headers all yield true canvas dimensions;
    pixel decode stays gated."""
    import struct as st

    import pytest as _pytest

    from event_streaming_spark.operators import multimodal as M

    def riff(fourcc, payload):
        body = b"WEBP" + fourcc + st.pack("<I", len(payload)) + payload
        return b"RIFF" + st.pack("<I", len(body)) + body

    # VP8X: 4 flag bytes + 24-bit (w-1) + 24-bit (h-1)
    vp8x = riff(b"VP8X", bytes(4) + (639).to_bytes(3, "little") + (479).to_bytes(3, "little"))
    assert M.sniff_format(vp8x) == "webp"
    assert M.webp_dimensions(vp8x) == (640, 480)
    # VP8L: signature 0x2F + packed 14-bit dims
    bits = (299) | ((199) << 14)
    vp8l = riff(b"VP8L", bytes([0x2F]) + st.pack("<I", bits))
    assert M.webp_dimensions(vp8l) == (300, 200)
    # VP8 lossy: 3-byte frame tag + start code + 14-bit dims
    vp8 = riff(b"VP8 ", bytes(3) + b"\x9d\x01\x2a" + st.pack("<HH", 320, 240))
    assert M.webp_dimensions(vp8) == (320, 240)
    # kernel surface: dims flow through the metadata path, decode gates
    fmt, w, h, _ = M.decode_image_stdlib(vp8x)
    assert (fmt, w, h) == ("webp", 640, 480)
    with _pytest.raises(NotImplementedError):
        M.decode_pixels(vp8x)
    # a WAV is still riff, an AVI is still riff — only WEBP re-sniffs
    assert M.sniff_format(b"RIFF\x00\x00\x00\x00WAVE") == "riff"


def test_mp3_and_flac_header_metadata():
    """No-codec audio metadata: MP3 frame-header (CBR duration estimate,
    ID3v2 skip) and FLAC STREAMINFO (exact duration)."""
    import pytest as _pytest

    from event_streaming_spark.operators import multimodal as M

    # MPEG-1 Layer III, 128 kbps, 44.1 kHz, stereo; 4 KiB of payload
    mp3 = b"\xff\xfb\x90\x00" + b"\x00" * 4092
    fmt, sr, ch, dur = M.decode_audio_stub(mp3)
    assert (fmt, sr, ch) == ("mp3", 44100, 2)
    assert dur == (4096 * 8 * 1000) // 128000
    # same stream behind an ID3v2 tag (syncsafe size 100)
    id3 = b"ID3\x04\x00\x00" + bytes([0, 0, 0, 100]) + b"\x00" * 100 + mp3
    assert M.decode_audio_stub(id3)[:3] == ("mp3", 44100, 2)

    # FLAC STREAMINFO: 22050 Hz, mono, 44100 samples → exactly 2000 ms
    bits = (22050 << 44) | (0 << 41) | (15 << 36) | 44100
    streaminfo = b"\x00" * 10 + bits.to_bytes(8, "big") + b"\x00" * 16
    flac = b"fLaC" + b"\x80" + len(streaminfo).to_bytes(3, "big") + streaminfo
    fmt, sr, ch, dur = M.decode_audio_stub(flac)
    assert (fmt, sr, ch, dur) == ("flac", 22050, 1, 2000)

    # garbage after an ID3 tag still gates (no frame sync)
    with _pytest.raises(NotImplementedError):
        M.decode_audio_stub(b"ID3\x04\x00\x00\x00\x00\x00\x00" + b"\x00" * 16)


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
