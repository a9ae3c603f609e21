"""EventsAgency — the reference's pub/sub topic registry on Structured
Streaming.

Reference parity (all /root/reference):
  - Agency registry keyed (broker, topic) in an ordered tree:
    include/events-agency.h:78-91, src/events-agency.c:142-148,193,226,240.
    Here: a plain dict + sorted listing (ordered iteration is a read-time
    concern in Spark, not a storage structure).
  - subscribe = find-or-create, REPLACE-CALLBACK-WITH-LATEST if the topic
    already exists (last-write-wins, freeing the old subscriber state):
    src/events-agency.c:198-230.  Here: stop the old StreamingQuery, call
    its on_free_data, start a new query with the new foreachBatch.
  - unsubscribe: src/events-agency.c:232-243 → stop + deregister.
  - find_topic (tfind point lookup): src/events-agency.c:183-196.
  - publish/consume contracts (declared, bodies stubbed in the reference):
    include/events-agency.h:29,51-52.  Chosen semantics (documented, not
    guessed): publish appends JSON-lines to the topic log (durable,
    Kafka-like); consume is micro-batch at-least-once with the callback
    invoked once per non-empty batch — `on_notify(topic_ctx, batch_df,
    batch_id)` is the `events_topic_on_notify_fn` analogue.
  - Comparator (broker, topic) NULLS FIRST: src/events-agency.c:115-137.
    The reference's :133 NULL-asymmetry bug is intentionally NOT
    replicated (SURVEY §7.4).

Backends: "file" (directory log — the default, durable, self-contained;
``log_format`` picks JSON-lines for debuggability or parquet for
throughput) and "kafka" (spark-sql-kafka; requires the connector jars
on the classpath — config-gated, same API).

Scale: each topic is an independent StreamingQuery; state lives in the
Spark state store, offsets in the checkpoint dir.  On a cluster the same
code fans out across executors — nothing here is driver-bound except the
registry dict (O(#topics), not O(data)).
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: The event document shape (SURVEY D1 / FIXTURES §A events).  `props`
#: stays a raw JSON string — schema-on-read, like the reference's
#: json_get_value consumers (utils/utils.h:34-42).
EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

OnNotify = Callable[["TopicContext", DataFrame, int], Any]


def _enc_part(s: str | None) -> str:
    from urllib.parse import quote

    return "%00" if s is None else quote(s, safe="")


def _dec_part(s: str) -> str | None:
    from urllib.parse import unquote

    return None if s == "%00" else unquote(s)


@dataclass
class TopicContext:
    """One live topic: durable log + at most one consumer query (O1-O3)."""

    broker: str | None
    topic: str | None
    agency: "EventsAgency"
    schema: T.StructType = field(default_factory=lambda: EVENT_SCHEMA)
    notify_data: Any = None
    on_free_data: Callable[[Any], None] | None = None
    _query: Any = None  # StreamingQuery
    #: bumped when subscribe() REPLACES the consumer — see checkpoint_dir
    _subscriber_gen: int = 0

    # -- storage layout -----------------------------------------------------
    @property
    def log_dir(self) -> str:
        # URL-quote each component (safe="" escapes everything outside
        # [A-Za-z0-9_.~-]) and join with "@", which quoting can never emit
        # — so the (broker, topic) → directory mapping is bijective and
        # discover_topics() can invert it.  None encodes as %00.
        safe = f"{_enc_part(self.broker)}@{_enc_part(self.topic)}"
        return os.path.join(self.agency.root, "topics", safe, "log")

    @property
    def checkpoint_dir(self) -> str:
        """Namespaced per SUBSCRIBER GENERATION: a replacement subscriber
        (subscribe() over an existing consumer) gets a fresh checkpoint,
        because the old one pins the previous query's committed offsets
        AND its stateful-operator schema — reusing it either skips every
        already-consumed event for the new subscriber or fails outright
        on a state-schema mismatch.  Re-invoking consume() on the SAME
        subscription (the kill+resume restart path) keeps gen and thus
        the checkpoint — restart semantics are untouched."""
        base = os.path.join(os.path.dirname(self.log_dir), "checkpoint")
        return base if self._subscriber_gen == 0 else f"{base}-gen{self._subscriber_gen}"

    # -- O1 publish -----------------------------------------------------------
    def publish(self, events: dict | list[dict] | DataFrame) -> int:
        """Append events to the topic (O1).  file backend: one JSON-lines
        file per call — the micro-batch analogue of a broker produce.
        kafka backend: produce via the kafka sink (to_json values)."""
        if self.agency.backend == "kafka":
            df = events
            if not isinstance(df, DataFrame):
                rows = [events] if isinstance(events, dict) else list(events)
                df = self.agency.spark.createDataFrame(
                    self.agency.spark.sparkContext.parallelize(
                        [json.dumps(r) for r in rows]
                    ).map(lambda s: (s,)),
                    "value STRING",
                )
            else:
                from event_streaming_spark.streaming.kafka_contract import to_kafka_envelope

                df = to_kafka_envelope(df)
            try:
                from event_streaming_spark.streaming.kafka_contract import kafka_sink_options

                writer = df.write.format("kafka")
                for k, v in kafka_sink_options(self.broker, self.topic).items():
                    writer = writer.option(k, v)
                writer.save()
            except Exception as e:
                raise RuntimeError(
                    "kafka backend needs the spark-sql-kafka connector on the "
                    "classpath; use backend='file' for a self-contained log"
                ) from e
            return 0
        os.makedirs(self.log_dir, exist_ok=True)
        if isinstance(events, DataFrame):
            df = events
            # Bulk publishes serialize CPU-bound (JSON encode / parquet
            # encode); a parallelism-deficient input (single-file scan)
            # would run that in ONE task.  Same pass-through rule as
            # plans.catalog.spread: a source already at ≥half the
            # cluster's parallelism is left untouched — repartitioning
            # 100 TB just to publish would be the bigger cost.
            target = self.agency.spark.sparkContext.defaultParallelism
            if df.rdd.getNumPartitions() < max(2, target // 2):
                df = df.repartition(target)
            if self.agency.log_format == "parquet":
                df.write.mode("append").parquet(self.log_dir)
            else:
                df.write.mode("append").json(self.log_dir)
            return 0
        if isinstance(events, dict):
            events = [events]
        if self.agency.log_format == "parquet":
            return self._publish_rows_parquet(list(events))

        def write(tmp: str) -> None:
            with open(tmp, "w", encoding="utf-8") as fh:
                for e in events:
                    fh.write(json.dumps(e) + "\n")

        self._publish_file("json", write)
        return 0

    def _publish_file(self, ext: str, write: Callable[[str], None]) -> None:
        """Add one ``pub-*.<ext>`` file to the log, atomically: ``write``
        fills a dot-prefixed temp file in the same directory (Spark's file
        source skips ``.``/``_`` names, so a half-written file is never
        read), then a same-directory rename publishes it."""
        name = f"pub-{time.time_ns()}-{uuid.uuid4().hex[:8]}.{ext}"
        tmp = os.path.join(self.log_dir, f".{name}.tmp")
        write(tmp)
        os.rename(tmp, os.path.join(self.log_dir, name))

    def _publish_rows_parquet(self, rows: list[dict]) -> int:
        """Driver-side parquet append for small dict publishes — no Spark
        job (a per-event job would dominate single-event produce latency).
        Columns are built per schema field and cast through Arrow, so the
        same loosely-typed dicts the JSON path accepts (ISO timestamp
        strings, ints for doubles) land as typed parquet."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import to_arrow_type

        arrays, names = [], []
        for f in self.schema.fields:
            vals = [r.get(f.name) for r in rows]
            at = to_arrow_type(f.dataType)
            arr = pa.array(vals)
            if pa.types.is_timestamp(at) and pa.types.is_string(arr.type):
                # ISO strings parse via the naive-timestamp cast first.
                # Naive wall-times are interpreted in the SESSION
                # timezone — the same rule the JSON log path applies
                # (Spark's reader) — so the two advertised-equivalent
                # log formats agree on the absolute instant.  (The old
                # direct cast pinned naive strings to the Arrow type's
                # tz, i.e. UTC, skewing non-UTC sessions between paths.)
                import pyarrow.compute as pc

                arr = arr.cast(pa.timestamp(at.unit))
                if getattr(at, "tz", None) is not None:
                    sess_tz = self.agency.spark.conf.get(
                        "spark.sql.session.timeZone"
                    )
                    arr = pc.assume_timezone(arr, sess_tz)
            arrays.append(arr.cast(at))
            names.append(f.name)
        table = pa.Table.from_arrays(arrays, names=names)
        self._publish_file("parquet", lambda tmp: pq.write_table(table, tmp))
        return 0

    # -- O2 consume -------------------------------------------------------------
    def stream(
        self, max_files_per_trigger: int | None = None, session: SparkSession | None = None
    ) -> DataFrame:
        """The topic as an unbounded DataFrame.

        max_files_per_trigger bounds each micro-batch (backpressure for
        catch-up reads over a deep log).  ``session`` lets a caller plan
        the stream on a specific (e.g. per-query-conf cloned) session."""
        spark = session or self.agency.spark
        os.makedirs(self.log_dir, exist_ok=True)
        if self.agency.backend == "kafka":
            from event_streaming_spark.streaming.kafka_contract import (
                from_kafka_envelope,
                kafka_source_options,
            )

            try:
                reader = spark.readStream.format("kafka")
                for k, v in kafka_source_options(self.broker, self.topic).items():
                    reader = reader.option(k, v)
                raw = reader.load()
            except Exception as e:  # connector jars absent → actionable error
                raise RuntimeError(
                    "kafka backend needs the spark-sql-kafka connector on the "
                    "classpath (--packages org.apache.spark:spark-sql-kafka-0-10_2.13); "
                    "use backend='file' for a self-contained durable log"
                ) from e
            return from_kafka_envelope(raw, self.schema)
        reader = spark.readStream.schema(self.schema)
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        if self.agency.log_format == "parquet":
            return reader.parquet(self.log_dir)
        return reader.json(self.log_dir)

    def consume(
        self,
        on_notify: OnNotify,
        notify_data: Any = None,
        once: bool = True,
        transform: Callable[[DataFrame], DataFrame] | None = None,
        output_mode: str = "append",
        max_files_per_trigger: int | None = None,
        state_partitions: int | None = None,
    ):
        """Start the consumer query; per micro-batch call
        ``on_notify(self, batch_df, batch_id)`` (O3 contract).

        once=True → availableNow trigger: drain the log, then stop
        (the poll-one analogue of the reference's consume,
        include/events-agency.h:52).  once=False → continuous micro-batches.

        state_partitions sizes the stateful operators' state-store
        partition count for THIS query (captured into the checkpoint at
        first start, fixed thereafter — Spark semantics).  Stateful
        streaming cost has a per-partition floor (store open + snapshot +
        commit every micro-batch), so the right number tracks STATE
        cardinality (distinct windows × keys), not the session's batch
        shuffle default: a 150-row windowed agg across 32 stores pays 32
        commit floors for nothing, while a billion-key state wants
        hundreds.  Measured on the headline drain (100k events, 150 state
        rows): 32 → 8 stores halves wall clock.  None = session default.
        """
        self.stop()
        self.notify_data = notify_data
        session = self.agency.spark
        if state_partitions is not None:
            # Scope the shuffle-partition override to THIS query by
            # planning it on a session CLONE (shared SparkContext +
            # cached data, isolated SQLConf) instead of toggling the
            # shared session's conf — a concurrent consumer or batch job
            # planned during the old set/restore window could capture the
            # temporary value, and two concurrent consumes could restore
            # each other's override out of order.  The conf is captured
            # into the query's IncrementalExecution at start() and the
            # state partitioning is pinned by the checkpoint thereafter.
            # Clones are cached per partition count on the agency
            # (ADVICE r4: a fresh clone per consume() call accumulated
            # session state in the shared SparkContext).
            session = self.agency.tuned_clone(state_partitions)
        df = self.stream(max_files_per_trigger=max_files_per_trigger, session=session)
        if transform is not None:
            df = transform(df)

        def _batch(batch_df: DataFrame, batch_id: int) -> None:
            on_notify(self, batch_df, batch_id)

        writer = (
            df.writeStream.foreachBatch(_batch)
            .outputMode(output_mode)  # "update" lets windowed aggs emit pre-watermark
            .option("checkpointLocation", self.checkpoint_dir)
            .queryName(f"{self.broker}/{self.topic}")
        )
        writer = writer.trigger(availableNow=True) if once else writer.trigger(
            processingTime="1 second"
        )
        self._query = writer.start()
        if once:
            self._query.awaitTermination()
        return self._query

    def stop(self) -> None:
        if self._query is not None:
            try:
                self._query.stop()
            except Exception:  # pragma: no cover - already terminated
                pass
            self._query = None

    def free(self) -> None:
        """Release subscriber state (the reference's on_free_data hook,
        src/events-agency.c:210-214)."""
        self.stop()
        if self.on_free_data is not None and self.notify_data is not None:
            self.on_free_data(self.notify_data)
        self.notify_data = None
        self.on_free_data = None


class EventsAgency:
    """Registry of live topics keyed (broker, topic) — SURVEY D3/O4-O6."""

    def __init__(
        self,
        spark: SparkSession,
        root: str | None = None,
        backend: str = "file",
        config: dict | None = None,
        log_format: str = "json",
    ) -> None:
        if backend not in ("file", "kafka"):
            raise ValueError(f"unknown backend: {backend}")
        if log_format not in ("json", "parquet"):
            raise ValueError(f"unknown log_format: {log_format}")
        self.spark = spark
        self.backend = backend
        # Per-agency, fixed for the life of the on-disk log: the topic
        # directory must be format-homogeneous (one streaming source
        # format per topic).  "json" is the debuggable default;
        # "parquet" is the throughput format — columnar encode, typed,
        # vectorized scan on the consume side (~10× the bytes-parse
        # rate of JSON at 100 TB event volume).
        self.log_format = log_format
        self.root = root or os.path.join("/tmp", f"events-agency-{uuid.uuid4().hex[:8]}")
        os.makedirs(self.root, exist_ok=True)
        self._topics: dict[tuple[str | None, str | None], TopicContext] = {}
        # Registry lock: the HTTP gateway serves handler THREADS that hit
        # _get_or_create/topics concurrently — an unguarded dict risks
        # "dictionary changed size during iteration" in topics() and a
        # check-then-act double-create in _get_or_create that clobbers a
        # context a consumer already subscribed on (r6 review).
        self._lock = threading.RLock()
        self._session_clones: dict[int, SparkSession] = {}
        self.load_config(config or {})

    def tuned_clone(self, state_partitions: int) -> SparkSession:
        """One tuned session clone per shuffle-partition override, cached
        for the agency's lifetime.  consume() used to mint a fresh
        ``newSession()`` per call, so a long-lived agency repeatedly
        starting consumers accumulated session state in the shared
        SparkContext (ADVICE r4).  Sharing is safe: the clone's SQLConf
        is written once here and never mutated afterward — consumers only
        ever plan against it."""
        s = self._session_clones.get(state_partitions)
        if s is None:
            from event_streaming_spark.session import tune_session

            s = tune_session(self.spark.newSession())
            s.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
            self._session_clones[state_partitions] = s
        return s

    # -- O8 config ------------------------------------------------------------
    def load_config(self, config: dict) -> int:
        """Apply a JSON config object (the reference declares this and
        main() asserts it succeeds — src/events-agency.c:178-181,
        src/main.c:88-89; v0 body is a stub returning -1.  Chosen
        semantics: pre-register any topics listed under "topics")."""
        for t in config.get("topics", []):
            self._get_or_create(t.get("broker"), t.get("topic"))
        return 0

    def discover_topics(self) -> list[tuple[str | None, str | None]]:
        """Rebuild the registry from the on-disk topic logs (restart
        recovery: the durable log + checkpoints survive the process; the
        in-memory registry — like the reference's tsearch tree — does not).
        Returns the discovered (broker, topic) keys."""
        topics_dir = os.path.join(self.root, "topics")
        found = []
        if os.path.isdir(topics_dir):
            for entry in sorted(os.listdir(topics_dir)):
                if "@" not in entry:
                    continue
                broker_s, topic_s = entry.split("@", 1)
                broker, topic = _dec_part(broker_s), _dec_part(topic_s)
                self._get_or_create(broker, topic)
                found.append((broker, topic))
        return found

    # -- O6 find_topic ----------------------------------------------------------
    def find_topic(self, broker: str | None, topic: str | None) -> TopicContext | None:
        return self._topics.get((broker, topic))

    def _get_or_create(self, broker: str | None, topic: str | None) -> TopicContext:
        key = (broker, topic)
        with self._lock:  # gateway handler threads race this check-then-act
            if key not in self._topics:
                self._topics[key] = TopicContext(broker=broker, topic=topic, agency=self)
            return self._topics[key]

    def topic(self, broker: str | None, topic: str | None) -> TopicContext:
        """Public get-or-create accessor — the publish-side entry point.

        ``subscribe`` is the consume-side contract (find-or-create +
        replace-latest callback, src/events-agency.c:198-230); publishers
        that only need a handle to push events call this instead of
        reaching into the private registry.
        """
        return self._get_or_create(broker, topic)

    # -- O4 subscribe (find-or-create; REPLACE callback with latest) -----------
    def subscribe(
        self,
        broker: str | None,
        topic: str | None,
        on_notify: OnNotify,
        notify_data: Any = None,
        on_free_data: Callable[[Any], None] | None = None,
        once: bool = True,
        transform: Callable[[DataFrame], DataFrame] | None = None,
        state_partitions: int | None = None,
    ) -> TopicContext:
        ctx = self.find_topic(broker, topic)
        if ctx is not None:
            # last-write-wins: free the previous subscriber's state
            # (src/events-agency.c:207-219) and move to a fresh
            # checkpoint namespace — the NEW subscriber starts from the
            # log's beginning with its own state, instead of inheriting
            # the replaced query's offsets/state schema (see
            # checkpoint_dir)
            ctx.free()
            # Reclaim the replaced generation's checkpoint — without this a
            # long-lived topic under repeated subscriber replacement leaks
            # one checkpoint directory per generation (r6 review).  The new
            # generation never reads it (fresh namespace by design), so
            # best-effort removal is safe.
            shutil.rmtree(ctx.checkpoint_dir, ignore_errors=True)
            ctx._subscriber_gen += 1
        else:
            ctx = self._get_or_create(broker, topic)
        ctx.on_free_data = on_free_data
        ctx.consume(
            on_notify,
            notify_data=notify_data,
            once=once,
            transform=transform,
            state_partitions=state_partitions,
        )
        return ctx

    # -- O5 unsubscribe -----------------------------------------------------------
    def unsubscribe(self, broker: str | None, topic: str | None) -> int:
        with self._lock:
            ctx = self._topics.pop((broker, topic), None)
        if ctx is None:
            return -1
        ctx.free()
        return 0

    # -- O30 ordered listing (NULLS FIRST both components — bug :133 fixed) ----
    def topics(self) -> list[tuple[str | None, str | None]]:
        with self._lock:
            keys = list(self._topics.keys())
        return sorted(
            keys,
            key=lambda k: ((k[0] is not None, k[0] or ""), (k[1] is not None, k[1] or "")),
        )

    def close(self, remove_logs: bool = False) -> None:
        for key in list(self._topics):
            self.unsubscribe(*key)
        if remove_logs:
            shutil.rmtree(self.root, ignore_errors=True)
