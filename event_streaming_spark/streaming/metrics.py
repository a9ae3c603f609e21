"""Streaming metrics — the app_timer analogue (SURVEY O37/D12).

Reference parity: /root/reference/utils/app_timer.c:43-90 provides
monotonic start/elapsed timers; nothing consumes them yet.  In Spark the
equivalent telemetry is the StreamingQueryListener progress feed: rows/s,
batch durations, state-store sizes — collected here into a queryable list
and exposed as a DataFrame for the same engine to analyze its own
performance.
"""

from __future__ import annotations

import json
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener


class ProgressCollector(StreamingQueryListener):
    """Collects per-micro-batch progress events (thread-safe)."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.progress: list[dict] = []
        self.started: list[str] = []
        self.terminated: list[str] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        with self._lock:
            self.started.append(str(event.id))

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = json.loads(event.progress.json)
        durations = p.get("durationMs") or {}
        # the first stateful operator's store (None for stateless queries)
        state = (p.get("stateOperators") or [{}])[0]
        with self._lock:
            self.progress.append(
                {
                    "query_id": p.get("id"),
                    "name": p.get("name"),
                    "batch_id": p.get("batchId"),
                    "num_input_rows": p.get("numInputRows", 0),
                    "batch_duration_ms": durations.get("triggerExecution"),
                    # every micro-batch phase: addBatch, latestOffset,
                    # queryPlanning, walCommit, commitOffsets, ...
                    "duration_ms": durations,
                    "state_commit_ms": state.get("commitTimeMs"),
                    "state_memory_bytes": state.get("memoryUsedBytes"),
                    "state_rows_total": state.get("numRowsTotal"),
                }
            )

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        with self._lock:
            self.terminated.append(str(event.id))

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def attach(self, spark: SparkSession) -> "ProgressCollector":
        spark.streams.addListener(self)
        return self

    def detach(self, spark: SparkSession) -> None:
        spark.streams.removeListener(self)

    def as_dataframe(self, spark: SparkSession) -> DataFrame:
        with self._lock:
            rows = list(self.progress)
        from event_streaming_spark.functions.localframe import local_frame

        return local_frame(
            spark,
            rows or [],
            "query_id STRING, name STRING, batch_id LONG, num_input_rows LONG, "
            "batch_duration_ms LONG, duration_ms MAP<STRING, BIGINT>, "
            "state_commit_ms LONG, state_memory_bytes LONG, state_rows_total LONG",
        )
