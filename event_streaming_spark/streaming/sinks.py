"""Streaming sinks: the ledgered micro-batch sink skeleton + the email
alert sink.

Reference parity:
  - O12/O13 SMTP sink with TLS/auth and chunked payload upload
    (/root/reference/utils/email-sender-libcurl.c:111-193, TLS/port
    selection utils/email-sender.c:271-300).
  - O45 payload serialization (utils/email-sender.c:387-495) — reused via
    the same concat/format pipeline as plans/relational.py.

Design (SURVEY §7.4): an outward side-effecting sink can't be
exactly-once, so it is (a) DISABLED unless a transport is injected,
(b) idempotent per (batch_id): a batch whose id was already recorded is
skipped on replay, (c) the alert batch is collected only AFTER an
aggressive filter — alerts are tiny by construction; the collect is a
bounded driver hop, never a data-plane move.

Every batch-id-idempotent streaming writer in the package
(``VersionedStore.sink``/``upsert_sink`` and ``EventStore.sink``) runs
through :func:`ledgered_sink`, and every
per-batch ledger mark is named by :func:`_batch_mark`.  The long-lived
callbacks (``ledgered_sink``, the agency consumer) are wrapped by
:func:`compact_batch_errors`.
"""

from __future__ import annotations

import functools
import os
from collections.abc import Callable

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

Transport = Callable[[str, list[str], str], None]  # (from, to_list, payload)


def _batch_mark(ledger: str, batch_id: int) -> str:
    """Path of the ledger mark that records ``batch_id`` as committed."""
    return os.path.join(ledger, f"batch-{batch_id}.done")


def _write_mark(ledger: str, batch_id: int, content: str = "done") -> None:
    os.makedirs(ledger, exist_ok=True)
    with open(_batch_mark(ledger, batch_id), "w") as fh:
        fh.write(content)


class BatchCallbackError(RuntimeError):
    """A Java call inside a foreachBatch callback failed.  The message is
    py4j's one-line header and at most 500 characters of the Java cause
    chain (``class: message`` per cause, no stack frames)."""


def compact_batch_errors(fn: Callable[[DataFrame, int], None]) -> Callable[[DataFrame, int], None]:
    """Wrap the foreachBatch function ``fn`` so that a Java exception it
    raises reaches the stream thread as a short :class:`BatchCallbackError`.

    When a callback fails, Spark's stream thread decides whether
    ``query.stop()`` caused it by matching ``StreamExecution.PROXY_ERROR``
    (``py4j.protocol.Py4JJavaError: An error occurred while calling``,
    then ``(.|\\r\\n|\\r|\\n)*``, then an interruption class name)
    against the error text.  That loop recurses once per character, and
    a ``Py4JJavaError`` text holds the whole Java stack trace, so a stop
    that interrupted the callback's Spark job killed the thread with
    ``StackOverflowError`` (about 1,500 characters after the header
    overflow the default thread stack).  The short text keeps the header
    and the interruption class, and what Spark's other stop test reads
    (``org.apache.spark.SparkException``, ``cancelled`` and the query's
    job group id), so such a stop ends the query cleanly."""

    @functools.wraps(fn)
    def run(batch_df: DataFrame, batch_id: int) -> None:
        try:
            fn(batch_df, batch_id)
        except Py4JJavaError as e:
            causes, t = [], e.java_exception
            while t is not None and len(causes) < 8:
                causes.append(str(t.toString()))
                t = t.getCause()
            chain = "\n".join(causes)[:500]
            raise BatchCallbackError(f"py4j.protocol.Py4JJavaError: {e.errmsg}: {chain}") from None

    return run


def ledgered_sink(
    stream_df: DataFrame,
    checkpoint: str,
    ledger_name: str,
    commit_batch: Callable[[DataFrame, int, str], object],
    available_now: bool = True,
):
    """The foreachBatch skeleton of every idempotent streaming sink: per
    micro-batch, skip if the checkpoint-local ledger
    ``<checkpoint>/<ledger_name>`` marks the batch done, else run
    ``commit_batch(batch_df, batch_id, txn_scope)`` and write the mark
    (holding the commit's return value, or ``done`` for ``None``).

    foreachBatch is at-least-once, so a crash after the commit but
    before the mark replays the batch.  Writers that must be exactly
    once make the commit itself idempotent: the versioned store records
    ``txn_scope`` (the absolute checkpoint path) with the batch id inside
    the committed manifest.  For it the ledger is only a fast-path
    cache.

    ``available_now=False`` keeps ONE long-lived micro-batch query
    instead of drain-and-terminate: a caller interleaving publishes
    with derived-view maintenance synchronizes on
    ``query.processAllAvailable()`` per wave and stops the query at
    the end — each wave then costs zero query-startup/teardown
    (checkpoint resolution, offset-log replay, trigger spin-up),
    which on the continuous CDC→IVM loop was a restart per wave
    (the micro-batch engine fires no batch while no new files exist,
    so idle periods between waves commit nothing)."""
    ledger = os.path.join(checkpoint, ledger_name)
    txn_scope = os.path.abspath(checkpoint)

    @compact_batch_errors
    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        if os.path.exists(_batch_mark(ledger, batch_id)):
            return
        v = commit_batch(batch_df, batch_id, txn_scope)
        _write_mark(ledger, batch_id, "done" if v is None else str(v))

    writer = stream_df.writeStream.foreachBatch(_batch).option(
        "checkpointLocation", checkpoint
    )
    writer = (
        writer.trigger(availableNow=True)
        if available_now
        else writer.trigger(processingTime="50 milliseconds")
    )
    return writer.start()


def compose_alert_payload(
    df: DataFrame,
    subject_col: str = "subject",
    body_col: str = "body",
    to_col: str = "to_addr",
    from_addr: str = "alerts@example.com",
) -> DataFrame:
    """Serialize alert rows into RFC-822-ish payloads (O45): Date/From/To/
    Subject headers, blank line, dot-stuffed body (O44)."""
    crlf = "\r\n"
    payload = F.concat(
        F.lit("Date: "),
        F.date_format(F.current_timestamp(), "EEE, dd MMM yyyy HH:mm:ss Z"),
        F.lit(crlf),
        F.lit(f"From: {from_addr}"),
        F.lit(crlf),
        F.lit("To: "),
        F.col(to_col),
        F.lit(crlf),
        F.lit("Subject: "),
        F.col(subject_col),
        F.lit(crlf),
        F.lit(crlf),
        F.replace(F.col(body_col), F.lit("."), F.lit("..")),
    )
    return df.select(F.col(to_col).alias("to_addr"), payload.alias("payload"))


class EmailAlertSink:
    """foreachBatch sink: filter → serialize → send via injected transport.

    ``transport=None`` (default) renders the sink inert — payloads are
    still built (and can be captured for tests) but nothing leaves the
    process.  smtplib wiring is the caller's choice of transport.
    """

    def __init__(
        self,
        predicate,
        make_alerts: Callable[[DataFrame], DataFrame],
        transport: Transport | None = None,
        from_addr: str = "alerts@example.com",
        ledger_dir: str | None = None,
        max_alerts_per_batch: int = 1000,
        keep_sent: int | None = 10_000,
    ) -> None:
        from collections import deque

        self.predicate = predicate
        self.make_alerts = make_alerts
        self.transport = transport
        self.from_addr = from_addr
        self.ledger_dir = ledger_dir
        self.max_alerts = max_alerts_per_batch
        # bounded in-memory trail (continuous queries run forever); tests
        # that want everything pass keep_sent=None
        self.sent: "deque[tuple[int, str, str]]" = deque(maxlen=keep_sent)

    def _seen(self, batch_id: int) -> bool:
        if not self.ledger_dir:
            return False
        return os.path.exists(_batch_mark(self.ledger_dir, batch_id))

    def _mark(self, batch_id: int) -> None:
        if self.ledger_dir:
            _write_mark(self.ledger_dir, batch_id)
            prog = os.path.join(self.ledger_dir, f"batch-{batch_id}.progress")
            if os.path.exists(prog):
                os.remove(prog)

    def _progress(self, batch_id: int) -> int:
        """Rows already delivered for this batch (crash-mid-batch replay)."""
        if not self.ledger_dir:
            return 0
        path = os.path.join(self.ledger_dir, f"batch-{batch_id}.progress")
        try:
            with open(path) as fh:
                return int(fh.read().strip() or 0)
        except FileNotFoundError:
            return 0

    def _record_progress(self, batch_id: int, n_done: int) -> None:
        if self.ledger_dir:
            os.makedirs(self.ledger_dir, exist_ok=True)
            with open(os.path.join(self.ledger_dir, f"batch-{batch_id}.progress"), "w") as fh:
                fh.write(str(n_done))

    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        if self._seen(batch_id):  # replay after post-send failure → skip
            return
        alerts = self.make_alerts(batch_df.filter(self.predicate)).limit(self.max_alerts)
        rows = alerts.collect()  # bounded: post-filter, post-limit
        # Deterministic delivery order makes the per-row progress marker
        # meaningful on replay: a crash after row k re-sends only rows >k,
        # not the whole batch.
        rows = sorted(rows, key=lambda r: (r["to_addr"], r["payload"]))
        start = self._progress(batch_id)
        for i, r in enumerate(rows):
            if i < start:
                continue
            if self.transport is not None:
                self.transport(self.from_addr, [r["to_addr"]], r["payload"])
            self.sent.append((batch_id, r["to_addr"], r["payload"]))
            self._record_progress(batch_id, i + 1)
        self._mark(batch_id)


def smtplib_transport(host: str, port: int = 587, user: str | None = None,
                      password: str | None = None, starttls: bool = True) -> Transport:
    """Real SMTP transport (the libcurl agent analogue) — constructed only
    on demand; never used in tests/CI (no network)."""

    def send(from_addr: str, to_addrs: list[str], payload: str) -> None:
        import smtplib

        with smtplib.SMTP(host, port, timeout=30) as smtp:
            if starttls:
                smtp.starttls()
            if user is not None:
                smtp.login(user, password or "")
            smtp.sendmail(from_addr, to_addrs, payload.encode("utf-8"))

    return send
