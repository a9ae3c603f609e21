"""Stateful streaming operators: keep-latest upsert + stream dedup.

Reference parity:
  - O4/O27 keep-latest-upsert semantics (subscribe replace-latest,
    header-map unconditional replace): /root/reference/src/
    events-agency.c:207-219, utils/email-sender.c:208-212.
  - O23 discard-duplicate policy under streaming → dropDuplicates /
    dropDuplicatesWithinWatermark.

Spark-first: `applyInPandasWithState` keeps one row per key (max event
time wins; ties broken by a sequence column).  Emits the current latest
per key each micro-batch ("update"-style over an append sink via
foreachBatch).  State is per-key-group on executors — scales horizontally;
at 100 TB of throughput the bottleneck is the state store, so keys must
be high-cardinality (they are: user/topic keys), not a global singleton.

Batch twins of these semantics live in operators/dedup.py and are
oracle-checked; the streaming tests assert stream==batch convergence.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def keep_latest_stream(
    events: DataFrame,
    key_col: str = "user_id",
    order_col: str = "ts",
    payload_cols: tuple[str, ...] = ("event_id", "event_type", "value"),
    seq_col: str = "event_id",
) -> DataFrame:
    """Streaming keep-latest: one output row per key per micro-batch with
    the latest payload so far (across batches, via GroupState).

    Ties on ``order_col`` are broken by ``seq_col`` (a unique sequence
    id), in the per-batch sort AND the cross-batch state comparison — so
    replay after failure re-elects the SAME winner regardless of arrival
    order (the deterministic-replay contract in operators/dedup.py).
    Matches the batch twin ``dedup_keep_latest(keys, [order, seq])``.
    """

    out_fields = [events.schema[key_col], events.schema[order_col]] + [
        events.schema[c] for c in payload_cols
    ]
    out_schema = T.StructType(out_fields)
    # state = latest (order_col as epoch-us, seq tie-break) + payload values
    state_schema = T.StructType(
        [T.StructField("ord_us", T.LongType()), T.StructField("seq", T.LongType())]
        + [events.schema[c] for c in payload_cols]
    )

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            st = state.get
            best, best_payload = (st[0], st[1]), list(st[2:])
        else:
            best, best_payload = (-(2**62), -(2**62)), None
        for pdf in pdfs:
            if pdf.empty:
                continue
            pdf = pdf.sort_values([order_col, seq_col], kind="stable")
            last = pdf.iloc[-1]
            cand = (int(pd.Timestamp(last[order_col]).value // 1000), int(last[seq_col]))
            if cand > best:
                best = cand
                best_payload = [last[c] for c in payload_cols]
        if best_payload is not None:
            state.update((best[0], best[1], *best_payload))
            row = {
                key_col: key[0],
                order_col: pd.Timestamp(best[0] * 1000),
                **{c: v for c, v in zip(payload_cols, best_payload)},
            }
            yield pd.DataFrame([row])

    return events.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def stream_dedup_within_watermark(
    events: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """First-wins streaming dedup with bounded state (O23 discard policy):
    duplicates arriving within the watermark horizon are dropped; state
    for old keys is evicted once the watermark passes."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def sessionize_stream(
    events: DataFrame,
    gap_minutes: int = 30,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    seq_col: str = "event_id",
) -> DataFrame:
    """CUSTOM stateful sessionizer via ``applyInPandasWithState`` — the
    arbitrary-state complement of the built-in ``session_window``
    (plans/streaming.py drains): the operator owns its state
    record (open session: start, last-seen, count, µ-scaled value sum)
    and its eviction policy (event-time timeout at last_ts + gap), which
    is the shape every custom streaming operator takes when the built-in
    windows can't express the semantics (SURVEY §2 custom-operator rule;
    pyspark guide "applyInPandasWithState for custom stateful
    operators").

    Contract (matches the batch islands oracle exactly):
      * events with ``ts - prev_ts < gap`` (strict) extend the session;
      * a closed session emits exactly once (append mode) — either when
        a later event proves the gap, or when the EVENT-TIME watermark
        passes last_ts + gap (GroupStateTimeout.EventTimeTimeout: state
        for idle keys is evicted by the engine, so state size tracks
        OPEN sessions only — bounded, restart-safe via the checkpoint);
      * value sums accumulate as µ-scaled longs (order-independent
        exact integers, the engine-boundary rule).

    Input must already carry ``withWatermark(ts_col, ...)``.
    """
    out_schema = T.StructType(
        [
            T.StructField(key_col, T.LongType()),
            T.StructField("session_start_ms", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("duration_s", T.DoubleType()),
            T.StructField("sv", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("start_us", T.LongType()),
            T.StructField("last_us", T.LongType()),
            T.StructField("n", T.LongType()),
            T.StructField("sv", T.LongType()),
        ]
    )
    gap_us = gap_minutes * 60 * 1_000_000

    def emit(key: tuple, st: tuple) -> pd.DataFrame:
        start_us, last_us, n, sv = st
        return pd.DataFrame(
            [
                {
                    key_col: key[0],
                    "session_start_ms": start_us // 1000,
                    "n_events": n,
                    "duration_s": round((last_us // 1000 - start_us // 1000) / 1000.0, 3),
                    "sv": sv,
                }
            ]
        )

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # watermark passed last_ts + gap: the open session is final
            st = state.get
            state.remove()
            yield emit(key, st)
            return
        cur = state.get if state.exists else None
        rows = [pdf for pdf in pdfs if not pdf.empty]
        if not rows:
            return
        pdf = pd.concat(rows, ignore_index=True).sort_values(
            [ts_col, seq_col], kind="stable"
        )
        for ts, val in zip(pdf[ts_col], pdf[value_col]):
            us = int(pd.Timestamp(ts).value // 1000)
            sv = int(round(float(val) * 1e6))
            if cur is None:
                cur = (us, us, 1, sv)
            elif us - cur[1] < gap_us:
                cur = (cur[0], us, cur[2] + 1, cur[3] + sv)
            else:
                yield emit(key, cur)
                cur = (us, us, 1, sv)
        state.update(cur)
        # event-time timeout: fire when the watermark proves no event can
        # extend this session (late data beyond the watermark is dropped
        # upstream by the same contract as the built-in session window)
        state.setTimeoutTimestamp(cur[1] // 1000 + gap_minutes * 60 * 1000)

    return events.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
    )


def mg_merge(
    terms: list, counts: list, batch_counts: dict, capacity: int
) -> tuple[list, list, int]:
    """Pure Misra-Gries merge: fold EXACT per-batch counts into a bounded
    counter set (≤ ``capacity`` survivors).

    Batched decrement (merge form of the classic one-at-a-time rule):
    when the combined set exceeds capacity, subtract the (capacity+1)-th
    largest count from every counter and drop the non-positive — at most
    ``capacity`` values can exceed that threshold, so one round always
    suffices.  Returns the new (terms, counts) in sorted-term order (a
    deterministic state encoding) plus the decrement applied: any term's
    UNDERCOUNT after a sequence of merges is at most the sum of the
    returned decrements, which is the realized completeness bound the
    consuming plan asserts against (tighter than the n/(capacity+1)
    worst case).
    """
    c = dict(zip(list(terms), [int(x) for x in counts]))
    for t, n in batch_counts.items():
        c[t] = c.get(t, 0) + int(n)
    dec = 0
    if len(c) > capacity:
        kth = sorted(c.values(), reverse=True)[capacity]
        c = {t: n - kth for t, n in c.items() if n - kth > 0}
        dec = int(kth)
    ts = sorted(c)
    return ts, [c[t] for t in ts], dec


def heavy_hitters_stream(
    tokens_df: DataFrame,
    capacity: int = 64,
    salt_col: str = "salt",
    term_col: str = "term",
) -> DataFrame:
    """Bounded-state streaming heavy hitters: a capacity-C Misra-Gries
    summary PER SALT GROUP maintained ACROSS micro-batches through
    ``applyInPandasWithState`` — the streaming complement of the batch
    `text_heavy_hitters_mg_rescan` two-pass plan (state never exceeds
    #salts × capacity counters regardless of stream length or
    vocabulary; an exact streaming top-k would hold the vocabulary).

    Each term hashes to exactly ONE salt group, so a group's realized
    decrement total bounds the undercount of every term absent from its
    candidate set — the consuming plan's completeness proof.  Every
    micro-batch emits the group's full candidate SNAPSHOT (plus the
    running n_seen / dec_total); the subscriber keeps the last snapshot
    per group.
    """
    out_schema = T.StructType(
        [
            T.StructField(salt_col, T.IntegerType()),
            T.StructField(term_col, T.StringType()),
            T.StructField("mg_count", T.LongType()),
            T.StructField("n_seen", T.LongType()),
            T.StructField("dec_total", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("terms", T.ArrayType(T.StringType())),
            T.StructField("counts", T.ArrayType(T.LongType())),
            T.StructField("n_seen", T.LongType()),
            T.StructField("dec_total", T.LongType()),
        ]
    )

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        terms, counts, n_seen, dec_total = (
            state.get if state.exists else ([], [], 0, 0)
        )
        batch: dict = {}
        new_rows = 0
        for pdf in pdfs:
            if pdf.empty:
                continue
            new_rows += len(pdf)
            for t, n in pdf[term_col].value_counts().items():
                batch[t] = batch.get(t, 0) + int(n)
        if not batch:
            return
        terms, counts, dec = mg_merge(terms, counts, batch, capacity)
        n_seen = int(n_seen) + new_rows
        dec_total = int(dec_total) + dec
        state.update((list(terms), [int(x) for x in counts], n_seen, dec_total))
        yield pd.DataFrame(
            {
                salt_col: [int(key[0])] * len(terms),
                term_col: list(terms),
                "mg_count": [int(x) for x in counts],
                "n_seen": [n_seen] * len(terms),
                "dec_total": [dec_total] * len(terms),
            }
        )

    return tokens_df.groupBy(salt_col).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
