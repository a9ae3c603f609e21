"""100× scaling row for a STREAMING drain (VERDICT r6 #6).

Every 100× measurement so far is a batch plan; the streaming path's scale
story topped out at the 10× replica.  This script:

1. builds /tmp/sf100x-events — the sf0.1 events table replicated 100×
   into disjoint key universes (event_id/user_id shifted per replica,
   the make_sfbig discipline), other tables symlinked from sf0.1 so the
   dir is a complete table set for the oracle views;
2. runs ``streaming_session_window_drain`` against it with the
   per-batch metrics hook (wall + finalized-session count per
   micro-batch, multiple micro-batches forced via max_files_per_trigger);
3. hash-verifies the drained result against the DuckDB oracle AT the
   replica — the same strict normalize as tools/check_oracle.py.

Usage: python tools/streaming_scale_100x.py [--n 100] [--dst /tmp/sf100x-events]
"""

from __future__ import annotations

import argparse
import glob
import os
import sys
import time

import duckdb

sys.path.insert(0, "/root/repo")

from tools.check_oracle import normalize  # noqa: E402

_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def build_replica(src: str, dst: str, n: int) -> None:
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    span_id, span_user = con.sql(
        f"SELECT max(event_id) + 1, max(user_id) + 1 FROM '{src}/events.parquet'"
    ).fetchone()
    reps = " UNION ALL ".join(
        f"SELECT event_id + {i * span_id} AS event_id, ts, "
        f"user_id + {i * span_user} AS user_id, event_type, value, props "
        f"FROM '{src}/events.parquet'"
        for i in range(n)
    )
    con.sql(f"COPY ({reps}) TO '{dst}/events.parquet' (FORMAT PARQUET)")
    for t in _TABLES:
        if t == "events":
            continue
        link = f"{dst}/{t}.parquet"
        if not os.path.exists(link):
            os.symlink(f"{src}/{t}.parquet", link)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--dst", default="/tmp/sf100x-events")
    ap.add_argument("--n", type=int, default=100)
    ap.add_argument(
        "--state-partitions",
        type=int,
        default=8,
        help="state-store partition count for the drain (VERDICT r7 #6 "
        "sweep: run at 8/16/32 and compare ev/s)",
    )
    ap.add_argument(
        "--no-oracle",
        action="store_true",
        help="skip the DuckDB hash verification (sweep runs after the "
        "first verified one only need the wall/throughput row)",
    )
    args = ap.parse_args()

    t0 = time.monotonic()
    if not os.path.exists(f"{args.dst}/events.parquet"):
        build_replica(args.src, args.dst, args.n)
        print(f"replica built in {time.monotonic() - t0:.1f}s", flush=True)
    n_events = duckdb.sql(
        f"SELECT count(*) FROM '{args.dst}/events.parquet'"
    ).fetchone()[0]
    print(f"events at {args.n}x: {n_events} rows", flush=True)

    from event_streaming_spark.plans import REGISTRY
    from event_streaming_spark.plans.streaming import (
        streaming_session_window_drain,
    )
    from event_streaming_spark.session import get_spark

    spark = get_spark("streaming-100x")
    metrics: list = []
    t0 = time.monotonic()
    # 8 ts-range waves, each published and drained before the next — the
    # pump enforces event-time arrival order; the shared checkpoint carries
    # session state across the sequential availableNow drains (see the
    # catalog fn's docstring)
    sdf = streaming_session_window_drain(
        spark,
        args.dst,
        metrics=metrics,
        publish_waves=8,
        state_partitions=args.state_partitions,
    )
    srows = [tuple(r) for r in sdf.collect()]
    wall = time.monotonic() - t0
    print(f"drain: {wall:.1f}s total, {len(srows)} sessions, "
          f"{n_events / wall:,.0f} ev/s, {len(metrics)} micro-batches, "
          f"{args.state_partitions} state partitions", flush=True)
    for m in metrics:
        print(f"  batch {m['batch_id']}: {m['wall_s']}s, {m['sessions']} sessions",
              flush=True)

    if args.no_oracle:
        print("oracle: skipped (--no-oracle)", flush=True)
        spark.stop()
        return 0

    con = duckdb.connect()
    for t in _TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{args.dst}/{t}.parquet'")
    rel = con.sql(REGISTRY["streaming_session_window_drain"].oracle)
    sc, sv = normalize(sdf.columns, srows)
    oc, ov = normalize(list(rel.columns), rel.fetchall())
    ok = sc == oc and sv == ov
    print(f"oracle at {args.n}x: {'HASH-VERIFIED' if ok else 'MISMATCH'} "
          f"({len(sv)} vs {len(ov)} rows)", flush=True)
    spark.stop()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
