"""Join-skew stress: measure a hot-key join under forced sort-merge with
(a) AQE skew-join OFF, (b) AQE skew-join ON, (c) explicit salting
(operators/skew.py) — the three strategies a 100 TB deployment chooses
between when the build side is too big to broadcast.

Fixture: N events where HOT_FRACTION of rows share ONE user_id and the
rest spread uniformly; a per-user dim table joined on user_id.
Broadcast is disabled (the at-scale premise) and the AQE skew
thresholds are scaled to the fixture so the same mechanics that fire at
256 MB partitions fire here.

Usage: python tools/skew_bench.py [--rows 4000000] [--users 100000]
Prints a markdown table; paste into BASELINE.md.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from event_streaming_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=4_000_000)
    ap.add_argument("--users", type=int, default=100_000)
    ap.add_argument("--hot-fraction", type=float, default=0.5)
    args = ap.parse_args()

    spark = get_spark("skew-bench")
    spark.sparkContext.setLogLevel("ERROR")
    hot_rows = int(args.rows * args.hot_fraction)

    ev = spark.range(args.rows).select(
        F.col("id").alias("event_id"),
        F.when(F.col("id") < hot_rows, F.lit(42))
        .otherwise((F.xxhash64("id") % args.users + args.users) % args.users)
        .alias("user_id"),
        (F.col("id") % 97).cast("double").alias("value"),
    )
    dim = spark.range(args.users).select(
        F.col("id").alias("user_id"), (F.col("id") % 13).alias("segment")
    )
    ev.write.mode("overwrite").parquet("/tmp/skew-ev")
    dim.write.mode("overwrite").parquet("/tmp/skew-dim")
    ev = spark.read.parquet("/tmp/skew-ev")
    dim = spark.read.parquet("/tmp/skew-dim")

    def joined_plain():
        return (
            ev.join(dim, "user_id")
            .groupBy("segment")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
        )

    def joined_salted():
        from event_streaming_spark.operators.skew import salted_broadcast_left

        return (
            salted_broadcast_left(ev, dim, "user_id", n_salts=32)
            .groupBy("segment")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
        )

    # the at-scale premise: dim too big to broadcast
    base_conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        # scale AQE's skew thresholds to the fixture (defaults fire at
        # 256 MB partitions; the mechanics are identical)
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4m",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2m",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    prev = {k: spark.conf.get(k, None) for k in base_conf}
    prev["spark.sql.adaptive.skewJoin.enabled"] = spark.conf.get(
        "spark.sql.adaptive.skewJoin.enabled"
    )
    for k, v in base_conf.items():
        spark.conf.set(k, v)

    results = {}
    checks = set()
    try:
        for label, skew_on, fn in (
            ("sort-merge, AQE skew-join OFF", "false", joined_plain),
            ("sort-merge, AQE skew-join ON", "true", joined_plain),
            ("explicit salted join (32 salts)", "false", joined_salted),
        ):
            spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skew_on)
            t0 = time.monotonic()
            rows = fn().collect()
            results[label] = time.monotonic() - t0
            checks.add(tuple(sorted((r["segment"], r["n"], round(r["v"], 2)) for r in rows)))
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    assert len(checks) == 1, "strategies disagree on results!"
    print(f"| strategy ({args.rows:,} rows, {args.hot_fraction:.0%} on one key) | wall s |")
    print("|---|---|")
    for label, sec in results.items():
        print(f"| {label} | {sec:.2f} |")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
