"""Driver simulation with a HOSTILE session — the verify probe from
.claude/skills/verify/SKILL.md as a reproducible tool.

The driver hands query callables ITS OWN SparkSession: vanilla configs,
non-UTC timezone, its own shuffle-partition count.  Every catalog entry
must behave identically there — `tune_session` inside the catalog
wrapper repins session timezone and the nanos-as-long parquet flag per
call.  This tool builds exactly that kind of session and runs
entry() plus a sample (or all) of the registered queries through it.

Usage:
  python tools/driver_sim.py                 # entry + a representative sample
  python tools/driver_sim.py --all           # every registered query
  python tools/driver_sim.py q1_pricing_summary versioned_time_travel_merge
"""

from __future__ import annotations

import argparse
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SAMPLE = [
    "q1_pricing_summary",            # TPC sweep
    "events_time_formatting",        # timezone-sensitive
    "events_mad_outliers",           # group-rank re-plan
    "emb_ivf_pq_search",             # ANN two-stage top-k
    "docs_edit_distance_near_dup",   # LSH + levenshtein composition
    "versioned_time_travel_merge",   # storage evolution
    "binary_column_metadata",        # multimodal surface
    "events_weighted_median_distributed",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.session.timeZone", "America/New_York")
        .config("spark.sql.shuffle.partitions", "7")
        .appName("driver-sim")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e

    rows = e.entry(spark)
    n = len(rows.collect())
    print(f"entry(): {n} rows, schema {[f.name for f in rows.schema.fields]}")
    assert n >= 0

    qs = e.queries()
    names = args.queries or (list(qs) if args.all else [q for q in SAMPLE if q in qs])
    failures = 0
    for name in names:
        t0 = time.monotonic()
        try:
            cnt = len(qs[name](spark, args.sf_dir).collect())
            print(f"PASS  {name} ({cnt} rows, {time.monotonic() - t0:.1f}s)")
        except Exception as exc:  # noqa: BLE001 - report and count
            failures += 1
            print(f"FAIL  {name}: {type(exc).__name__}: {exc}")
    spark.stop()
    print(f"\n{len(names) - failures}/{len(names)} passed under the hostile session")
    return failures


if __name__ == "__main__":
    sys.exit(main())
