"""Differential checker: run every catalog query on Spark AND its oracle on
DuckDB, compare row count / column names / order-insensitive values.

Mimics (strictly) the driver's t2 correctness gate so failures surface
here first.  Usage:

    python tools/check_oracle.py [sf_dir] [query ...]

Exit code = number of failing queries.
"""

from __future__ import annotations

import math
import os
import sys
import time
from datetime import date, datetime
from decimal import Decimal

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from event_streaming_spark.plans.catalog import TABLES  # noqa: E402


def norm_cell(v) -> str:
    """Strict canonical string for a cell (stricter than any sane hasher)."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def normalize(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[str]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    sorted_cols = [cols[i] for i in order]
    out = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    return sorted_cols, out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from event_streaming_spark.plans import REGISTRY
    from event_streaming_spark.session import get_spark

    spark = get_spark(app_name="check-oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    repeat = os.environ.get("CHECK_ORACLE_REPEAT") == "1"
    failures = 0
    names = [n for n in REGISTRY if not only or n in only]
    for name in names:
        q = REGISTRY[name]
        t0 = time.monotonic()
        try:
            sdf = q.fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        if repeat:
            # determinism guard: a re-run must produce the identical multiset
            # (catches partition-order-dependent results before the driver's
            # hash gate does)
            sdf2 = q.fn(spark, sf_dir)
            _, v1 = normalize(scols, [tuple(r) for r in srows])
            _, v2 = normalize(sdf2.columns, [tuple(r) for r in sdf2.collect()])
            if v1 != v2:
                print(f"FAIL  {name}: NONDETERMINISTIC across runs")
                failures += 1
                continue
        spark_s = time.monotonic() - t0
        if q.oracle is None:
            print(f"ok?   {name}: rows-only ({len(srows)} rows, {spark_s:.1f}s) — no oracle")
            continue
        try:
            rel = con.sql(q.oracle)
            ocols = list(rel.columns)
            orows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures += 1
            continue
        sc, sv = normalize(scols, [tuple(r) for r in srows])
        oc, ov = normalize(ocols, orows)
        if sc != oc:
            print(f"FAIL  {name}: columns differ spark={sc} duck={oc}")
            failures += 1
            continue
        if len(sv) != len(ov):
            print(f"FAIL  {name}: rowcount spark={len(sv)} duck={len(ov)}")
            failures += 1
            continue
        if sv != ov:
            bad = [(a, b) for a, b in zip(sv, ov) if a != b][:3]
            print(f"FAIL  {name}: value mismatch; first diffs (spark vs duck):")
            for a, b in bad:
                print(f"      S {a}\n      D {b}")
            failures += 1
            continue
        print(f"PASS  {name} ({len(sv)} rows, spark {spark_s:.1f}s)")

    print(f"\n{len(names) - failures}/{len(names)} passed")
    return failures


if __name__ == "__main__":
    raise SystemExit(main())
