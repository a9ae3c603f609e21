"""Dump `.explain("formatted")` of catalog queries.

An inspectable artifact of the physical plans: pushed filters, pruned
read schemas, join strategies, exchange placement — reviewable without
running Spark:

    python tools/dump_plans.py --out plans/<tag> --suffix before|after [--sf DIR] query...

writes one file per query, <out>/<query>_<suffix>.txt — a change's
before/after plan evidence (run once on each tree).  A query that
localizes its result (streaming drains, tempdir-backed index searches)
returns just the collected rows, so it also deposits its scale-relevant
internal plans through ``catalog.capture_plan``; each is written as
<out>/<label>_<suffix>.txt.

The package is imported from the tree this script lives in.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from __spark_entry__ import SF0001  # noqa: E402
from event_streaming_spark.plans import REGISTRY, catalog  # noqa: E402
from event_streaming_spark.session import get_spark  # noqa: E402

DEFAULT_SF = os.path.join(os.path.dirname(SF0001), "sf0.1")


def plans_of(spark, name: str, sf: str) -> dict[str, str]:
    """``{name: result plan, <label>: captured plan, ...}`` for one query."""
    catalog.PLAN_SINK = {}
    try:
        df = REGISTRY[name].fn(spark, sf)
        captured = dict(catalog.PLAN_SINK)
    finally:
        catalog.PLAN_SINK = None
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return {name: buf.getvalue(), **captured}


def dump_subset(out_dir: str, suffix: str, names: list[str], sf: str) -> None:
    spark = get_spark(app_name=f"dump-plans-{suffix}")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        for label, plan in plans_of(spark, name, sf).items():
            path = os.path.join(out_dir, f"{label}_{suffix}.txt")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as fh:
                fh.write(f"# {label} — explain('formatted'), {suffix} (<sf> = the {os.path.basename(sf)} tables)\n\n")
                fh.write(plan.replace(os.path.abspath(sf), "<sf>"))
            print("wrote", path, file=sys.stderr)
    spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--suffix", required=True)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF))
    ap.add_argument("queries", nargs="+")
    a = ap.parse_args()
    dump_subset(a.out, a.suffix, a.queries, a.sf)


if __name__ == "__main__":
    main()
