"""Generate QUERIES.md — the catalog index (name, tags, oracle, bench).

Auto-generated so it can never drift from REGISTRY; rerun after adding
queries: python tools/gen_queries_md.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from event_streaming_spark.plans import REGISTRY  # noqa: E402


def main() -> None:
    paired = sum(1 for q in REGISTRY.values() if q.oracle is not None)
    lines = [
        "# QUERIES — the catalog index (auto-generated)",
        "",
        f"{len(REGISTRY)} queries; {paired} DuckDB-oracle-paired "
        f"({len(REGISTRY) - paired} rows-only); "
        f"{sum(1 for q in REGISTRY.values() if q.bench)} in the bench headline set.",
        "",
        "Registration order = driver grading order (see plans/__init__.py).",
        "",
        "| # | query | tags | oracle | bench |",
        "|---|---|---|---|---|",
    ]
    for i, (name, q) in enumerate(REGISTRY.items(), 1):
        lines.append(
            f"| {i} | `{name}` | {', '.join(q.tags)} | "
            f"{'paired' if q.oracle is not None else 'rows-only'} | "
            f"{'yes' if q.bench else ''} |"
        )
    with open(os.path.join(REPO, "QUERIES.md"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote QUERIES.md ({len(REGISTRY)} rows)")


if __name__ == "__main__":
    main()
