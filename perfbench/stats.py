"""Pure helpers of the benchmark: statistics, answer canonicalisation,
result lag, failure accounting and the metric-name grammar.

Nothing here imports Spark, so the unit tests run in a bare interpreter.
"""

from __future__ import annotations

import math
import re
from datetime import date, datetime
from decimal import Decimal

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile, ``q`` in [0, 1]."""
    if not values:
        raise ValueError("quantile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return quantile(values, 0.5)


def geomean(values: list[float]) -> float:
    if not values or min(values) <= 0:
        raise ValueError("geomean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


# -- answer canonicalisation ---------------------------------------------------
# Same normal form as the repository's DuckDB oracle gate: columns sorted
# by name, each cell rendered strictly (repr of floats), rows sorted.  The
# benchmark keeps its own copy so that its answer check cannot loosen when
# the tool changes.


def norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def canonical(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[str]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], sorted(
        "|".join(norm_cell(r[i]) for i in order) for r in rows
    )


def compare_answers(got_cols, got_rows, want_cols, want_rows) -> str | None:
    """None when equal, else a one-line description of the first difference."""
    gc, gv = canonical(got_cols, got_rows)
    wc, wv = canonical(want_cols, want_rows)
    if gc != wc:
        return f"columns differ: got {gc} want {wc}"
    if len(gv) != len(wv):
        return f"row count: got {len(gv)} want {len(wv)}"
    for a, b in zip(gv, wv):
        if a != b:
            return f"first differing row: got {a[:120]!r} want {b[:120]!r}"
    return None


# -- streaming result lag --------------------------------------------------------


def commit_time_by_batch(commits: dict[int, float]) -> dict[int, float]:
    """Time at which each batch's effects became visible: the earliest
    commit of that batch or of any later one (a batch whose merge did not
    commit becomes visible with the next committed batch)."""
    out: dict[int, float] = {}
    best = math.inf
    for b in sorted(commits, reverse=True):
        best = min(best, commits[b])
        out[b] = best
    return out


def result_lags(
    due: dict[int, float], batch_of: dict[int, int], commits: dict[int, float]
) -> tuple[list[float], list[int]]:
    """Per-event lag from its due time to the commit of the first store
    version containing it.  ``due``: event id → scheduled send time;
    ``batch_of``: event id → micro-batch that read it; ``commits``:
    batch id → commit time.  Returns (lags, ids never committed)."""
    visible = commit_time_by_batch(commits)
    lags, missing = [], []
    for eid, t in due.items():
        b = batch_of.get(eid)
        later = [visible[x] for x in visible if b is not None and x >= b]
        if b is None or not later:
            missing.append(eid)
        else:
            lags.append(min(later) - t)
    return lags, missing


def backlog_max(acks: list[float], commit_counts: list[tuple[float, int]]) -> int:
    """Largest number of acked events not yet visible, sampled at each
    commit.  ``acks``: ack time per event; ``commit_counts``: (commit time,
    events made visible by that commit)."""
    worst = 0
    acked_sorted = sorted(acks)
    visible = 0
    i = 0
    for t, n in sorted(commit_counts):
        while i < len(acked_sorted) and acked_sorted[i] <= t:
            i += 1
        worst = max(worst, i - visible)
        visible += n
    return worst


# -- failure accounting -------------------------------------------------------------


class Tally:
    """Operations attempted and failed, with the cause of every failure."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.causes: list[str] = []

    def ok(self, n: int = 1) -> None:
        self.attempted += n

    def fail(self, cause: str, n: int = 1) -> None:
        self.attempted += n
        self.failed += n
        self.causes.append(cause)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


def check_metrics(metrics: dict[str, dict]) -> None:
    """Raise unless every metric has a valid name, a unit and a finite value."""
    for name, m in metrics.items():
        if not NAME_RE.match(name):
            raise ValueError(f"bad metric name {name!r}")
        if not UNIT_RE.match(str(m.get("unit", ""))):
            raise ValueError(f"metric {name} has no valid unit: {m.get('unit')!r}")
        v = m.get("value")
        if isinstance(v, bool) or not isinstance(v, (int, float)) or not math.isfinite(v):
            raise ValueError(f"metric {name} has a non-numeric value {v!r}")
