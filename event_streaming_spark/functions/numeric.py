"""Deterministic numeric aggregation helpers.

Why these exist: double-precision SUM/AVG are not associative, so a
parallel Spark aggregation and a single-threaded oracle (DuckDB) can
differ in the last bits — enough to break a value-hash comparison and,
at 100 TB, enough to make reruns non-reproducible.  The fix is exact
fixed-point accumulation: make each row's contribution an INTEGER
(deterministic per-row), sum exactly (order no longer matters), convert
back once at the end.

``exact_sum`` is scaled-long — ``sum(round(x·10⁶)::long)/10⁶``.  It
stays inside whole-stage codegen (long arithmetic), ~2.5× faster than a
decimal accumulation.  Domain bound: the scaled sum must fit int64, i.e.
Σ|x| < 2⁶³/10⁶ ≈ 9.2·10¹².  True by >6 orders of magnitude for every
test SF.

The matching ANSI-SQL fragments for the DuckDB oracle are produced by
``sql_exact_sum`` / ``sql_exact_avg`` so the Spark plan and the oracle
are generated from one definition.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: fixed-point scale: 6 decimal digits
_S = 1_000_000


def _as_col(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _scaled_long_sum(c: Column) -> Column:
    # per-row double ops are IEEE-deterministic; the long sum is exact
    return F.sum(F.round(c * _S).cast("long"))


def exact_sum(col: Column | str, round_to: int = 2) -> Column:
    """Order-independent SUM of a double expression (see module doc)."""
    return F.round(_scaled_long_sum(_as_col(col)) / _S, round_to)


def exact_avg(col: Column | str, round_to: int = 6) -> Column:
    """Order-independent AVG: exact scaled sum / count, rounded."""
    c = _as_col(col)
    return F.round(_scaled_long_sum(c) / _S / F.count(c), round_to)


def sql_exact_sum(expr: str, round_to: int = 2) -> str:
    """DuckDB fragment identical to :func:`exact_sum`."""
    return (
        f"round(cast(sum(cast(round(({expr}) * 1e6) as bigint)) as double)"
        f" / 1e6, {round_to})"
    )


def sql_exact_avg(expr: str, round_to: int = 6) -> str:
    """DuckDB fragment identical to :func:`exact_avg`."""
    return (
        f"round(cast(sum(cast(round(({expr}) * 1e6) as bigint)) as double)"
        f" / 1e6 / count(({expr})), {round_to})"
    )


# Vector kernels.  Each is built from ONE SQL string through ``F.expr``:
# a Python-lambda higher-order function costs tens of milliseconds of
# py4j round trips to build, the parsed string under one, and both give
# the same Catalyst expression.  Arguments are SQL column references
# (``"embedding"``, ``"p.qv"``), spliced into the SQL unquoted.

def _sum_sql(arr: str) -> str:
    """Left-to-right double fold of an array<double>."""
    return f"aggregate({arr}, 0.0D, (acc, x) -> acc + x)"


def _dot_sql(a: str, b: str) -> str:
    return _sum_sql(f"zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double))")


def _l2_norm_sql(a: str) -> str:
    squares = f"transform({a}, x -> cast(x as double) * cast(x as double))"
    return f"sqrt({_sum_sql(squares)})"


def dot(a: str, b: str) -> Column:
    """Double-precision dot product of two float-array columns, folded
    left-to-right (deterministic) entirely JVM-side — the in-order loop
    the oracle runs."""
    return F.expr(_dot_sql(a, b))


def l2_norm(a: str) -> Column:
    """Euclidean norm of a float-array column: the square root of the
    left-to-right double fold of its squares."""
    return F.expr(_l2_norm_sql(a))


def cosine(a: str, b: str) -> Column:
    """Cosine similarity of two float-array columns (double math): the
    same folds as :func:`dot` and :func:`l2_norm`."""
    return F.expr(f"{_dot_sql(a, b)} / ({_l2_norm_sql(a)} * {_l2_norm_sql(b)})")


# ---------------------------------------------------------------------------
# Exact order statistics (see DESIGN.md "order statistics" section):
# type-7 linear interpolation computed from exact integers so Spark and
# the oracle agree bitwise — engine-native percentile interpolation
# diverges by an ulp on large-magnitude values.
# ---------------------------------------------------------------------------


def exact_pct_agg(p: int, round_to: int = 6) -> Column:
    """Aggregate Column for the p-th percentile (type-7) over rows that
    carry ``val`` (integer), ``rv`` (1-based rank by val within the
    group) and ``n`` (group size) — produced by a rank window.  With
    t = (n-1)·p: result = (val[t div 100]·(100-f) + val[t div 100 + 1]·f)/100,
    f = t mod 100 — exact int64 numerator, one division."""
    lo = F.max(F.when(F.expr(f"rv - 1 = ((n - 1) * {p}) div 100"), F.col("val")))
    hi = F.max(F.when(F.expr(f"rv - 1 = ((n - 1) * {p}) div 100 + 1"), F.col("val")))
    f_ = F.max(F.expr(f"((n - 1) * {p}) % 100"))
    return F.round((lo * (100 - f_) + F.coalesce(hi, lo) * f_) / 100.0, round_to)


def sql_exact_pct_agg(p: int, round_to: int = 6) -> str:
    """DuckDB twin of :func:`exact_pct_agg` (same rv/n/val contract)."""
    lo = f"max(CASE WHEN rv - 1 = ((n - 1) * {p}) // 100 THEN val END)"
    hi = f"max(CASE WHEN rv - 1 = ((n - 1) * {p}) // 100 + 1 THEN val END)"
    f_ = f"max(((n - 1) * {p}) % 100)"
    return f"round(({lo} * (100 - {f_}) + coalesce({hi}, {lo}) * {f_}) / 100.0, {round_to})"
