"""Targeted tests for the round-10 operators — hand-computed expectations
on engineered fixtures (the differential suite already hash-gates every
query against DuckDB on the driver fixtures; these pin the SEMANTICS on
cases small enough to verify by hand).

* exact-substring spans: a shared 5-token run must merge its three
  overlapping flagged shingle positions into ONE span of 5 tokens.
* session-gap sensitivity: n_sessions(t) = n_users + |gaps > t|,
  boundary-exclusive (a gap equal to the threshold does NOT split).
* DAU/WAU/MAU: trailing-window membership at the edges.
* JS divergence: identical distributions → exactly 0.
* outage profile: a 4-hour hole in one type's hour line; the healthy
  type reports zeros (one row per type ALWAYS).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _write_documents(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).withColumn("n_chars", F.length("text").cast("long"))
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def _write_events(spark, tmp_path, rows):
    df = spark.createDataFrame(
        rows, "event_id long, ts_s string, user_id long, event_type string"
    ).select(
        "event_id",
        F.to_timestamp("ts_s").alias("ts"),
        "user_id",
        "event_type",
        F.lit(1.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    return str(tmp_path)


def test_substring_spans_merge_overlapping_positions(spark, tmp_path):
    from event_streaming_spark.plans.curation import (
        docs_exact_substring_dedup_spans,
    )

    sf = _write_documents(
        spark,
        tmp_path,
        [
            # docs 0 and 1 share the exact 5-token run "a b c d e":
            # flagged shingle positions {1,2,3} (doc 0) / {3,4,5} (doc 1)
            # merge into ONE span of 3-1+3 = 5 tokens each.
            (0, "a b c d e x y z", "en", "s0"),
            (1, "q r a b c d e s", "en", "s1"),
            (2, "u v w m n o p", "en", "s2"),  # nothing shared
        ],
    )
    rows = {
        r["doc_id"]: r.asDict()
        for r in docs_exact_substring_dedup_spans(spark, sf).collect()
    }
    assert rows[0] == {
        "doc_id": 0, "n_tokens": 8, "n_spans": 1,
        "dup_tokens": 5, "dup_token_ppm": 625_000,
    }
    assert rows[1]["n_spans"] == 1 and rows[1]["dup_tokens"] == 5
    assert rows[2] == {
        "doc_id": 2, "n_tokens": 7, "n_spans": 0,
        "dup_tokens": 0, "dup_token_ppm": 0,
    }


def test_session_gap_sensitivity_boundary_exclusive(spark, tmp_path):
    from event_streaming_spark.plans.events import (
        events_session_gap_sensitivity,
    )

    sf = _write_events(
        spark,
        tmp_path,
        [
            # user 1: gaps of exactly 600 s and 7200 s; user 2: no gaps
            (0, "2024-01-01 00:00:00", 1, "view"),
            (1, "2024-01-01 00:10:00", 1, "view"),
            (2, "2024-01-01 02:10:00", 1, "view"),
            (3, "2024-01-01 00:00:00", 2, "view"),
        ],
    )
    rows = {
        r["threshold_s"]: (r["n_sessions"], r["events_per_session_ppm"])
        for r in events_session_gap_sensitivity(spark, sf).collect()
    }
    assert rows[300] == (4, 1_000_000)    # both gaps split
    assert rows[900] == (3, 1_333_333)    # only the 7200 s gap splits
    assert rows[3600] == (3, 1_333_333)
    # boundary: a 7200 s gap does NOT split at threshold 7200 (strict >)
    assert rows[7200] == (2, 2_000_000)


def test_dau_wau_mau_window_edges(spark, tmp_path):
    from event_streaming_spark.plans.events import (
        events_dau_wau_mau_stickiness,
    )

    sf = _write_events(
        spark,
        tmp_path,
        [
            (0, "2024-01-01 08:00:00", 1, "view"),
            (1, "2024-01-10 08:00:00", 1, "view"),
            (2, "2024-01-03 08:00:00", 2, "view"),
        ],
    )
    out = {
        str(r["day"]): (r["dau"], r["wau"], r["mau"], r["stickiness_ppm"])
        for r in events_dau_wau_mau_stickiness(spark, sf).collect()
    }
    assert len(out) == 10  # full spine, including silent days
    assert out["2024-01-01"] == (1, 1, 1, 1_000_000)
    assert out["2024-01-03"] == (1, 2, 2, 500_000)
    # day 8: user 1's day-1 activity fell OUT of the 7-day window
    # (8 - 6 = day 2 > day 1), user 2's day-3 is still in
    assert out["2024-01-08"] == (0, 1, 2, 0)
    assert out["2024-01-10"] == (1, 1, 2, 500_000)


def test_js_divergence_identical_sources_is_zero(spark, tmp_path):
    from event_streaming_spark.plans.curation import (
        text_js_divergence_between_sources,
    )

    sf = _write_documents(
        spark,
        tmp_path,
        [
            (0, "a a b", "en", "sA"),
            (1, "a a b", "en", "sB"),
            (2, "c c d", "en", "sC"),
        ],
    )
    rows = {
        (r["source_a"], r["source_b"]): r
        for r in text_js_divergence_between_sources(spark, sf).collect()
    }
    assert rows[("sA", "sB")]["js_divergence"] == 0.0
    assert rows[("sA", "sB")]["n_shared_words"] == 2
    # pairs with NO shared words carry no join rows (their JS is the
    # trivial maximum ln 2); the matrix lists interacting pairs only —
    # identical behaviour on both engines by construction
    assert ("sA", "sC") not in rows and ("sB", "sC") not in rows


def test_outage_profile_hole_and_healthy_type(spark, tmp_path):
    from event_streaming_spark.plans.events import (
        events_zero_activity_outage_runs,
    )

    rows = []
    eid = 0
    for h in (0, 1, 2, 7, 8):  # type A: 4-hour hole at hours 3-6
        rows.append((eid, f"2024-01-01 0{h}:30:00", 1, "gappy"))
        eid += 1
    for h in range(9):          # type B: continuous
        rows.append((eid, f"2024-01-01 0{h}:15:00", 2, "steady"))
        eid += 1
    sf = _write_events(spark, tmp_path, rows)
    out = {
        r["event_type"]: r.asDict()
        for r in events_zero_activity_outage_runs(spark, sf).collect()
    }
    assert out["gappy"]["grid_hours"] == 9
    assert out["gappy"]["silent_hours"] == 4
    assert out["gappy"]["n_runs"] == 1
    assert out["gappy"]["n_outages"] == 1
    assert out["gappy"]["longest_run_h"] == 4
    assert out["steady"] == {
        "event_type": "steady", "grid_hours": 9, "silent_hours": 0,
        "n_runs": 0, "n_outages": 0, "longest_run_h": 0,
    }


# --- property tests: the two r10 algebraic reductions -----------------------
#
# Style follows tests/test_r9_ops.py's BPE replace identity: pin the
# reduction the SQL relies on against an independent brute-force
# implementation over randomized inputs.

from fractions import Fraction

from hypothesis import given, settings
from hypothesis import strategies as st


def _brute_spans(flagged: set[int], k: int = 3) -> list[tuple[int, int]]:
    """Reference span merge: union of [p, p+k-1] coverage intervals."""
    ivs = sorted((p, p + k - 1) for p in flagged)
    out: list[tuple[int, int]] = []
    for s, e in ivs:
        if out and s <= out[-1][1] + 1:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


def _islands_spans(flagged: set[int], gap: int = 3, k: int = 3):
    """The gaps-and-islands rule both engines run: new span when
    pos - prev > gap; span_tokens = last - first + k."""
    out = []
    cur: list[int] = []
    for p in sorted(flagged):
        if cur and p - cur[-1] > gap:
            out.append((cur[0], cur[-1] + k - 1))
            cur = []
        cur.append(p)
    if cur:
        out.append((cur[0], cur[-1] + k - 1))
    return out


@settings(max_examples=300, deadline=None)
@given(st.sets(st.integers(min_value=1, max_value=60), max_size=25))
def test_span_islands_rule_equals_interval_union(flagged):
    # pos - prev > 3 is EXACTLY "the 3-token coverages stop touching":
    # the SQL islands rule must merge identically to interval union
    assert _islands_spans(flagged) == _brute_spans(flagged)


@settings(max_examples=300, deadline=None)
@given(st.integers(min_value=0, max_value=10**9),
       st.integers(min_value=0, max_value=10**9))
def test_srm_chi2_reduction_identity(a, b):
    # chi2 for a 50/50 GOF with E=(a+b)/2 reduces to (a-b)^2/(a+b);
    # the query relies on this to stay all-integer
    if a + b == 0:
        return
    e = Fraction(a + b, 2)
    chi2_direct = (Fraction(a) - e) ** 2 / e + (Fraction(b) - e) ** 2 / e
    assert chi2_direct == Fraction((a - b) ** 2, a + b)
    # and the alpha=0.001 flag's cross-multiplication agrees with the
    # rational comparison at the 10.828 critical value
    flag_int = (a - b) ** 2 * 1000 > 10828 * (a + b)
    flag_rat = chi2_direct > Fraction(10828, 1000)
    assert flag_int == flag_rat
