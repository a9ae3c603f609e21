"""Unit tests of the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

import json
import os

import pytest

import stats

BENCHMARK = os.path.join(os.path.dirname(__file__), "..", "..", "BENCHMARK.json")


def test_every_declared_metric_has_a_valid_name_and_unit():
    with open(BENCHMARK) as fh:
        bench = json.load(fh)
    names = []
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert stats.NAME_RE.match(m["name"]), m["name"]
        assert stats.UNIT_RE.match(m["unit"]), m
        names.append(m["name"])
    assert len(names) == len(set(names))


@pytest.mark.parametrize(
    "metrics",
    [
        {"bad name": {"value": 1.0, "unit": "s"}},
        {".starts_with_dot": {"value": 1.0, "unit": "s"}},
        {"x": {"value": 1.0}},
        {"x": {"value": 1.0, "unit": "no spaces"}},
        {"x": {"value": float("nan"), "unit": "s"}},
        {"x": {"value": None, "unit": "s"}},
    ],
)
def test_check_metrics_rejects(metrics):
    with pytest.raises(ValueError):
        stats.check_metrics(metrics)


def test_check_metrics_accepts_layer_names():
    stats.check_metrics({
        "plans.text_textrank_keyphrases.driver_only_s": {"value": 0.5, "unit": "s"},
        "streaming.state.memory_bytes": {"value": 10, "unit": "B"},
        "error_rate": {"value": 0.0, "unit": "ratio"},
    })


def test_result_lag_from_synthetic_commit_log():
    # events 0-1 read by batch 0, event 2 by batch 1 (whose merge failed and
    # so never committed), event 3 by batch 2, event 4 never read
    due = {0: 10.0, 1: 10.5, 2: 11.0, 3: 12.0, 4: 12.5}
    batch_of = {0: 0, 1: 0, 2: 1, 3: 2}
    commits = {0: 12.0, 2: 15.0}
    lags, missing = stats.result_lags(due, batch_of, commits)
    # event 2 becomes visible with batch 2's commit, the first one after it
    assert sorted(lags) == [1.5, 2.0, 3.0, 4.0]
    assert missing == [4]


def test_commit_visibility_is_monotone_when_commits_finish_out_of_order():
    # batch 1 committed before batch 0: batch 0's events are visible no
    # later than batch 0's own commit, and batch 1's no earlier than its own
    assert stats.commit_time_by_batch({0: 5.0, 1: 4.0}) == {0: 4.0, 1: 4.0}


def test_backlog_max_counts_acked_but_invisible_events():
    acks = [1.0, 1.1, 1.2, 3.0, 3.1]
    # commit at t=2 makes 3 events visible, at t=4 the other 2
    assert stats.backlog_max(acks, [(2.0, 3), (4.0, 2)]) == 3
    assert stats.backlog_max(acks, [(5.0, 5)]) == 5


def test_quantiles_and_geomean():
    assert stats.quantile([3.0, 1.0, 2.0], 0.5) == 2.0
    assert stats.quantile([1.0, 2.0], 0.5) == 1.5
    assert stats.quantile([1.0, 2.0, 3.0, 4.0, 5.0], 0.99) == pytest.approx(4.96)
    assert stats.geomean([1.0, 4.0]) == pytest.approx(2.0)


def test_error_rate_counts_a_forced_wrong_answer():
    cols = ["k", "v"]
    want = [(1, 0.1), (2, 0.2)]
    tally = stats.Tally()
    for got in ([(2, 0.2), (1, 0.1)], [(1, 0.1), (2, 0.2000000001)], [(1, 0.1)]):
        diff = stats.compare_answers(cols, got, cols, want)
        if diff is None:
            tally.ok()
        else:
            tally.fail(diff)
    assert (tally.attempted, tally.failed) == (3, 2)
    assert tally.error_rate == pytest.approx(2 / 3)
    assert "first differing row" in tally.causes[0]
    assert "row count" in tally.causes[1]


def test_answer_normal_form_ignores_row_and_column_order_only():
    got = (["b", "a"], [(1, "x"), (2, "y")])
    assert stats.compare_answers(*got, ["a", "b"], [("y", 2), ("x", 1)]) is None
    assert stats.compare_answers(*got, ["a", "b"], [("y", 2.0), ("x", 1)]) is not None
    assert stats.compare_answers(["a"], [(1,)], ["b"], [(1,)]).startswith("columns differ")
