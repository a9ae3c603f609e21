import json

import pytest

import eventlog


def _write(path, events):
    path.write_text("".join(json.dumps(e) + "\n" for e in events))


def _job(jid, start_ms, end_ms, group, stages=(), names=(), call_site=""):
    props = {"spark.jobGroup.id": group, "callSite.short": call_site}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": start_ms,
         "Stage IDs": list(stages),
         "Stage Infos": [{"Stage ID": s, "Stage Name": n} for s, n in zip(stages, names)],
         "Properties": props},
        *({"Event": "SparkListenerStageSubmitted", "Properties": props,
           "Stage Info": {"Stage ID": s, "Stage Name": n}} for s, n in zip(stages, names)),
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end_ms,
         "Job Result": {"Result": "JobSucceeded"}},
    ]


def _task(stage, run_ms):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6,
                             "JVM GC Time": 1,
                             "Shuffle Read Metrics": {"Remote Bytes Read": 5, "Local Bytes Read": 6},
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
                             "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 3}}


@pytest.fixture
def rolled_log(tmp_path):
    """One application's rolled log: an empty appstatus marker and two parts."""
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    (app / "appstatus_local-1.inprogress").write_text("")
    # part 2 sorts before part 10 only if parts are ordered numerically
    _write(app / "events_2_local-1", _job(1, 3000, 4000, "span-1", [1], ["localCheckpoint at x.py:1"])
           + [_task(1, 400)])
    _write(app / "events_1_local-1", [{"Event": "SparkListenerApplicationStart"}]
           + _job(0, 1000, 2000, "span-0", [0], ["collect at y.py:2"],
                  call_site="collect at /w/event_streaming_spark/operators/graph.py:9")
           + [_task(0, 500), _task(0, 250)])
    _write(app / "events_10_local-1", _job(2, 5000, 5500, None))
    return tmp_path


def test_reads_every_rolled_part_in_order_and_skips_appstatus(rolled_log):
    parts = eventlog.log_parts(str(rolled_log))
    assert [p.rsplit("/", 1)[1] for p in parts] == [
        "events_1_local-1", "events_2_local-1", "events_10_local-1"]
    jobs, stages = eventlog.parse(eventlog.read_events(str(rolled_log)))
    assert sorted(jobs) == [0, 1, 2]
    assert jobs[0].group == "span-0" and (jobs[0].start, jobs[0].end) == (1.0, 2.0)
    assert "event_streaming_spark/operators/" in jobs[0].call_site
    assert jobs[1].stage_names == ["localCheckpoint at x.py:1"]
    assert stages[0].group == "span-0" and stages[1].group == "span-1"
    assert stages[0].tasks == 2 and stages[0].task_s == pytest.approx(0.75)
    assert stages[0].task_cpu_s == pytest.approx(0.75)
    assert stages[0].shuffle_read_bytes == 22 and stages[0].spill_bytes == 6
    assert stages[1].task_s == pytest.approx(0.4)


def test_appstatus_alone_is_an_error_not_zero_jobs(tmp_path):
    app = tmp_path / "eventlog_v2_local-2"
    app.mkdir()
    (app / "appstatus_local-2").write_text("")
    with pytest.raises(eventlog.EventLogError):
        eventlog.read_events(str(tmp_path))


def test_compressed_log_is_refused(tmp_path):
    (tmp_path / "local-3.zstd").write_bytes(b"\x28\xb5\x2f\xfd")
    with pytest.raises(eventlog.EventLogError):
        eventlog.log_parts(str(tmp_path))


def test_single_file_log(tmp_path):
    _write(tmp_path / "local-4", _job(0, 0, 10, "g"))
    jobs, _ = eventlog.parse(eventlog.read_events(str(tmp_path)))
    assert list(jobs) == [0]


def test_driver_only_time_with_overlapping_jobs():
    # span [0, 10]; jobs [1, 3] and [2, 5] overlap, [4, 6] chains on, [9, 12]
    # runs past the span end, [-2, 0.5] started before it
    jobs = [(1.0, 3.0), (2.0, 5.0), (4.0, 6.0), (9.0, 12.0), (-2.0, 0.5)]
    assert eventlog.union_length(jobs) == pytest.approx(5.0 + 3.0 + 2.5)
    assert eventlog.job_time_in(0.0, 10.0, jobs) == pytest.approx(5.0 + 1.0 + 0.5)
    assert eventlog.driver_only(0.0, 10.0, jobs) == pytest.approx(3.5)
    assert eventlog.driver_only(0.0, 10.0, []) == pytest.approx(10.0)
    assert eventlog.driver_only(6.5, 8.5, jobs) == pytest.approx(2.0)
