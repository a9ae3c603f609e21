"""Spark event-log reader for the traced run.

The traced run starts Spark with ``spark.eventLog.enabled=true``,
``spark.eventLog.compress=false`` and rolling on, so one application
writes a directory ``eventlog_v2_<app>/`` holding numbered parts
``events_<n>_<app>`` plus an ``appstatus_<app>`` marker that is empty.
Every ``events_*`` part is read in part order and ``appstatus_*`` is
skipped; reading the marker alone yields zero events, which is the
failure this module refuses to return silently.

Times in the log are epoch milliseconds; everything here converts them to
epoch seconds so they line up with the benchmark's ``time.time()`` spans.
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

_PART = re.compile(r"^events_(\d+)_")
_COMPRESSED = (".zstd", ".lz4", ".snappy", ".lzf", ".gz", ".zst")


class EventLogError(RuntimeError):
    """The event log is missing, compressed, or holds no events."""


def log_parts(root: str) -> list[str]:
    """Every event-log file under ``root``, in the order Spark wrote them.

    Rolled parts (``events_<n>_*``) sort by ``n``; a non-rolled log is a
    single file named after the application.  ``appstatus_*`` markers and
    in-progress temp files of other kinds are never returned."""
    parts: list[tuple[int, str]] = []
    plain: list[str] = []
    for dirpath, _, names in os.walk(root):
        for name in names:
            path = os.path.join(dirpath, name)
            if name.startswith("appstatus_") or name.startswith("."):
                continue
            if name.endswith(_COMPRESSED):
                raise EventLogError(
                    f"compressed event log {path}: run with spark.eventLog.compress=false"
                )
            m = _PART.match(name)
            if m:
                parts.append((int(m.group(1)), path))
            elif os.path.basename(dirpath) == os.path.basename(root.rstrip("/")):
                plain.append(path)
    return [p for _, p in sorted(parts)] + sorted(plain)


def read_events(root: str) -> list[dict]:
    """All listener events under ``root``; raises when there are none."""
    events: list[dict] = []
    files = log_parts(root)
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    if not events:
        raise EventLogError(f"no events read from {root} (files: {files})")
    return events


@dataclass
class Stage:
    id: int
    name: str = ""
    group: str | None = None
    tasks: int = 0
    task_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class Job:
    id: int
    start: float
    end: float | None = None
    group: str | None = None
    call_site: str = ""
    stage_names: list[str] = field(default_factory=list)


def parse(events: list[dict]) -> tuple[dict[int, Job], dict[int, Stage]]:
    """Jobs and stages with task totals, keyed by id."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = Job(
                id=ev["Job ID"],
                start=ev["Submission Time"] / 1000.0,
                group=props.get("spark.jobGroup.id"),
                call_site=props.get("callSite.short", ""),
                stage_names=[s.get("Stage Name", "") for s in ev.get("Stage Infos") or []],
            )
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job.end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"], info.get("Stage Name", "")))
            st.group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(ev["Stage ID"], Stage(ev["Stage ID"]))
            _add_task(st, ev)
    return jobs, stages


def _add_task(st: Stage, ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    st.tasks += 1
    st.task_s += m.get("Executor Run Time", 0) / 1000.0
    st.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
    st.gc_s += m.get("JVM GC Time", 0) / 1000.0
    rd = m.get("Shuffle Read Metrics") or {}
    st.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
    st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def job_time_in(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Part of [start, end] during which at least one job ran."""
    clipped = [(max(s, start), min(e, end)) for s, e in intervals]
    return union_length([(s, e) for s, e in clipped if e > s])


def driver_only(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Span wall minus the union of the job intervals inside it."""
    return (end - start) - job_time_in(start, end, intervals)
