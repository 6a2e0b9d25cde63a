"""Spark event log -> per-span task, stage and job counters.

The traced run tags every Spark job with the id of the benchmark span that
was open when the job ran (local property ``perfbench.span``, next to the
span's layer name as the job group).  This module reads the event log that
Spark writes at session stop and attributes jobs, stages and tasks to those
span ids, so a layer's counters are the sum over its spans.

Only standard listener events are read (``SparkListenerJobStart/End``,
``SparkListenerStageSubmitted``, ``SparkListenerTaskEnd``) from an
uncompressed log, so the parser needs nothing beyond the standard library.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

SPAN_PROP = "perfbench.span"
MB = 1024.0 * 1024.0


@dataclass
class Task:
    stage: int
    duration_ms: int
    run_ms: int
    gc_ms: int
    shuffle_read: int
    shuffle_write: int
    spill: int
    peak_mem: int
    failed: bool


@dataclass
class Job:
    span: str | None
    submit_ms: int
    end_ms: int | None = None


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)  # job id -> Job
    stage_span: dict = field(default_factory=dict)  # stage id -> span id
    tasks: list = field(default_factory=list)


def event_files(log_dir: str, app_id: str) -> list:
    """The event-log files of one application, in write order: either a
    single ``<app_id>`` file or a rolling ``eventlog_v2_<app_id>`` dir."""
    single = os.path.join(log_dir, app_id)
    if os.path.isfile(single):
        return [single]
    rolled = os.path.join(log_dir, f"eventlog_v2_{app_id}")
    if not os.path.isdir(rolled):
        raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")
    names = [n for n in os.listdir(rolled) if n.startswith("events_")]
    return [os.path.join(rolled, n) for n in sorted(names, key=lambda n: int(n.split("_")[1]))]


def parse(paths: list) -> EventLog:
    log = EventLog()
    for path in paths:
        with open(path, encoding="utf-8", errors="replace") as fh:
            for line in fh:
                _apply(log, json.loads(line))
    return log


def _apply(log: EventLog, ev: dict) -> None:
    kind = ev.get("Event")
    if kind == "SparkListenerJobStart":
        span = (ev.get("Properties") or {}).get(SPAN_PROP)
        log.jobs[ev["Job ID"]] = Job(span, ev["Submission Time"])
    elif kind == "SparkListenerJobEnd":
        job = log.jobs.get(ev["Job ID"])
        if job is not None:
            job.end_ms = ev["Completion Time"]
    elif kind == "SparkListenerStageSubmitted":
        span = (ev.get("Properties") or {}).get(SPAN_PROP)
        log.stage_span[ev["Stage Info"]["Stage ID"]] = span
    elif kind == "SparkListenerTaskEnd":
        info = ev.get("Task Info") or {}
        m = ev.get("Task Metrics") or {}
        rd = m.get("Shuffle Read Metrics") or {}
        wr = m.get("Shuffle Write Metrics") or {}
        log.tasks.append(
            Task(
                stage=ev["Stage ID"],
                duration_ms=info.get("Finish Time", 0) - info.get("Launch Time", 0),
                run_ms=m.get("Executor Run Time", 0),
                gc_ms=m.get("JVM GC Time", 0),
                shuffle_read=rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
                shuffle_write=wr.get("Shuffle Bytes Written", 0),
                spill=m.get("Disk Bytes Spilled", 0),
                peak_mem=m.get("Peak Execution Memory", 0),
                failed=bool(info.get("Failed")) or (ev.get("Task End Reason") or {}).get("Reason") != "Success",
            )
        )


def _union_ms(intervals: list) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def stats(log: EventLog, span_ids: set, window: tuple | None = None) -> dict:
    """Counters of the jobs, stages and tasks tagged with any of ``span_ids``.

    ``window`` = (start_ms, end_ms) of the enclosing span adds
    ``driver_idle_s``: the part of the window in which no job of the whole
    application was running, i.e. the driver-side cost between jobs."""
    jobs = [j for j in log.jobs.values() if j.span in span_ids]
    stage_ids = {s for s, sp in log.stage_span.items() if sp in span_ids}
    tasks = [t for t in log.tasks if t.stage in stage_ids]
    durs = [t.duration_ms for t in tasks if not t.failed]
    med = statistics.median(durs) if durs else 0.0
    out = {
        "jobs": len(jobs),
        "stages": len(stage_ids),
        "tasks": len(tasks),
        "failed_tasks": sum(t.failed for t in tasks),
        "task_s": sum(t.run_ms for t in tasks) / 1000.0,
        "gc_s": sum(t.gc_ms for t in tasks) / 1000.0,
        "shuffle_read_mb": sum(t.shuffle_read for t in tasks) / MB,
        "shuffle_write_mb": sum(t.shuffle_write for t in tasks) / MB,
        "spill_mb": sum(t.spill for t in tasks) / MB,
        "peak_exec_mem_mb": max((t.peak_mem for t in tasks), default=0) / MB,
        "max_task_over_median": (max(durs) / med) if med > 0 else 0.0,
    }
    if window is not None:
        lo, hi = window
        busy = [
            (max(j.submit_ms, lo), min(j.end_ms, hi))
            for j in log.jobs.values()
            if j.end_ms is not None and j.end_ms > lo and j.submit_ms < hi
        ]
        out["driver_idle_s"] = max(0.0, (hi - lo) - _union_ms(busy)) / 1000.0
    return out
