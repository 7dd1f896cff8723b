"""Fold Spark's JSON event log by job group.

The benchmark tags each public call with `setJobGroup`; Spark records
the group in every job's properties. This module reads the event log
after the session stops and folds task metrics by group, so each
group's wall splits into time covered by Spark jobs and the driver
gap between them.
"""

from __future__ import annotations

import json
from collections import defaultdict
from pathlib import Path

# Spark 4 compresses (zstd) and rolls event logs by default; both are
# turned off so the log is one plain JSON-lines file per application.
EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

TASK_FIELDS = (
    "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "peak_exec_mem_bytes",
)


def event_log_conf(log_dir: Path) -> dict:
    log_dir.mkdir(parents=True, exist_ok=True)
    return {**EVENT_LOG_CONF, "spark.eventLog.dir": log_dir.resolve().as_uri()}


def read_events(log_dir: Path) -> list[dict]:
    """Events of every finished application log in `log_dir`."""
    events = []
    for p in sorted(log_dir.iterdir()):
        if p.name.endswith(".inprogress") or not p.is_file():
            continue
        with open(p) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _group_of(ev: dict) -> str | None:
    return (ev.get("Properties") or {}).get("spark.jobGroup.id")


def job_spans(events: list[dict]) -> dict[str | None, list[tuple[float, float]]]:
    """group id -> (submission, completion) epoch seconds of its jobs."""
    start: dict[int, tuple[str | None, float]] = {}
    spans: dict[str | None, list] = defaultdict(list)
    for ev in events:
        if ev.get("Event") == "SparkListenerJobStart":
            start[ev["Job ID"]] = (_group_of(ev), ev["Submission Time"] / 1e3)
        elif ev.get("Event") == "SparkListenerJobEnd" and ev["Job ID"] in start:
            group, t0 = start[ev["Job ID"]]
            spans[group].append((t0, ev["Completion Time"] / 1e3))
    return spans


def fold(events: list[dict]) -> dict[str | None, dict]:
    """group id -> {jobs, tasks, job_wall_s, <TASK_FIELDS>}.

    job_wall_s is the length of the union of the group's job intervals
    (jobs of one group may overlap, e.g. broadcast sub-jobs). Jobs
    submitted outside any group fold under the key None."""
    stage_group: dict[int, str | None] = {}
    out: dict[str | None, dict] = defaultdict(
        lambda: {"jobs": 0, "tasks": 0, **{k: 0.0 for k in TASK_FIELDS}}
    )
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = _group_of(ev)
            for sid in ev.get("Stage IDs", ()):
                stage_group[sid] = group
            out[group]["jobs"] += 1
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if ev["Stage ID"] not in stage_group or not m:
                continue
            acc = out[stage_group[ev["Stage ID"]]]
            acc["tasks"] += 1
            sr = m.get("Shuffle Read Metrics", {})
            sw = m.get("Shuffle Write Metrics", {})
            acc["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            acc["shuffle_read_bytes"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            )
            acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            acc["spill_bytes"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            )
            acc["peak_exec_mem_bytes"] = max(
                acc["peak_exec_mem_bytes"], m.get("Peak Execution Memory", 0)
            )
    spans = job_spans(events)
    for group, acc in out.items():
        acc["job_wall_s"] = _union_length(spans.get(group, []))
    return dict(out)


def union_wall(events: list[dict], groups, window=None) -> float:
    """Time covered by the jobs of any of `groups` (jobs of concurrent
    groups, such as two streaming queries, overlap), clipped to the
    (start, end) epoch-seconds `window` when one is given."""
    by_group = job_spans(events)
    spans = [s for g in groups for s in by_group.get(g, [])]
    if window is not None:
        lo, hi = window
        spans = [(max(a, lo), min(b, hi)) for a, b in spans if b > lo and a < hi]
    return _union_length(spans)


def split_wall(folded: dict, group: str, wall_s: float) -> dict:
    """One group's fold plus its driver gap: wall_s (measured around the
    public call) = job_wall_s + driver_gap_s, by construction."""
    acc = dict(folded.get(group) or {"jobs": 0, "tasks": 0, "job_wall_s": 0.0,
                                      **{k: 0.0 for k in TASK_FIELDS}})
    acc["wall_s"] = wall_s
    acc["driver_gap_s"] = wall_s - acc["job_wall_s"]
    return acc
