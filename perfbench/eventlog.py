"""Offline reader for Spark's JSON event log (stdlib only).

The benchmark tags every timed call with ``sc.setJobGroup(<call id>)``.
This module folds the ``JobStart`` (``spark.jobGroup.id``), ``TaskEnd``
and ``JobEnd`` events of an uncompressed, non-rolling log into counters
per job, assigns each job to a call, and splits each call's wall time into
time covered by its Spark jobs and driver-only time.
"""

from __future__ import annotations

import json

# TaskEnd "Task Info" accumulables written by Spark's Python operators;
# their times are milliseconds
PYTHON_ACCUMULABLES = {
    "time to run Python workers": "python_run_s",
    "time to initialize Python workers": "python_init_s",
    "time to start Python workers": "python_boot_s",
    "data sent to Python workers": "arrow_to_python_bytes",
    "data returned from Python workers": "arrow_from_python_bytes",
}
COUNTERS = (
    "jobs", "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "python_run_s", "python_init_s", "python_boot_s",
    "arrow_to_python_bytes", "arrow_from_python_bytes",
)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def read_events(path: str):
    with open(path, encoding="utf-8") as f:
        for line in f:
            if line.strip():
                yield json.loads(line)


def fold(events) -> dict[int, dict]:
    """Per job id: ``group``, ``start``/``end`` (epoch seconds) and the
    COUNTERS of its tasks. A stage's tasks count toward the job that first
    listed it; a stage re-listed by a later job was skipped there."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            jobs[jid] = {
                "group": (ev.get("Properties") or {}).get("spark.jobGroup.id") or "",
                "start": ev["Submission Time"] / 1e3,
                "end": None,
                **dict.fromkeys(COUNTERS, 0.0),
                "jobs": 1.0,
            }
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_job:
            row = jobs[stage_job[ev["Stage ID"]]]
            row["tasks"] += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                row["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            row["executor_run_s"] += _num(m.get("Executor Run Time")) / 1e3
            row["executor_cpu_s"] += _num(m.get("Executor CPU Time")) / 1e9
            row["gc_s"] += _num(m.get("JVM GC Time")) / 1e3
            row["spill_bytes"] += _num(m.get("Memory Bytes Spilled")) + _num(m.get("Disk Bytes Spilled"))
            sw = m.get("Shuffle Write Metrics") or {}
            row["shuffle_write_bytes"] += _num(sw.get("Shuffle Bytes Written"))
            sr = m.get("Shuffle Read Metrics") or {}
            row["shuffle_read_bytes"] += _num(sr.get("Remote Bytes Read")) + _num(sr.get("Local Bytes Read"))
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                key = PYTHON_ACCUMULABLES.get(acc.get("Name"))
                if key:
                    row[key] += _num(acc.get("Update")) / (1e3 if key.endswith("_s") else 1)
    return jobs


def covered_seconds(spans, start: float, end: float) -> float:
    """Length of the union of ``spans`` clipped to [start, end]."""
    total, lo_run, hi_run = 0.0, None, None
    for lo, hi in sorted((max(lo, start), min(hi, end)) for lo, hi in spans):
        if hi <= lo:
            continue
        if hi_run is None or lo > hi_run:
            if hi_run is not None:
                total += hi_run - lo_run
            lo_run, hi_run = lo, hi
        else:
            hi_run = max(hi_run, hi)
    if hi_run is not None:
        total += hi_run - lo_run
    return total


def attribute(jobs: dict[int, dict], calls: list[dict]) -> list[dict]:
    """Per-call layer rows. ``calls`` holds dicts with ``group`` (the job
    group id), ``start`` and ``end`` (epoch seconds). A job belongs to the
    call with its group id; a job from another group (a streaming query's
    own thread, for one) belongs to the call it was submitted during.
    Each row sums its jobs' COUNTERS and adds ``job_busy_s`` (union of its
    job spans inside the call) and ``driver_only_s`` (wall minus that)."""
    by_group = {c["group"]: i for i, c in enumerate(calls)}
    mine: list[list[dict]] = [[] for _ in calls]
    for job in jobs.values():
        i = by_group.get(job["group"])
        if i is None:
            i = next((k for k, c in enumerate(calls) if c["start"] <= job["start"] <= c["end"]), None)
        if i is not None:
            mine[i].append(job)
    out = []
    for c, js in zip(calls, mine):
        row = {k: sum(j[k] for j in js) for k in COUNTERS}
        spans = [(j["start"], j["end"] if j["end"] is not None else c["end"]) for j in js]
        row["job_busy_s"] = covered_seconds(spans, c["start"], c["end"])
        row["driver_only_s"] = max(0.0, (c["end"] - c["start"]) - row["job_busy_s"])
        out.append(row)
    return out
