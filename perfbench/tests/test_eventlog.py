"""Job-group attribution and driver-only arithmetic, checked against a
small captured event log (regenerate it with make_eventlog_fixture.py)."""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", ".."))

from perfbench.eventlog import attribute, covered_seconds, fold, read_events  # noqa: E402

DATA = os.path.join(os.path.dirname(__file__), "data")


@pytest.fixture(scope="module")
def captured():
    jobs = fold(read_events(os.path.join(DATA, "eventlog_small.jsonl")))
    with open(os.path.join(DATA, "eventlog_small_calls.json")) as f:
        calls = json.load(f)
    return jobs, calls, dict(zip((c["group"] for c in calls), attribute(jobs, calls)))


def test_covered_seconds_unions_and_clips():
    assert covered_seconds([], 0, 10) == 0
    assert covered_seconds([(1, 3), (2, 5), (7, 8)], 0, 10) == pytest.approx(5)
    assert covered_seconds([(-5, 2), (9, 20)], 0, 10) == pytest.approx(3)
    assert covered_seconds([(1, 4), (1, 4), (2, 3)], 0, 10) == pytest.approx(3)
    assert covered_seconds([(11, 12)], 0, 10) == 0


def test_attribute_splits_wall_into_jobs_and_driver():
    jobs = {
        1: {"group": "a#0", "start": 10.0, "end": 12.0, "jobs": 1.0, "tasks": 4.0},
        2: {"group": "a#0", "start": 11.0, "end": 13.0, "jobs": 1.0, "tasks": 2.0},
        3: {"group": "", "start": 16.5, "end": 17.0, "jobs": 1.0, "tasks": 1.0},
        4: {"group": "check", "start": 20.0, "end": 21.0, "jobs": 1.0, "tasks": 9.0},
    }
    for j in jobs.values():
        for k in ("executor_run_s", "executor_cpu_s", "gc_s", "failed_tasks", "shuffle_write_bytes",
                  "shuffle_read_bytes", "spill_bytes", "python_run_s", "python_init_s",
                  "python_boot_s", "arrow_to_python_bytes", "arrow_from_python_bytes"):
            j.setdefault(k, 0.0)
    calls = [{"group": "a#0", "start": 10.0, "end": 15.0}, {"group": "b#0", "start": 16.0, "end": 18.0}]
    a, b = attribute(jobs, calls)
    assert (a["jobs"], a["tasks"]) == (2, 6)
    assert a["job_busy_s"] == pytest.approx(3.0)
    assert a["driver_only_s"] == pytest.approx(2.0)
    # an untagged job belongs to the call it was submitted during
    assert (b["jobs"], b["job_busy_s"], b["driver_only_s"]) == (1, pytest.approx(0.5), pytest.approx(1.5))


def test_captured_log_groups(captured):
    jobs, calls, rows = captured
    groups = {j["group"] for j in jobs.values()}
    assert {"scan#0", "udf#0"} <= groups
    assert all(j["end"] is not None for j in jobs.values())
    assert rows["scan#0"]["jobs"] >= 2 and rows["scan#0"]["tasks"] >= 4
    assert rows["scan#0"]["shuffle_write_bytes"] > 0
    assert rows["idle#0"]["jobs"] == 0 and rows["idle#0"]["job_busy_s"] == 0


def test_captured_log_driver_only(captured):
    _, calls, rows = captured
    for c in calls:
        row = rows[c["group"]]
        assert row["job_busy_s"] + row["driver_only_s"] == pytest.approx(c["end"] - c["start"])
    # the scan call sleeps 0.5 s on the driver after its jobs
    assert rows["scan#0"]["driver_only_s"] >= 0.5
    assert rows["idle#0"]["driver_only_s"] == pytest.approx(calls[-1]["end"] - calls[-1]["start"])


def test_captured_log_python_boundary(captured):
    jobs, _, rows = captured
    udf = rows["udf#0"]
    assert udf["arrow_to_python_bytes"] > 0 and udf["arrow_from_python_bytes"] > 0
    assert 0 < udf["python_run_s"] <= udf["executor_run_s"]
    assert rows["scan#0"]["arrow_to_python_bytes"] == 0
    # the side thread's untagged job is attributed to the udf call
    untagged = [j for j in jobs.values() if j["group"] == ""]
    assert untagged and udf["jobs"] == sum(1 for j in jobs.values() if j["group"] == "udf#0") + len(untagged)
