"""The event-log parser, on a log written by the test."""

from __future__ import annotations

import json

import pytest

from perfbench import eventlog


def _task(stage, run_ms, cpu_ns, *, gc=0, shuffle=0, spill=0, py=None, failed=False):
    acc = [{"ID": 1, "Name": "number of output rows", "Update": "10"}]
    for name, value in (py or {}).items():
        acc.append({"ID": 2, "Name": name, "Update": str(value)})
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + run_ms, "Failed": failed,
                      "Killed": False, "Accumulables": acc},
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns, "JVM GC Time": gc,
            "Disk Bytes Spilled": spill, "Memory Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
        },
    }


@pytest.fixture()
def log_dir(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    events = [
        {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.job.description": "perfbench-span:3:query.x"}},
        _task(0, 100, 50_000_000, gc=5, shuffle=2 * 2**20),
        _task(0, 300, 150_000_000, spill=2**20),
        _task(1, 200, 100_000_000, py={
            "data sent to Python workers": 3 * 2**20,
            "data returned from Python workers": 2**20,
            "time to start Python workers": 40,
            "time to run Python workers": 150,
        }),
        _task(1, 999, 1, failed=True),  # a failed attempt counts for nothing
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500,
         "Job Result": {"Result": "JobSucceeded"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
         "Stage IDs": [2], "Properties": {}},
    ]
    # a rolled log split over two files, plus the files a parser must skip
    (d / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events[:4]) + "\n")
    (d / "events_2_local-1").write_text("\n".join(json.dumps(e) for e in events[4:]) + "\n")
    (d / ".events_1_local-1.crc").write_text("not json")
    (d / "appstatus_local-1").write_text("")
    return tmp_path


def test_parse_ties_tasks_to_jobs_and_descriptions(log_dir):
    jobs = eventlog.parse(log_dir)
    assert [j.id for j in jobs] == [0, 1]
    j0, j1 = jobs
    assert j0.description == "perfbench-span:3:query.x"
    assert len(j0.tasks) == 3 and j1.tasks == [] and j1.description is None


def test_totals_and_python_accumulables(log_dir):
    t = eventlog.totals(eventlog.parse(log_dir))
    assert t["jobs"] == 2 and t["tasks"] == 3
    assert t["executor_run_s"] == pytest.approx(0.6)
    assert t["executor_cpu_s"] == pytest.approx(0.3)
    assert t["gc_s"] == pytest.approx(0.005)
    assert t["shuffle_write_mb"] == pytest.approx(2.0)
    assert t["spill_mb"] == pytest.approx(1.0)
    assert t["python_sent_mb"] == pytest.approx(3.0)
    assert t["python_received_mb"] == pytest.approx(1.0)
    assert t["python_boot_s"] == pytest.approx(0.04)
    assert t["python_run_s"] == pytest.approx(0.15)


def test_task_skew_uses_the_longest_stage(log_dir):
    tasks = [t for j in eventlog.parse(log_dir) for t in j.tasks]
    # stage 0 ran 400 ms in total over tasks of 100 and 300 ms
    assert eventlog.task_skew(tasks) == pytest.approx(300 / 200)
    assert eventlog.task_skew([]) == 0.0
