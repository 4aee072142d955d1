"""Operator-layer numbers from a Spark event log (JSON lines, stdlib only).

Enable the log with ``spark.eventLog.enabled`` and ``spark.eventLog.dir``,
stop the session so it is flushed, then ``parse(dir)``. Jobs carry the
description that was set when they were submitted, which ties each job,
its stages and their tasks to the benchmark span that caused them.

Units as Spark logs them: run, GC and Python times in ms, CPU time in ns.
The Python figures are the ``PythonSQLMetrics`` accumulables of the
pandas/Arrow UDF operators.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field
from pathlib import Path

PYTHON_ACCUMULABLES = {
    "data sent to Python workers": "python_sent_bytes",
    "data returned from Python workers": "python_received_bytes",
    "time to start Python workers": "python_boot_ms",
    "time to run Python workers": "python_run_ms",
}
MB = 2**20


@dataclass
class Task:
    stage: int
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python_sent_bytes: int = 0
    python_received_bytes: int = 0
    python_boot_ms: int = 0
    python_run_ms: int = 0


@dataclass
class Job:
    id: int
    submit_ms: int
    description: str | None
    tasks: list[Task] = field(default_factory=list)


def _event_files(path: Path) -> list[Path]:
    if path.is_file():
        return [path]
    files = [
        p for p in path.rglob("*")
        if p.is_file() and not p.name.startswith((".", "appstatus"))  # skip .crc files
    ]
    # rolled logs are events_<n>_<app>; order by the roll index
    return sorted(files, key=lambda p: (p.parent, int(p.name.split("_")[1]) if p.name.startswith("events_") else 0))


def parse(path: str | Path) -> list[Job]:
    """Jobs of the log at ``path`` (a file or a directory of them), each
    with the successful tasks of its stages."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for f in _event_files(Path(path)):
        with open(f) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = Job(ev["Job ID"], ev["Submission Time"], props.get("spark.job.description"))
                    jobs[job.id] = job
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = job.id
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                    info, m = ev["Task Info"], ev.get("Task Metrics")
                    if job is None or m is None or info.get("Failed") or info.get("Killed"):
                        continue
                    t = Task(
                        ev["Stage ID"],
                        run_ms=m["Executor Run Time"], cpu_ns=m["Executor CPU Time"],
                        gc_ms=m["JVM GC Time"],
                        shuffle_write_bytes=m["Shuffle Write Metrics"]["Shuffle Bytes Written"],
                        spill_bytes=m["Disk Bytes Spilled"],
                    )
                    for acc in info.get("Accumulables", ()):
                        key = PYTHON_ACCUMULABLES.get(acc.get("Name"))
                        if key and acc.get("Update") is not None:
                            setattr(t, key, getattr(t, key) + int(acc["Update"]))
                    job.tasks.append(t)
    return sorted(jobs.values(), key=lambda j: j.id)


def totals(jobs: list[Job]) -> dict[str, float]:
    """Spark execution totals over ``jobs``."""
    tasks = [t for j in jobs for t in j.tasks]
    return {
        "jobs": len(jobs),
        "tasks": len(tasks),
        "executor_run_s": sum(t.run_ms for t in tasks) / 1e3,
        "executor_cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
        "gc_s": sum(t.gc_ms for t in tasks) / 1e3,
        "shuffle_write_mb": sum(t.shuffle_write_bytes for t in tasks) / MB,
        "spill_mb": sum(t.spill_bytes for t in tasks) / MB,
        "python_boot_s": sum(t.python_boot_ms for t in tasks) / 1e3,
        "python_run_s": sum(t.python_run_ms for t in tasks) / 1e3,
        "python_sent_mb": sum(t.python_sent_bytes for t in tasks) / MB,
        "python_received_mb": sum(t.python_received_bytes for t in tasks) / MB,
    }


def task_skew(tasks: list[Task]) -> float:
    """Max over median task run time in the stage that ran longest in total
    (the stage whose stragglers cost the most); 0.0 without tasks."""
    by_stage: dict[int, list[int]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage, []).append(t.run_ms)
    if not by_stage:
        return 0.0
    runs = max(by_stage.values(), key=sum)
    med = statistics.median(runs)
    return max(runs) / med if med > 0 else 1.0
