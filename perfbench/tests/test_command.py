"""The command itself: its failure paths, its repeat of passes the
hypervisor disturbed, and a Spark session's event log.

The failure-path and event-log tests start Spark (local[1] or the
command's own session) and take about two minutes together."""

from __future__ import annotations

import json
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

from types import SimpleNamespace

import pytest

ROOT = Path(__file__).resolve().parents[2]


def _run(code: str, cwd: Path, timeout: int = 300) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-c", code], cwd=cwd, capture_output=True, text=True, timeout=timeout
    )


def _emitted_result(stdout: str) -> bool:
    for line in stdout.splitlines():
        try:
            if "metrics" in json.loads(line):
                return True
        except (ValueError, TypeError):
            continue
    return False


def test_bare_checkout_exits_nonzero_without_result(tmp_path):
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "overlap_dense",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert not _emitted_result(p.stdout)


FAILING_CALL = """
import sys
sys.path.insert(0, {root!r})
import ertransfer_spark.operators.blocking as blocking

def broken(*args, **kwargs):
    raise RuntimeError("injected failure")

blocking.token_jaccard_join = broken
from perfbench import run
sys.exit(run.main(["--workload", "overlap_dense", "--seed", "1", "--seconds", "1", "--trace", "0"]))
"""

WRONG_KERNEL = """
import sys
sys.path.insert(0, {root!r})
from perfbench import run, workloads
workloads.WORKLOADS["overlap_dense"].kernel = "sparse"
sys.exit(run.main(["--workload", "overlap_dense", "--seed", "1", "--seconds", "1", "--trace", "0"]))
"""


@pytest.mark.parametrize(
    "script, message",
    [(FAILING_CALL, "injected failure"), (WRONG_KERNEL, "ran the dense kernel")],
    ids=["engine-call-raises", "kernel-regime-mismatch"],
)
def test_failure_exits_nonzero_and_emits_no_metric(script, message):
    p = _run(script.format(root=str(ROOT)), cwd=ROOT)
    assert p.returncode == 1, p.stderr[-2000:]
    assert not _emitted_result(p.stdout)
    assert message in p.stderr
    assert "1 of 1 calls failed" in p.stderr


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench.run import _environment, start_session

    work = tmp_path_factory.mktemp("perfbench-work")
    _environment(work)
    s = start_session("tests", work, trace=True)
    yield s, work
    from pyspark import SparkContext

    from perfbench.run import stop_session

    if SparkContext._active_spark_context is not None:
        stop_session(s)


def test_er_inputs_are_a_function_of_the_seed(spark):
    from ertransfer_spark.synth import generate_spark
    from perfbench import inputs

    s, _ = spark

    def rows(seed):
        ta, tb, m = generate_spark(s, inputs.er_config(seed))
        return [sorted(map(tuple, df.collect())) for df in (ta, tb, m)]

    first, again, other = rows(3), rows(3), rows(4)
    assert first == again
    assert first[0] != other[0] and first[2] != other[2]
    hot = sum(inputs.ER_HOT_TOKEN in r[3] for r in first[0])
    assert 0 < hot < len(first[0])


def test_jit_time_is_found_in_the_jvm_and_is_part_of_its_cpu(spark):
    from perfbench import proctree

    s, _ = spark
    s.range(100000).selectExpr("sum(id)").collect()
    jit = proctree.jit_seconds()
    assert 0 < jit <= proctree.cpu_seconds()


def test_event_log_of_a_real_session(spark):
    """Jobs carry the span tag; pandas UDF stages carry Python metrics."""
    from perfbench import eventlog
    from perfbench.run import stop_session
    from perfbench.spans import Tracer, span_id_of

    s, work = spark
    tracer = Tracer(s.sparkContext)
    with tracer.span("query.udf") as sp:
        s.range(2000).selectExpr("id % 4 AS g", "id").groupBy("g").applyInPandas(
            lambda pdf: pdf.head(1), schema="g long, id long"
        ).write.format("noop").mode("overwrite").save()
    time.sleep(0.5)
    stop_session(s)  # flushes and closes the log
    jobs = eventlog.parse(work / "eventlog")
    tagged = [j for j in jobs if span_id_of(j.description) == sp.id]
    assert tagged
    t = eventlog.totals(tagged)
    assert t["tasks"] > 0 and t["executor_run_s"] > 0
    assert t["python_sent_mb"] > 0 and t["python_run_s"] >= 0


def _scripted_run(passes):
    """A ``run.Run`` whose set-up and timed passes are scripted:
    ``passes`` is a list of (wall_s, disturbed)."""
    from perfbench import run

    script = iter(passes)

    class Scripted(run.Run):
        def setup(self):
            self.rows, self.quality = 100, {"pairwise_f1": 1.0}
            self.setup_parts = {"session.start_s": 1.0}

        def timed_pass(self):
            wall, disturbed = next(script)
            return {"wall_s": wall, "cpu_s": wall, "peak_rss_mb": 1.0, "disturbed": disturbed}

    return Scripted(SimpleNamespace(name="scripted"), SimpleNamespace(seed=1, trace=0, seconds=0),
                    Path("unused"))


@pytest.mark.parametrize(
    "passes, timed, kept",
    [
        ([(10.0, False)], 1, [10.0]),
        ([(30.0, True), (11.0, False)], 2, [11.0]),
        ([(30.0, True), (40.0, True)], 2, [30.0, 40.0]),
    ],
    ids=["clean", "repeated", "all-disturbed"],
)
def test_disturbed_passes_are_repeated_and_left_out(passes, timed, kept):
    run = _scripted_run(passes)
    out = run.end_to_end()
    assert len(run.record["samples"]) == timed
    assert out["wall_s"] == statistics.median(kept)
    assert out["rows_per_s"] == statistics.median(100 / w for w in kept)
