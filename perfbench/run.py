#!/usr/bin/env python3
"""Benchmark command for ertransfer_spark: one workload, one seed.

    python3 perfbench/run.py --workload er_pipeline --seed 1 --seconds 12 --trace 0

Run from the repository root. The command generates the workload's inputs
from the seed, runs one untimed warm-up pass whose outputs are checked,
then timed passes back to back (a closed loop with one client) until
``--seconds`` have passed, and again any pass the hypervisor disturbed
(``STEAL_MAX``), at most ``MAX_REPEATS`` times. The last line of stdout is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of ``BENCHMARK.json``,
each the median over the undisturbed timed passes (over all of them when
every pass was disturbed); with ``--trace 1`` they are its per-layer metrics,
from one traced pass with spans and the Spark event log.

Any exception or failed output check makes the command print no result
and exit 1; a checkout without the engine exits 2. Everything the run
writes stays under ``.perfbench_work/`` (removed at exit) and
``.perfbench_out/`` (one JSON record per run) in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# local[2] on a 4-vCPU box: JIT compiler, GC and Python-worker threads need
# the other cores; local[4] measured both slower and less steady here.
MAX_CORES = 2
# A pass during which the hypervisor ran other guests on this machine's
# CPUs for more than this share of the pass's CPU time (steal in
# /proc/stat) timed the host, not the engine. It is run again, at most
# MAX_REPEATS times in a run, and the metrics leave it out.
STEAL_MAX = 0.05
MAX_REPEATS = 1


def _environment(work: Path) -> None:
    """Keep Spark, its JVM and its Python workers inside ``work``."""
    for sub in ("tmp", "local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def start_session(name: str, work: Path, trace: bool):
    from ertransfer_spark.session import get_spark

    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    conf = {
        # Lower JIT compile thresholds: Spark's own code reaches compiled
        # steady state within the warm-up instead of drifting through the
        # timed passes. Fixed compiler threads: cpu_s can leave their time
        # out (see proctree.jit_seconds). Two of them (one C1, one C2), so
        # the compiler takes less of the four cores from the tasks.
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
            " -XX:CompileThresholdScaling=0.3 -XX:-UseDynamicNumberOfCompilerThreads"
            " -XX:CICompilerCount=2"
        ),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if trace:
        (work / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "eventlog"),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(f"perfbench-{name}", cpus=cores, extra_conf=conf, master=f"local[{cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the driver JVM and wait for every child process."""
    from pyspark import SparkContext

    from perfbench import proctree

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 30
    while len(proctree.tree_pids()) > 1 and time.time() < deadline:
        time.sleep(0.1)
    for pid in proctree.tree_pids()[1:]:
        try:
            os.kill(pid, 9)
            os.waitpid(pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass


def undisturbed(samples: list[dict]) -> list[dict]:
    """The timed passes the hypervisor did not disturb (see STEAL_MAX)."""
    return [s for s in samples if not s["disturbed"]]


def declared_metrics() -> tuple[dict, dict]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


class Run:
    """One invocation: counts every engine call attempted and failed."""

    def __init__(self, workload, args, work: Path):
        self.wl, self.args, self.work = workload, args, work
        self.attempted = self.failed = 0
        self.spark = None
        self.record: dict = {"workload": workload.name, "seed": args.seed, "trace": args.trace}

    @contextlib.contextmanager
    def counted(self):
        """One engine call (a warm-up or timed pass and its output check)."""
        self.attempted += 1
        try:
            yield
        except Exception:
            self.failed += 1
            raise

    def setup(self):
        from perfbench.workloads import Context

        t0 = time.perf_counter()
        self.spark = start_session(self.wl.name, self.work, bool(self.args.trace))
        t1 = time.perf_counter()
        self.ctx = Context(self.spark, self.work, self.args.seed)
        self.rows = self.wl.setup(self.ctx)
        t2 = time.perf_counter()
        with self.counted():
            self.quality = self.wl.warmup(self.ctx)
        t3 = time.perf_counter()
        # the overlap warm-up also runs its DuckDB checks; keep only Spark time
        warm = self.ctx.state.pop("warm_s", t3 - t2)
        self.setup_parts = {
            "session.start_s": t1 - t0,
            "input.generate_s": t2 - t1,
            "warmup_s": warm,
        }
        self.record["setup"] = self.setup_parts

    def timed_pass(self) -> dict:
        from perfbench import proctree

        with self.counted():
            cpu0, jit0 = proctree.cpu_seconds(), proctree.jit_seconds()
            steal0 = proctree.steal_seconds()
            rss = proctree.PeakRss().start()
            t0 = time.perf_counter()
            result = self.wl.run_pass(self.ctx)
            wall = time.perf_counter() - t0
            peak = rss.stop()
            jit = proctree.jit_seconds() - jit0
            cpu = proctree.cpu_seconds() - cpu0 - jit - rss.cpu_s
            steal = proctree.steal_seconds() - steal0
            quality = self.wl.check_pass(self.ctx, result)
        # jit_s and steal_s stay in the record only: they explain a slow run
        return {"wall_s": wall, "cpu_s": cpu, "peak_rss_mb": peak, "jit_s": jit,
                "steal_s": steal, "disturbed": steal > STEAL_MAX * wall * os.cpu_count(),
                **quality}

    def end_to_end(self) -> dict:
        self.setup()
        samples = []
        t0 = time.perf_counter()
        while not samples or time.perf_counter() - t0 < self.args.seconds:
            samples.append(self.timed_pass())
        wanted = len(samples)
        for _ in range(MAX_REPEATS):
            if len(undisturbed(samples)) >= wanted:
                break
            samples.append(self.timed_pass())
        self.record["samples"] = samples
        kept = undisturbed(samples) or samples
        med = lambda k: statistics.median(s[k] for s in kept)  # noqa: E731
        return {
            "wall_s": med("wall_s"),
            "rows_per_s": statistics.median(self.rows / s["wall_s"] for s in kept),
            "cpu_s": med("cpu_s"),
            "peak_rss_mb": med("peak_rss_mb"),
            "setup_s": sum(self.setup_parts.values()),
            # er_pipeline checks F1 on every pass; overlap_* on the warm-up
            "pairwise_f1": (
                med("pairwise_f1") if "pairwise_f1" in samples[0] else self.quality["pairwise_f1"]
            ),
        }

    def per_layer(self, units: dict) -> dict:
        from perfbench import eventlog
        from perfbench.spans import Tracer, self_times
        from perfbench.workloads import jobs_under

        self.setup()
        untraced = []
        t0 = time.perf_counter()
        while not untraced or time.perf_counter() - t0 < self.args.seconds / 2:
            untraced.append(self.timed_pass()["wall_s"])
        tracer = Tracer(self.spark.sparkContext)
        self.wl.trace_wrappers(tracer)
        with self.counted():
            try:
                with tracer.span("pass") as pass_span:
                    result = self.wl.run_pass(self.ctx, tracer)
            finally:
                tracer.unpatch()
            self.wl.check_pass(self.ctx, result, keep=True)
        out = dict(self.setup_parts)
        out.update(self.wl.extras(self.ctx, result))
        # an untraced pass after the traced one too, so drift cancels
        untraced.append(self.timed_pass()["wall_s"])
        out["trace.overhead_s"] = pass_span.duration - statistics.median(untraced)
        stop_session(self.spark)
        self.spark = None

        jobs = eventlog.parse(self.work / "eventlog")
        out.update(self.wl.layer_metrics(self.ctx, tracer, pass_span, jobs))
        totals = eventlog.totals(jobs_under(jobs, tracer, [pass_span]))
        out.update({f"spark.{k}": v for k, v in totals.items()})
        self_s = self_times(tracer.spans)
        self.record["spans"] = [
            {"id": s.id, "name": s.name, "parent": s.parent, "start": s.start, "end": s.end,
             "self_s": self_s[s.id], **({"attrs": s.attrs} if s.attrs else {})}
            for s in tracer.spans
        ]
        self.record["layers"] = out
        # layers a workload does not touch report zero work
        return {k: out.get(k, 0.0) for k in units}

    def close(self) -> None:
        try:
            if self.spark is not None:
                stop_session(self.spark)
        finally:
            shutil.rmtree(self.work, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    try:
        import __spark_entry__  # noqa: F401  (the overlap workloads' queries)
        import ertransfer_spark  # noqa: F401
        e2e_units, layer_units = declared_metrics()
    except (ImportError, OSError) as e:
        print(f"perfbench: no engine to benchmark under {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    # a terminated run still stops Spark and removes its scratch files
    def terminated(*_):
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # once: let clean-up finish
        sys.exit(143)

    signal.signal(signal.SIGTERM, terminated)
    _environment(work)
    run = Run(WORKLOADS[args.workload], args, work)
    try:
        if args.trace:
            units, values = layer_units, run.per_layer(layer_units)
        else:
            units, values = e2e_units, run.end_to_end()
    except Exception:
        traceback.print_exc()
        print(
            f"perfbench: {args.workload} seed {args.seed} FAILED: "
            f"{run.failed} of {run.attempted} calls failed; no metrics emitted",
            file=sys.stderr,
        )
        return 1
    finally:
        run.close()

    metrics = {k: {"value": float(values[k]), "unit": units[k]} for k in units}
    run.record["metrics"] = metrics
    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    (out_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(run.record, indent=1, default=str)
    )
    samples = run.record.get("samples", ())
    n = f"{len(undisturbed(samples)) or len(samples)} of {len(samples)}" if samples else "1"
    print(f"# {args.workload} seed={args.seed} trace={args.trace}: {n} timed pass(es) kept, "
          f"setup {sum(run.setup_parts.values()):.1f} s")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
