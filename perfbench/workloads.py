"""The benchmark workloads.

Each workload has these steps, all driven through the engine's public
surface (``plans.pipeline``, ``operators.*``, ``functions.*``,
``sources.catalog``, ``__spark_entry__``):

- ``setup``: write the seeded inputs to parquet; returns the input rows.
- ``warmup``: one untimed pass whose outputs are checked; raises
  ``CheckFailed`` when an output is wrong.
- ``run_pass``: one timed pass, the unit every end-to-end metric is taken
  over. Returns a per-pass result that ``check_pass`` verifies untimed.
- ``trace_wrappers``: wrap the layer calls in spans for a traced pass.
- ``extras``: per-layer numbers read from the traced pass's outputs while
  the session still runs; ``layer_metrics``: the rest, from the spans and
  the event log once the session has stopped.

A Spark operator is lazy: its plan runs at the next action. So an
operator's ``wall_s`` is the time in the call (its eager probes) plus the
action that executes its output: the catalog commit of its stage on
``er_pipeline``, the query's sink on ``overlap_*``.
"""

from __future__ import annotations

import contextlib
import math
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from pathlib import Path

from . import eventlog, inputs
from .checks import CheckFailed, frame_mismatch, pair_f1
from .spans import Span, Tracer, span_id_of

F1_FLOOR = 0.99           # BASELINE.json pairwise-F1 floor
REPLAY_PAIRS = 2000       # candidate pairs replayed through the string kernels
REPLAY_MIN_S = 0.3        # minimum timed replay per kernel
MB = 2**20


@dataclass
class Context:
    spark: object
    work: Path
    seed: int
    state: dict = field(default_factory=dict)


def _dir_size(path: Path) -> tuple[int, int]:
    files = [p for p in path.rglob("*") if p.is_file()]
    return sum(p.stat().st_size for p in files), len(files)


def jobs_under(jobs: list[eventlog.Job], tracer: Tracer, roots: list[Span]) -> list[eventlog.Job]:
    """Jobs whose description names one of ``roots`` or a span under them."""
    ids = {s.id for r in roots for s in tracer.descendants(r)}
    return [j for j in jobs if span_id_of(j.description) in ids]


def _dur(spans: list[Span]) -> float:
    return sum(s.duration for s in spans)


# --------------------------------------------------------------------------
# er_pipeline
# --------------------------------------------------------------------------

class ErPipeline:
    name = "er_pipeline"
    STAGES = ("records", "candidates", "labeled", "predictions", "matched_pairs", "clusters")

    def setup(self, ctx: Context) -> int:
        d = ctx.work / "inputs"
        d.mkdir(parents=True, exist_ok=True)
        rows = inputs.write_er_inputs(ctx.spark, ctx.seed, d)
        read = ctx.spark.read.parquet
        ctx.state["inputs"] = (read(str(d / "turns_a")), read(str(d / "turns_b")), read(str(d / "matches")))
        ctx.state["passes"] = 0
        return rows

    def run_pass(self, ctx: Context, tracer: Tracer | None = None):
        from ertransfer_spark.plans.pipeline import ERPipeline, PipelineConfig

        ctx.state["passes"] += 1
        workdir = ctx.work / f"pipeline-{ctx.state['passes']}"
        ta, tb, golden = ctx.state["inputs"]
        pipe = ERPipeline(ctx.spark, str(workdir), PipelineConfig())
        out = pipe.run(ta, tb, golden, resume=False)
        return pipe, out, workdir

    def check_pass(self, ctx: Context, result, keep: bool = False) -> dict:
        _, out, workdir = result
        f1 = float(out["metrics"]["f1"])
        if not keep:
            shutil.rmtree(workdir, ignore_errors=True)
        if f1 < F1_FLOOR:
            raise CheckFailed(f"pairwise F1 {f1:.4f} < {F1_FLOOR}")
        return {"pairwise_f1": f1}

    def warmup(self, ctx: Context) -> dict:
        return self.check_pass(ctx, self.run_pass(ctx))

    def trace_wrappers(self, tracer: Tracer) -> None:
        import ertransfer_spark.operators.matcher as matcher
        import ertransfer_spark.plans.pipeline as pipeline
        from ertransfer_spark.sources.catalog import SnapshotCatalog

        def table(span, args, kwargs, result):
            span.attrs["table"] = args[1] if len(args) > 1 else kwargs["table"]

        tracer.wrap(SnapshotCatalog, "commit", "catalog.commit", on_return=table)
        tracer.wrap(pipeline, "top_k_token_join", "blocking.top_k_token_join")
        tracer.wrap(matcher, "train_matcher_local", "matcher.train")
        tracer.wrap(pipeline, "best_threshold", "clustering.best_threshold")
        tracer.wrap(pipeline, "unique_mapping_clusters", "clustering.umc")
        tracer.wrap(pipeline, "clusters_from_pairs", "clustering.cc")

    def extras(self, ctx: Context, result) -> dict:
        """Per-layer numbers read from a traced pass's own outputs: run
        after the pass, before the session stops."""
        from pyspark.sql import functions as F

        from ertransfer_spark.functions.jaro import jaro_winkler_batch
        from ertransfer_spark.functions.myers import myers_lev_batch
        from ertransfer_spark.operators.matcher import attach_pair_text

        pipe, _, workdir = result
        out = {}
        size, n_files = _dir_size(workdir)
        out["catalog.bytes_written_mb"] = size / MB
        out["catalog.files_written"] = n_files

        cat = pipe.catalog
        cand = cat.read("candidates")
        golden = ctx.state["inputs"][2].select(
            F.col("a_conv_id").alias("a_id"), F.col("b_conv_id").alias("b_id")
        )
        n_gold = golden.count()
        out["blocking.candidates"] = cand.count()
        out["blocking.pair_completeness"] = (
            golden.join(cand, ["a_id", "b_id"], "left_semi").count() / n_gold if n_gold else 0.0
        )
        out["matcher.pairs_scored"] = cat.read("predictions").count()

        # replay the string kernels on a fixed sample of this run's own pairs
        sample = (
            attach_pair_text(
                cand.orderBy("a_id", "b_id").limit(REPLAY_PAIRS),
                cat.read("records_a"), cat.read("records_b"), truncate=256,
            )
            .orderBy("a_id", "b_id")
            .select("a_norm", "b_norm")
            .toPandas()
        )
        a, b = list(sample["a_norm"]), list(sample["b_norm"])
        out["kernel.myers.pairs_per_s"] = _pairs_per_s(myers_lev_batch, a, b)
        out["kernel.jaro.pairs_per_s"] = _pairs_per_s(
            jaro_winkler_batch, [s[:64] for s in a], [s[:64] for s in b]
        )
        shutil.rmtree(workdir, ignore_errors=True)
        return out

    def layer_metrics(self, ctx: Context, tracer: Tracer, pass_span: Span, jobs) -> dict:
        under = tracer.descendants(pass_span)
        commits = sorted((s for s in under if s.name == "catalog.commit"), key=lambda s: s.end)
        # stages are the intervals between consecutive catalog commits
        stage_wall: dict[str, float] = {}
        stage_span: dict[str, Span] = {}
        prev = pass_span.start
        for c in commits:
            stage = "records" if c.attrs["table"].startswith("records_") else c.attrs["table"]
            s = tracer.add(f"pipeline.{stage}", prev, c.end, pass_span)
            stage_wall[stage] = stage_wall.get(stage, 0.0) + s.duration
            stage_span.setdefault(stage, s)
            prev = c.end
        pass_jobs = jobs_under(jobs, tracer, [pass_span])
        out = {f"pipeline.{st}.wall_s": stage_wall.get(st, 0.0) for st in self.STAGES}
        out["pipeline.spark_jobs"] = len(pass_jobs)

        topk = [s for s in under if s.name == "blocking.top_k_token_join"]
        cand_commit = [c for c in commits if c.attrs["table"] == "candidates"]
        block_tasks = [t for j in jobs_under(jobs, tracer, topk + cand_commit) for t in j.tasks]
        out["blocking.shuffle_write_mb"] = sum(t.shuffle_write_bytes for t in block_tasks) / MB
        out["blocking.task_skew"] = eventlog.task_skew(block_tasks)
        out["blocking.top_k_token_join.wall_s"] = _dur(topk + cand_commit)
        out["blocking.kernel.dense"] = 0

        pred_tasks = [
            t for j in pass_jobs
            if stage_span["predictions"].covers(j.submit_ms / 1e3) for t in j.tasks
        ]
        out["matcher.train.wall_s"] = _dur([s for s in under if s.name == "matcher.train"])
        out["matcher.python_time_s"] = sum(t.python_run_ms for t in pred_tasks) / 1e3
        out["matcher.python_sent_mb"] = sum(t.python_sent_bytes for t in pred_tasks) / MB

        for key in ("best_threshold", "umc", "cc"):
            spans_ = [s for s in under if s.name == f"clustering.{key}"]
            out[f"clustering.{key}.wall_s"] = _dur(spans_)
            if key != "best_threshold":
                out[f"clustering.{key}.spark_jobs"] = len(jobs_under(jobs, tracer, spans_))
        return out


def _pairs_per_s(kernel, a: list[str], b: list[str]) -> float:
    if not a:
        return 0.0
    kernel(a, b)  # first call pays imports and allocation
    reps, t0 = 0, time.perf_counter()
    while True:
        kernel(a, b)
        reps += 1
        elapsed = time.perf_counter() - t0
        if elapsed >= REPLAY_MIN_S:
            return reps * len(a) / elapsed


# --------------------------------------------------------------------------
# overlap_dense / overlap_sparse
# --------------------------------------------------------------------------

# The two contract queries whose operator picks, at runtime, the dense
# block-matmul grid or the sparse xxhash64 posting join, and that operator.
QUERY_OPERATOR = {
    "topk_token_join": "blocking.token_jaccard_join",
    "dedup_shingle_jaccard": "dedup.shingle_jaccard_pairs",
}


class Overlap:
    def __init__(self, name: str, kernel: str):
        self.name = name
        self.kernel = kernel  # "dense" or "sparse": what every query must run

    def setup(self, ctx: Context) -> int:
        import __spark_entry__

        d = ctx.work / "inputs"
        d.mkdir(parents=True, exist_ok=True)
        rows, dups = inputs.write_documents(self.name, ctx.seed, d)
        ctx.state.update(dir=str(d), dups=dups, queries=__spark_entry__.queries())
        # the DuckDB twins run beside the Spark warm-up; warmup() waits
        pool = ThreadPoolExecutor(1)
        ctx.state["oracle"] = pool.submit(self._oracle, ctx.state["dir"])
        pool.shutdown(wait=False)
        return rows

    def _query(self, ctx: Context, q: str):
        return ctx.state["queries"][q](ctx.spark, ctx.state["dir"])

    def run_pass(self, ctx: Context, tracer: Tracer | None = None):
        for q in QUERY_OPERATOR:
            with tracer.span(f"query.{q}") if tracer else contextlib.nullcontext():
                self._query(ctx, q).write.format("noop").mode("overwrite").save()
        return None

    def check_pass(self, ctx: Context, result, keep: bool = False) -> dict:
        return {}

    def warmup(self, ctx: Context) -> dict:
        """Collect every query's result (this is the warm-up pass), then
        check the kernel each query ran and its rows against DuckDB."""
        import ertransfer_spark.operators.gridsweep as gridsweep

        probe = Tracer()
        probe.wrap(gridsweep, "grid_cogroup", "gridsweep.grid_cogroup")
        got, kernel = {}, {}
        try:
            for q in QUERY_OPERATOR:
                with probe.span(f"query.{q}") as qs:
                    got[q] = self._query(ctx, q).toPandas()
                dense = any(s.name == "gridsweep.grid_cogroup" for s in probe.descendants(qs))
                kernel[q] = "dense" if dense else "sparse"
        finally:
            probe.unpatch()
        ctx.state["warm_s"] = _dur([s for s in probe.spans if s.parent is None])
        ctx.state["outputs"] = got
        for q, k in kernel.items():
            if k != self.kernel:
                raise CheckFailed(f"{q} ran the {k} kernel on {self.name}")
        return {"pairwise_f1": self._check_outputs(got, ctx.state.pop("oracle").result())}

    @staticmethod
    def _oracle(docs_dir: str) -> dict:
        """Each query's ``__spark_entry__.oracle_sql()`` twin, run in DuckDB
        over the same parquet."""
        import duckdb

        import __spark_entry__

        oracles = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 2")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs_dir}/documents.parquet'")
            return {q: con.sql(oracles[q]).df() for q in QUERY_OPERATOR}
        finally:
            con.close()

    @staticmethod
    def _check_outputs(got: dict, want: dict) -> float:
        """Every query must equal its DuckDB twin; returns the lowest
        pairwise F1 against the twins' pairs (1.0, or the check has
        already failed)."""
        for q in QUERY_OPERATOR:
            problem = frame_mismatch(got[q], want[q])
            if problem:
                raise CheckFailed(f"{q} differs from its DuckDB oracle: {problem}")
        return min(pair_f1(got[q], want[q]) for q in QUERY_OPERATOR)

    def trace_wrappers(self, tracer: Tracer) -> None:
        import ertransfer_spark.operators.blocking as blocking
        import ertransfer_spark.operators.dedup as dedup
        import ertransfer_spark.operators.gridsweep as gridsweep

        def blocks(span, args, kwargs, result):
            span.attrs["blocks"] = result
            span.attrs["triangular"] = kwargs.get("triangular", args[3] if len(args) > 3 else False)

        tracer.wrap(blocking, "token_jaccard_join", "blocking.token_jaccard_join")
        tracer.wrap(dedup, "shingle_jaccard_pairs", "dedup.shingle_jaccard_pairs")
        tracer.wrap(gridsweep, "grid_cogroup", "gridsweep.grid_cogroup")
        tracer.wrap(gridsweep, "grid_blocks", "gridsweep.grid_blocks", on_return=blocks)

    def extras(self, ctx: Context, result) -> dict:
        """Time the MinHash LSH path of ``operators.dedup``, which neither
        query of a pass runs: the ``dedup_minhash_fast`` query to a noop
        sink, once to compile and once timed."""
        def run():
            t0 = time.perf_counter()
            self._query(ctx, "dedup_minhash_fast").write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        run()
        return {"dedup.minhash_dedup.wall_s": run()}

    def layer_metrics(self, ctx: Context, tracer: Tracer, pass_span: Span, jobs) -> dict:
        under = tracer.descendants(pass_span)
        query = {s.name.removeprefix("query."): s for s in under if s.name.startswith("query.")}
        out = {f"{op}.wall_s": query[q].duration for q, op in QUERY_OPERATOR.items()}

        join = query["topk_token_join"]
        block_tasks = [t for j in jobs_under(jobs, tracer, [join]) for t in j.tasks]
        top = ctx.state["outputs"]["topk_token_join"]
        # generated near-duplicates that straddle the A (even) / B (odd) split
        cross = {(s, c) if s % 2 == 0 else (c, s) for s, c in ctx.state["dups"] if (s + c) % 2}
        out["blocking.candidates"] = len(top)
        out["blocking.pair_completeness"] = (
            len(cross & set(zip(top["a_id"], top["b_id"]))) / len(cross) if cross else 0.0
        )
        out["blocking.shuffle_write_mb"] = sum(t.shuffle_write_bytes for t in block_tasks) / MB
        out["blocking.task_skew"] = eventlog.task_skew(block_tasks)
        out["dedup.pairs_out"] = len(ctx.state["outputs"]["dedup_shingle_jaccard"])

        dense_q = [
            s for s in query.values()
            if any(d.name == "gridsweep.grid_cogroup" for d in tracer.descendants(s))
        ]
        out["blocking.kernel.dense"] = int(join in dense_q)
        cells = 0
        for s in dense_q:
            grids = [d.attrs for d in tracer.descendants(s) if d.name == "gridsweep.grid_blocks"]
            if any(g["triangular"] for g in grids):
                cells += sum(g["blocks"] * (g["blocks"] + 1) // 2 for g in grids)
            elif grids:
                cells += math.prod(g["blocks"] for g in grids)
        grid_tasks = [
            t for j in jobs_under(jobs, tracer, dense_q) for t in j.tasks if t.python_sent_bytes
        ]
        out["gridsweep.cells"] = cells
        out["gridsweep.task_skew"] = eventlog.task_skew(grid_tasks)
        out["gridsweep.python_sent_mb"] = sum(t.python_sent_bytes for t in grid_tasks) / MB
        return out


WORKLOADS = {
    "er_pipeline": ErPipeline(),
    "overlap_dense": Overlap("overlap_dense", "dense"),
    "overlap_sparse": Overlap("overlap_sparse", "sparse"),
}
