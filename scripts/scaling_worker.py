"""One scaling-measurement run: one ``ERPipeline.run`` (canonicalize →
shingle top-K blocking → feature UDFs → logistic matcher → UMC
clustering, every stage committed to a snapshot catalog) at a given core
count, on a deterministic synthetic corpus.

Usage: python scripts/scaling_worker.py CPUS [N_CONV]

Prints one JSON line {cpus, n_conv, turns, scored_pairs, wall_s,
turns_per_sec, pairs_per_sec, f1, stages}. Invoked in a FRESH process per
core count (a JVM's local[N] master is fixed at startup) by
scripts/bench_scaling.py.
"""

from __future__ import annotations

import json
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def run(spark, n_conv: int) -> dict:
    """Time one ``ERPipeline.run`` over ``n_conv`` synthetic conversations
    (seed 42) on ``spark``; the catalog lives in a temp dir removed
    afterwards."""
    from ertransfer_spark.operators.canonicalize import canonicalize
    from ertransfer_spark.plans.pipeline import ERPipeline, PipelineConfig
    from ertransfer_spark.synth import SynthConfig, generate_spark

    # Input materialization is distributed (executor-side mapInPandas — no
    # driver Arrow ingest; identical rows at any parallelism, asserted in
    # tests/test_scaling_path.py) and happens BEFORE the timed window: the
    # measured pipeline starts from a materialized input table, the same
    # starting line a real deployment's table scan gives both cluster
    # sizes.
    sa, sb, matches = generate_spark(spark, SynthConfig(n_conversations=n_conv, seed=42))
    sa = sa.localCheckpoint()
    sb = sb.localCheckpoint()
    matches = matches.localCheckpoint()
    turns = sa.count() + sb.count()

    # JVM warm-up, OUTSIDE the timed window: run the aggregation/shuffle
    # codegen paths once over a small slice so the first timed job does
    # not pay one-time JVM costs (JIT compilation, heap expansion to the
    # configured size) that a real deployment's long-running executors
    # never see. Measured: the first heavy shuffle job on a cold 48g JVM
    # drew 60-110 s at 480k/32c where the same job takes 13-17 s warm.
    canonicalize(sa.limit(150_000)).write.format("noop").mode("overwrite").save()

    # max_token_df=500 is the per-block comparison budget (the contract
    # queries' df cap): head-vocabulary stop-shingles grow df about
    # linearly with corpus size, so their join output grows quadratically;
    # the cap bounds every block to <= 250k comparisons.
    cfg = PipelineConfig(k=25, max_token_df=500)
    with tempfile.TemporaryDirectory(prefix="scaling-") as workdir:
        pipe = ERPipeline(spark, workdir, cfg)
        t0 = time.time()
        out = pipe.run(sa, sb, matches, resume=False)
        wall = time.time() - t0
        cat = pipe.catalog
        n_pairs = cat.manifest("predictions")["rows"]
        lin = cat.lineage().collect()
        lin.sort(key=lambda r: cat.manifest(r["stage"])["committed_at"])
    return {
        "n_conv": n_conv,
        "turns": turns,
        "scored_pairs": n_pairs,
        "wall_s": round(wall, 2),
        "turns_per_sec": round(turns / wall, 1),
        "pairs_per_sec": round(n_pairs / wall, 1),
        "f1": round(out["metrics"]["f1"], 4),
        "stages": {r["stage"]: round(r["wall_ms"] / 1000, 2) for r in lin},
    }


def main() -> None:
    from ertransfer_spark.session import get_spark

    cpus = int(sys.argv[1])
    n_conv = int(sys.argv[2]) if len(sys.argv) > 2 else 10000
    spark = get_spark("scaling", cpus=cpus, shuffle_partitions=max(cpus * 2, 64))
    print(json.dumps({"cpus": cpus, **run(spark, n_conv)}))
    spark.stop()


if __name__ == "__main__":
    main()
