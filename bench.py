#!/usr/bin/env python
"""Benchmark driver: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus the end-to-end ER
pipeline on a deterministically synthesized transcript corpus sized to the
SF. Prints ONE JSON line:

  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...,
   "er_turns": N, "er_turns_per_sec": T, "cpus": C}

Each query is forced end-to-end with the noop sink (full materialization,
no driver collect, no disk write). One untimed warm-up pass over the same
queries and the pipeline runs first, so JVM start-up, class loading and
codegen do not land on the first query timed.
``--reps N`` runs N timed passes and keeps each query's best time; the
value is the sum of the bests, and ``"reps"`` in the result line says how
many passes it took them from. If any query fails, the run prints no
result line and exits non-zero. The N→4N scaling evidence comes from
scripts/bench_scaling.py (see BENCH.md).

    SPARK_GRAFT_CPUS=4 python bench.py --reps 3
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from collections.abc import Sequence
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

HEADLINE = [
    # the ER core: blocking join, matching, clustering
    "topk_token_join",
    "topk_union_join",
    "topk_rare_union",
    "attr_pair_features",
    "tfidf_pair_cosine",
    "reciprocal_top1",
    "threshold_sweep",
    "umc_greedy",
    "connected_components",
    # dedup suite
    "dedup_exact_stats",
    "dedup_shingle_jaccard",
    "dedup_minhash_fast",
    "simhash",
    # similarity search
    "ann_cosine_topk",
    "ann_lsh_topk",
    # transcript-shaped + text analysis + multimodal
    "canonicalize_events",
    "sessionize_events",
    "quality_scores",
    "binary_meta",
    # relational
    "pricing_summary",
    "top_customers_per_nation",
]


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_er_pipeline(spark, sf: float) -> tuple[int, float]:
    """End-to-end transcript ER at a corpus size scaled to the SF.
    Returns (total input turns, wall seconds)."""
    from ertransfer_spark.plans.pipeline import ERPipeline, PipelineConfig
    from ertransfer_spark.synth import SynthConfig, generate, to_spark

    n_conv = max(200, int(20000 * sf))
    ta, tb, matches = generate(SynthConfig(n_conversations=n_conv, seed=42))
    sa, sb = to_spark(spark, ta), to_spark(spark, tb)
    m = spark.createDataFrame(matches)
    turns = len(ta) + len(tb)
    workdir = tempfile.mkdtemp(prefix="bench_er_")
    try:
        t0 = time.time()
        pipe = ERPipeline(spark, workdir, PipelineConfig(k=5))
        out = pipe.run(sa, sb, m, resume=False)
        force(out["clusters"])
        wall = time.time() - t0
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    return turns, wall


def main(argv: Sequence[str] = ()) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--reps", type=int, default=1, help="timed passes; each query keeps its best")
    args = ap.parse_args(list(argv))
    if args.reps < 1:
        ap.error("--reps must be at least 1")

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    try:
        sf = float(Path(sf_dir).name.replace("sf", ""))
    except ValueError:
        sf = 0.1

    from ertransfer_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark("bench", cpus=cpus, shuffle_partitions=max(cpus, 16))
    qs = entrymod.queries()
    best: dict[str, float] = {}
    for timed in [False] + [True] * args.reps:   # warm-up, then the timed passes
        times = run_headline(spark, qs, sf_dir)
        er_turns, er_wall = run_er_pipeline(spark, sf)
        times["er_pipeline"] = round(er_wall, 3)
        if timed:
            best = {k: min(v, best.get(k, v)) for k, v in times.items()}

    total = round(sum(best.values()), 3)
    er_wall = best["er_pipeline"]
    print(
        json.dumps(
            {
                "metric": "headline_queries_plus_er_pipeline_wall",
                "value": total,
                "unit": "sec",
                "queries": best,
                "sf": sf,
                "cpus": cpus,
                "reps": args.reps,
                "er_turns": er_turns,
                "er_turns_per_sec": round(er_turns / er_wall, 1) if er_wall > 0 else 0.0,
            }
        )
    )
    spark.stop()


def run_headline(spark, qs, sf_dir: str) -> dict[str, float]:
    """One pass over HEADLINE → {name: seconds}. Exits non-zero, with no
    result line, if any query fails."""
    times: dict[str, float] = {}
    failed: list[str] = []
    for name in HEADLINE:
        t0 = time.time()
        try:
            force(qs[name](spark, sf_dir))
            times[name] = round(time.time() - t0, 3)
        except Exception as e:  # noqa: BLE001 — a broken query must not hide the rest
            failed.append(name)
            print(f"# bench {name} FAILED: {type(e).__name__}: {str(e)[:200]}", file=sys.stderr)
    if failed:
        # a failed query has no time: a total without it would look faster
        spark.stop()
        sys.exit(f"# bench: {len(failed)} of {len(HEADLINE)} queries failed ({', '.join(failed)}); no value")
    return times


if __name__ == "__main__":
    main(sys.argv[1:])
