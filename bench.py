#!/usr/bin/env python
"""Benchmark driver: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus the end-to-end ER
pipeline on a deterministically synthesized transcript corpus sized to the
SF. Prints ONE JSON line:

  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...,
   "er_turns": N, "er_turns_per_sec": T, "cpus": C}

Each query is forced end-to-end with the noop sink (full materialization,
no driver collect, no disk write). If any query fails, the run prints no
result line and exits non-zero. Run with SPARK_GRAFT_CPUS=8 and =32 on
the same input to evidence the N→4N scaling rule (see BENCH.md).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
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


def main() -> None:
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

    er_turns, er_wall = run_er_pipeline(spark, sf)
    times["er_pipeline"] = round(er_wall, 3)

    total = round(sum(times.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_plus_er_pipeline_wall",
                "value": total,
                "unit": "sec",
                "queries": times,
                "sf": sf,
                "cpus": cpus,
                "er_turns": er_turns,
                "er_turns_per_sec": round(er_turns / er_wall, 1) if er_wall > 0 else 0.0,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
