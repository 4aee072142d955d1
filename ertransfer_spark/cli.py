"""Command-line entry point mirroring the reference's operational surface.

The reference is driven as per-stage argparse programs over a dataset
directory holding ``tableA.csv``, ``tableB.csv``, ``matches.csv``
(splitters/KNN-Join/splitter.py:135-207, methods/*/entrypoint.py,
clustering/Probabilities/entrypoint.py:51-109). This CLI runs the same
contract end-to-end on Spark — a reference user points it at the same
dataset directory and gets the same artifact kinds back:

    python -m ertransfer_spark.cli run <dataset_dir> <out_dir> \
        [--k 5] [--algorithm logreg|gbt|rf|dt|svm|linreg|nb|unsupervised] \
        [--clustering umc|ec] [--threshold T] \
        [--qgram N [--no-multiset]] [--max-token-df N] \
        [--reverse | --direction fwd|rev|union] [--clean] \
        [--tfidf [--tfidf-max-df N]] \
        [--attrs name,phone] [--attr-extra num:price,ovl:name] \
        [--train-params numTrees=100,maxDepth=16] [--cpus N]

The reference's own dataset recipes become single invocations, e.g. d1
(fodors-zagats, settings.py: clean=True QGram=4 dice reverse):

    python -m ertransfer_spark.cli run datasets/d1_fodors_zagats out/ \
        --clean --qgram 4 --metric dice --reverse --k 5 --algorithm rf \
        --attrs name,phone_number,street

Outputs in <out_dir>:
    train.csv / valid.csv / test.csv   labeled candidate pairs (60/20/20)
    predictions.csv                    a_id, b_id, label, prob_class1
    clusters.csv                       node, side, raw_id, cluster_id
    metrics.txt                        f1/precision/recall + stage walls
    snapshots/                         resumable per-stage snapshots + lineage

Also usable via spark-submit (it builds its own session):
    spark-submit --py-files ertransfer_spark.zip -m ... # or the module path
"""

from __future__ import annotations

import argparse
import csv
import json
import sys
import time
from pathlib import Path


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="ertransfer_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    run = sub.add_parser("run", help="full blocking→matching→clustering pipeline")
    run.add_argument("dataset_dir", help="dir with tableA.csv tableB.csv [matches.csv]")
    run.add_argument("out_dir")
    run.add_argument("--k", type=int, default=5)
    run.add_argument("--metric", default="jaccard")
    run.add_argument("--algorithm", default="logreg",
                     choices=["logreg", "gbt", "rf", "dt", "svm", "linreg",
                              "nb", "unsupervised"])
    run.add_argument("--clustering", default="umc", choices=["umc", "ec"])
    run.add_argument("--threshold", type=float, default=None)
    run.add_argument("--tokens", default="token_set", choices=["token_set", "shingle_set"])
    run.add_argument("--qgram", type=int, default=None,
                     help="block on agValue q-grams of this size instead of "
                          "--tokens (the reference splitter's QGram=N configs)")
    run.add_argument("--no-multiset", action="store_true",
                     help="distinct q-gram sets instead of multisets "
                          "(settings.py multiset=False, the d5-d7/d10 recipes)")
    run.add_argument("--keep-rare-df", type=int, default=None,
                     help="rare-token pass-through: keep any pair sharing a "
                          "token with combined df_a+df_b <= N regardless of "
                          "top-K rank (recovers rank-dropped rare-evidence "
                          "pairs; df-bounded candidate volume)")
    run.add_argument("--max-token-df", type=int, default=None,
                     help="drop blocking tokens above this document frequency "
                          "(stop-token quadratic-blowup guard; required for "
                          "long-prose sides like d5-d7 abstracts)")
    side = run.add_mutually_exclusive_group()
    side.add_argument("--reverse", action="store_const", dest="direction", const="rev",
                      default="fwd",
                      help="spend the K budget on the larger B side (J3); "
                           "same as --direction rev")
    side.add_argument("--direction", choices=["fwd", "rev", "union"], default="fwd",
                      help="top-K budget side; union = K per node on BOTH "
                           "sides (pyJedAI graph pruning — the d10 recipe)")
    run.add_argument("--clean", action="store_true",
                     help="stopword removal + Snowball (Porter2) stemming "
                          "before blocking (the reference's clean=True)")
    run.add_argument("--tfidf", action="store_true",
                     help="add the corpus-IDF token-cosine matcher feature "
                          "(lifts hard textual datasets; see SURVEY §8 F5)")
    run.add_argument("--tfidf-max-df", type=int, default=None,
                     help="drop tokens above this document frequency from the "
                          "tfidf feature (stop-token scale guard)")
    run.add_argument("--attrs", default=None,
                     help="comma-separated attribute columns for Magellan-style "
                          "per-attribute matcher features (presence/levenshtein/"
                          "jaccard each), e.g. --attrs name,phone_number,street")
    run.add_argument("--attr-extra", default=None,
                     help="extra per-attribute feature kinds as kind:attr pairs "
                          "(kinds: num, ovl, qg3, date), e.g. "
                          "--attr-extra num:price,ovl:name,date:released")
    run.add_argument("--train-params", default=None,
                     help="estimator hyperparameter overrides as name=value "
                          "pairs (ints/floats auto-coerced), e.g. "
                          "--train-params numTrees=100,maxDepth=16")
    run.add_argument("--cpus", type=int, default=None)
    run.add_argument("--no-resume", action="store_true")
    return p


def parse_train_params(spec: str) -> dict:
    """Parse ``--train-params name=value,...`` into estimator kwargs,
    coercing int then float and leaving everything else a string (Spark ML
    Params apply their own typeConverter on set)."""
    def _coerce(v):
        for cast in (int, float):
            try:
                return cast(v)
            except ValueError:
                pass
        return v

    return {
        k: _coerce(v)
        for k, v in (pair.split("=", 1) for pair in spec.split(","))
    }


def cmd_run(args) -> int:
    from ertransfer_spark.operators.canonicalize import canonicalize_table
    from ertransfer_spark.operators.labeling import stratified_split
    from ertransfer_spark.plans.pipeline import ERPipeline, PipelineConfig
    from ertransfer_spark.session import get_spark
    from ertransfer_spark.sources.normalizer import (
        read_csv_normalized,
        read_matches_normalized,
    )

    ds = Path(args.dataset_dir)
    out = Path(args.out_dir)
    out.mkdir(parents=True, exist_ok=True)
    spark = get_spark("ertransfer-cli", cpus=args.cpus)
    t0 = time.time()

    ta = read_csv_normalized(spark, str(ds / "tableA.csv"))
    tb = read_csv_normalized(spark, str(ds / "tableB.csv"))
    matches_path = ds / "matches.csv"
    matches = None
    if matches_path.exists():
        from pyspark.sql import functions as F

        # operators resolve match-edge sides by the a*/b* prefix convention
        matches = read_matches_normalized(spark, str(matches_path)).select(
            F.col("tableA_id").alias("a_conv_id"),
            F.col("tableB_id").alias("b_conv_id"),
        )

    ra = canonicalize_table(ta, clean=args.clean).cache()
    rb = canonicalize_table(tb, clean=args.clean).cache()

    if args.no_multiset and args.qgram is None:
        print("warning: --no-multiset has no effect without --qgram "
              "(multiset vs set only applies to q-gram blocking)", file=sys.stderr)

    attrs = tuple(s.strip() for s in args.attrs.split(",")) if args.attrs else ()
    attr_extra = ()
    if args.attr_extra:
        attr_extra = tuple(
            tuple(pair.split(":", 1)) for pair in args.attr_extra.split(",")
        )
    train_params = (
        parse_train_params(args.train_params) if args.train_params else None
    )
    cfg = PipelineConfig(
        k=args.k, metric=args.metric, algorithm=args.algorithm,
        train_params=train_params,
        clustering=args.clustering, threshold=args.threshold,
        tokens_col=args.tokens, tfidf=args.tfidf, tfidf_max_df=args.tfidf_max_df,
        attrs=attrs, attr_extra=attr_extra,
        qgram=args.qgram, qgram_multiset=not args.no_multiset,
        max_token_df=args.max_token_df, keep_rare_df=args.keep_rare_df,
        direction=args.direction,
    )
    pipe = ERPipeline(spark, str(out / "snapshots"), cfg)

    # the pipeline canonicalizes transcripts itself; for tabular inputs we
    # inject the already-canonical records through the snapshot seam
    pipe.catalog.commit("records_a", ra, meta={"source": str(ds / "tableA.csv")})
    pipe.catalog.commit("records_b", rb, meta={"source": str(ds / "tableB.csv")})
    # --no-resume must still honor the records_a/b snapshots committed just
    # above (the tabular-input injection seam): commit() always wrote a NEW
    # snapshot, so even with downstream resume disabled the freshest records
    # are what the pipeline reads. Every later stage is recomputed.
    result = pipe.run(
        spark.createDataFrame([], "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"),
        spark.createDataFrame([], "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"),
        golden_matches=matches,
        resume=not args.no_resume,
        resume_records=True,
        raw_a=ta, raw_b=tb,
    )

    def write_csv(df, name):
        # streamed a partition at a time (the next one prefetched): driver
        # memory holds two partitions, not the whole result
        with open(out / name, "w", newline="") as f:
            w = csv.writer(f, lineterminator="\n")
            w.writerow(df.columns)
            w.writerows(df.toLocalIterator(prefetchPartitions=True))

    if matches is not None:
        labeled = pipe.catalog.read("labeled")
        splits = stratified_split(labeled, cfg.split_weights, cfg.seed)
        for split_name, df in splits.items():
            write_csv(df, f"{split_name}.csv")
    write_csv(result["predictions"], "predictions.csv")
    write_csv(result["clusters"], "clusters.csv")

    wall = time.time() - t0
    lines = [f"wall_s: {wall:.1f}"]
    if "metrics" in result:
        for k, v in result["metrics"].items():
            lines.append(f"{k}: {v}")
    (out / "metrics.txt").write_text("\n".join(lines) + "\n")
    print(json.dumps({"out_dir": str(out), "wall_s": round(wall, 1),
                      **({k: round(float(v), 4) for k, v in result.get("metrics", {}).items()
                          if k in ("f1", "precision", "recall")})}))
    spark.stop()
    return 0


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    if args.cmd == "run":
        return cmd_run(args)
    return 2


if __name__ == "__main__":
    sys.exit(main())
