"""End-to-end ER pipeline plan — the four reference stages as one resumable
Spark job graph (SURVEY §3: normalize → filtering → matching → clustering).

Every stage commits a snapshot through :class:`SnapshotCatalog` and appends
one lineage row (stage, rows written, label matches, wall_ms, run_id). The
counts are read from the files the commit wrote, so lineage costs no extra
Spark job. ``resume=True`` skips any
stage whose snapshot is already committed — kill the driver at any stage
boundary and rerun: only the remaining stages execute (the north-rule
checkpoint/resume contract; reference precedent is only model-checkpoint
reuse, methods/emtransformer/entrypoint.py:83-87,179-202).

The predictions stage featurizes the candidate pairs once per run
(:meth:`ERPipeline._featurize`) into one ``localCheckpoint()``ed frame,
computed by one job spread over at least the session's parallelism, that
the train split, the train-cap count, the fit (IRLS, Spark ML or the
unsupervised GMM) and scoring all read.
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ertransfer_spark.operators.blocking import top_k_token_join
from ertransfer_spark.operators.canonicalize import canonicalize
from ertransfer_spark.operators.clustering import (
    best_threshold,
    clusters_from_pairs,
    exact_clusters,
    pairwise_metrics,
    unique_mapping_clusters,
)
from ertransfer_spark.operators.labeling import (
    attach_labels,
    referential_filter,
    stratified_split,
)
from ertransfer_spark.operators.matcher import (
    FEATURES,
    attach_pair_text,
    evaluate_predictions,
    featurize,
    score,
    train_matcher,
)
from ertransfer_spark.sources.catalog import SnapshotCatalog


@dataclass
class PipelineConfig:
    k: int = 5
    metric: str = "jaccard"
    tokens_col: str = "shingle_set"  # blocking token column from canonicalize
    qgram: int | None = None         # block on agValue q-grams instead of
                                     # tokens_col (reference splitter QGram=N)
    qgram_multiset: bool = True      # settings.py 'multiset' switch: False →
                                     # distinct-gram sets (d5-d7/d10 recipes)
    direction: str = "fwd"           # fwd|rev|union: K per A record, per B
                                     # record (J3), or per node on BOTH
                                     # sides (pyJedAI graph pruning; d10)
    blocker: str = "token"           # token (J1) | vector (J2 feature-hash LSH)
    max_token_df: int | None = None
    keep_rare_df: int | None = None  # rare-token pass-through keep-rule:
                                     # pairs sharing a token with combined
                                     # df ≤ N bypass the top-K rank filter
    posting_budget: int | None = None
    min_sim: float = 0.0
    algorithm: str = "logreg"
    train_sample_cap: int = 100_000  # logreg driver-IRLS fit: deterministic
                                     # hash-sample cap — bounds driver
                                     # memory at any SF
    train_params: dict | None = None  # estimator hyperparameter overrides,
                                     # e.g. {"numTrees": 100, "maxDepth": 16};
                                     # set, they select the Spark ML fit
                                     # (RF capacity is the measured lever on
                                     # hard-textual corpora: d3 0.70→0.79)
    clustering: str = "umc"          # umc | ec
    threshold: float | None = None   # None → tuned via single-pass sweep
    split_weights: tuple = (0.6, 0.2, 0.2)
    seed: int = 42
    tfidf: bool = False              # + corpus-IDF token cosine feature
    tfidf_max_df: int | None = None  # stop-token df cap for the tfidf join
    attrs: tuple = ()                # per-attribute features (tabular path;
                                     # requires run(raw_a=, raw_b=))
    attr_extra: tuple = ()           # extra (kind, attr) feature pairs


class ERPipeline:
    """Stages: records_a, records_b → candidates → predictions → matched_pairs
    → clusters (+ metrics & lineage tables)."""

    def __init__(self, spark: SparkSession, workdir: str, config: PipelineConfig | None = None):
        self.spark = spark
        self.catalog = SnapshotCatalog(spark, workdir)
        self.cfg = config or PipelineConfig()
        self.run_id = uuid.uuid4().hex[:12]

    def _stage(self, name: str, fn, resume: bool, label_col: str | None = None):
        """Commit ``fn()`` as stage ``name`` and append its lineage row.

        The counts come from the commit's own files, not from extra Spark
        jobs: the rows written from the parquet footers the manifest
        records, and the label matches (``label_col``) from that column of
        the committed snapshot."""
        if resume and self.catalog.exists(name):
            return self.catalog.read(name)
        t0 = time.time()
        self.catalog.commit(name, fn(), meta={"run_id": self.run_id})
        self.catalog.append_lineage(
            name, self.run_id, int((time.time() - t0) * 1000),
            matches=self.catalog.column_sum(name, label_col) if label_col else 0,
        )
        return self.catalog.read(name)

    def _featurize(self, pairs: DataFrame, raw_a: DataFrame | None = None,
                   raw_b: DataFrame | None = None) -> DataFrame:
        """The feature vector of every pair in ``pairs``, against the
        committed ``records_a``/``records_b``, lazily
        ``localCheckpoint()``ed: the first job that reads it (the
        train-cap count on the supervised path) computes it once, and
        training and scoring read its blocks instead of featurizing again.

        The joined pair rows are hash-repartitioned on (a_id, b_id) to
        ``max(defaultParallelism, input partitions)`` right before the
        Arrow UDF: a committed snapshot is often one AQE-coalesced file,
        and the UDF would otherwise run in one task. The shuffle sits
        after the text joins because a broadcast join keeps the
        partitioning of its streamed side, and the planner streams
        whichever side is larger — on small corpora the one-file records
        scan, not the pairs. The count is explicit so AQE cannot coalesce
        the UDF stage back; it is not ``spark.sql.shuffle.partitions``,
        since each extra Python task costs a fixed 150-250 ms on small
        inputs."""
        cfg = self.cfg
        ra, rb = self.catalog.read("records_a"), self.catalog.read("records_b")
        n = max(self.spark.sparkContext.defaultParallelism,
                pairs.rdd.getNumPartitions())
        text = attach_pair_text(pairs, ra, rb, truncate=256)
        ft = featurize(text.repartition(n, "a_id", "b_id"))
        if cfg.attrs:
            from ertransfer_spark.operators.matcher import attr_features

            ft, _ = attr_features(
                ft, raw_a, raw_b, list(cfg.attrs), extra=list(cfg.attr_extra)
            )
        if cfg.tfidf:
            from ertransfer_spark.operators.matcher import tfidf_cosine

            # idf's corpus size from the records manifests, not count() jobs
            n_docs = sum(self.catalog.manifest(t)["rows"] for t in ("records_a", "records_b"))
            ft = tfidf_cosine(ft, ra, rb, max_df=cfg.tfidf_max_df, n_docs=n_docs)
        return ft.localCheckpoint(eager=False)

    def run(
        self,
        transcripts_a: DataFrame,
        transcripts_b: DataFrame,
        golden_matches: DataFrame | None = None,
        resume: bool = True,
        resume_records: bool | None = None,
        raw_a: DataFrame | None = None,
        raw_b: DataFrame | None = None,
    ) -> dict:
        """``resume_records`` overrides ``resume`` for the records_a/b
        stages only — the tabular-injection seam (cli.py) commits canonical
        records before calling run() and those must be honored even under
        ``--no-resume`` (which recomputes every downstream stage).

        ``raw_a``/``raw_b``: the pre-canonicalization tables (``id`` +
        attribute columns) for ``cfg.attrs`` per-attribute matcher features
        — only the tabular path has these; transcript blobs use the
        agValue features (+ optional ``cfg.tfidf``)."""
        cfg = self.cfg
        if cfg.attrs and (raw_a is None or raw_b is None):
            raise ValueError("cfg.attrs requires run(raw_a=, raw_b=)")
        rec_resume = resume if resume_records is None else resume_records

        ra = self._stage("records_a", lambda: canonicalize(transcripts_a), rec_resume)
        rb = self._stage("records_b", lambda: canonicalize(transcripts_b), rec_resume)

        def _block():
            if cfg.blocker == "vector":
                from ertransfer_spark.operators.simsearch import vector_blocking

                return vector_blocking(ra, rb, k=cfg.k, tokens_col=cfg.tokens_col)
            ba, bb, tok_col, multiset = ra, rb, cfg.tokens_col, False
            if cfg.qgram:
                # reference splitter QGram=N blocking: multiset q-grams
                # of the canonical blob (settings.py per-dataset config)
                from ertransfer_spark.functions.text import qgrams

                qg = qgrams(F.col("agValue"), q=cfg.qgram,
                            multiset=cfg.qgram_multiset)
                ba, bb = ra.withColumn("qg", qg), rb.withColumn("qg", qg)
                tok_col, multiset = "qg", cfg.qgram_multiset
            return top_k_token_join(
                ba, bb, k=cfg.k, metric=cfg.metric, tokens_col=tok_col,
                multiset=multiset, direction=cfg.direction,
                max_token_df=cfg.max_token_df, keep_rare_df=cfg.keep_rare_df,
                posting_budget=cfg.posting_budget,
                min_sim=cfg.min_sim,
            )

        cand = self._stage("candidates", _block, resume)

        golden = None
        if golden_matches is not None:
            golden = referential_filter(golden_matches, ra, rb)

        labeled = cand
        if golden is not None:
            labeled = self._stage(
                "labeled", lambda: attach_labels(cand, golden), resume, label_col="label"
            )

        feature_cols = None
        if cfg.attrs or cfg.tfidf:
            attr_names = [
                f"{c}_{suffix}" for c in cfg.attrs
                for suffix in ("present", "lev", "jac")
            ] + [f"{c}_{k}" for k, c in cfg.attr_extra]
            feature_cols = (
                FEATURES + attr_names + (["tfidf_cos"] if cfg.tfidf else [])
            )

        def _predict():
            # every consumer below (train split, train-cap count, scoring,
            # the unsupervised fit) reads this one materialised frame
            ft = self._featurize(labeled, raw_a, raw_b)
            if golden is not None and cfg.algorithm != "unsupervised":
                # the split hash reads only (a_id, b_id), so it selects the
                # same train rows from the featurized frame as from labeled
                train_ft = stratified_split(ft, cfg.split_weights, cfg.seed)["train"]
                # logreg fits by driver IRLS (coefficients become plan
                # literals): Spark ML LBFGS's maxIter tree-aggregate jobs
                # are a 10-200 s fixed floor that scales with nothing
                # (BENCH.md r2); train_params select the Spark ML fit
                if cfg.algorithm == "logreg" and not cfg.train_params:
                    from ertransfer_spark.operators.matcher import (
                        train_matcher_local,
                    )

                    # deterministic hash-sample cap (cfg.train_sample_cap):
                    # the boundary estimate doesn't improve past ~100k
                    # pairs. Positives ALWAYS pass — on label-scarce
                    # corpora a label-blind sample can nearly erase them
                    # and degenerate the IRLS boundary — so the driver
                    # collect is bounded by n_positives + ~cap (ceil keeps
                    # the negative sample <= cap; floor allowed up to 2x).
                    n_train = train_ft.count()
                    keep = max(1, -(-n_train // cfg.train_sample_cap))
                    if keep > 1:
                        train_ft = train_ft.filter(
                            (F.col("label") == 1)
                            | (F.pmod(
                                F.xxhash64("a_id", "b_id", F.lit(999)),
                                F.lit(keep),
                            ) == 0)
                        )
                    model = train_matcher_local(train_ft, feature_cols=feature_cols)
                else:
                    model = train_matcher(
                        train_ft, algorithm=cfg.algorithm,
                        seed=cfg.seed, feature_cols=feature_cols,
                        params=cfg.train_params,
                    )
                preds = score(model, ft)
            else:
                # no labels (or algorithm="unsupervised"): ZeroER-style GMM
                # over the similarity features — the reference paper's
                # no-labelled-instances regime (SURVEY M5)
                from ertransfer_spark.operators.matcher import (
                    score_unsupervised,
                    train_unsupervised,
                )

                um = train_unsupervised(ft, seed=cfg.seed, feature_cols=feature_cols)
                preds = score_unsupervised(um, ft)
            return preds

        preds = self._stage("predictions", _predict, resume)

        def _cluster():
            t = cfg.threshold
            if t is None and golden is not None:
                t = best_threshold(preds)
            elif t is None:
                t = 0.5
            if cfg.clustering == "umc":
                pairs = unique_mapping_clusters(preds, threshold=t)
            else:
                pairs = exact_clusters(preds, threshold=t)
            return pairs.withColumn("threshold", F.lit(float(t)))

        matched = self._stage("matched_pairs", _cluster, resume)
        clusters = self._stage("clusters", lambda: clusters_from_pairs(matched), resume)

        result = {"matched_pairs": matched, "clusters": clusters, "predictions": preds}
        if golden is not None:
            metrics = pairwise_metrics(matched, golden)
            # classifier-level (0.5-cutoff) diagnostics are namespaced so they
            # can't clobber the pairwise precision/recall/f1 — the reported
            # headline MUST be the clustering-vs-golden numbers (caught live:
            # d12 via CLI printed clf recall 0.093 while the actual pairwise
            # F1 of the same run was 0.449)
            metrics.update(
                {f"clf_{k}": v for k, v in evaluate_predictions(preds).items()}
            )
            row = {
                "run_id": self.run_id,
                "stage": "pipeline",
                **{k: float(v) for k, v in metrics.items()},
            }
            # a pandas frame crosses to the JVM through Arrow, with no
            # Python worker; sorted columns keep the schema the
            # list-of-dicts path inferred
            mdf = self.spark.createDataFrame(pd.DataFrame([row])[sorted(row)])
            self.catalog.commit("metrics", mdf, meta={"run_id": self.run_id})
            result["metrics"] = metrics
        return result
