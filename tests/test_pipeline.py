"""End-to-end pipeline parity (FIXTURES.md §6.5) + snapshot resume."""

from __future__ import annotations

import pandas as pd
import pytest

from ertransfer_spark.oracle import pandas_oracle as oracle
from ertransfer_spark.plans.pipeline import ERPipeline, PipelineConfig


@pytest.fixture()
def workdir(tmp_path):
    return str(tmp_path / "er")


def count_featurize(monkeypatch) -> list[int]:
    """Count the pipeline's calls to ``featurize``; returns a one-element
    list holding the count."""
    import ertransfer_spark.plans.pipeline as pipeline

    calls = [0]
    real = pipeline.featurize

    def counted(df):
        calls[0] += 1
        return real(df)

    monkeypatch.setattr(pipeline, "featurize", counted)
    return calls


def test_pipeline_f1_vs_golden(spark, spark_corpora, workdir):
    ta, tb, matches = spark_corpora
    pipe = ERPipeline(spark, workdir, PipelineConfig(k=5))
    out = pipe.run(ta, tb, matches)
    assert out["metrics"]["f1"] >= 0.99

    # cluster assignment agrees with union-find over the accepted pairs
    pairs_pd = out["matched_pairs"].select("a_id", "b_id").toPandas()
    want = oracle.connected_components(pairs_pd)
    got = out["clusters"].toPandas()
    assert dict(zip(got["node"], got["cluster_id"])) == want

    # lineage rows exist for every stage
    lin = pipe.catalog.lineage().toPandas()
    for stage in ["records_a", "records_b", "candidates", "labeled", "predictions", "matched_pairs", "clusters"]:
        assert stage in set(lin["stage"]), stage


def test_pipeline_resume_skips_committed_stages(spark, spark_corpora, workdir):
    ta, tb, matches = spark_corpora
    pipe = ERPipeline(spark, workdir, PipelineConfig(k=5))
    out1 = pipe.run(ta, tb, matches)

    # second run with resume must not recompute: candidates snapshot count
    cat = pipe.catalog
    snaps_before = {t: len(cat.snapshots(t)) for t in ["candidates", "predictions", "matched_pairs"]}
    pipe2 = ERPipeline(spark, workdir, PipelineConfig(k=5))
    out2 = pipe2.run(ta, tb, matches)
    snaps_after = {t: len(cat.snapshots(t)) for t in snaps_before}
    assert snaps_before == snaps_after  # nothing rewritten
    p1 = out1["matched_pairs"].select("a_id", "b_id").toPandas().sort_values(["a_id", "b_id"]).reset_index(drop=True)
    p2 = out2["matched_pairs"].select("a_id", "b_id").toPandas().sort_values(["a_id", "b_id"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(p1, p2)


def test_snapshot_catalog_atomicity(spark, tmp_path):
    from ertransfer_spark.sources.catalog import SnapshotCatalog

    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    df = spark.range(10).withColumnRenamed("id", "x")
    cat.commit("t", df)
    assert cat.exists("t")
    assert cat.read("t").count() == 10
    # a second commit becomes the new snapshot; the old stays readable
    cat.commit("t", spark.range(5).withColumnRenamed("id", "x"))
    assert cat.read("t").count() == 5
    assert cat.read("t", "snap-00000").count() == 10
    m = cat.manifest("t")
    assert m["snapshot"] == "snap-00001"


def test_snapshot_catalog_kill_conformance(spark, tmp_path):
    """Manifest-last atomicity under kill: a snapshot directory whose
    manifest never landed (killed mid-commit) and a leftover _tmp staging
    dir are both invisible to exists()/read(); the next commit claims a
    fresh snapshot id and the table stays consistent."""
    import shutil

    from ertransfer_spark.sources.catalog import SnapshotCatalog

    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    df = spark.range(10).withColumnRenamed("id", "x")
    cat.commit("t", df)

    tdir = tmp_path / "cat" / "t"
    # simulate a kill AFTER the parquet rename but BEFORE the manifest write
    shutil.copytree(tdir / "snap-00000", tdir / "snap-00001")
    (tdir / "snap-00001" / "_MANIFEST.json").unlink()
    # and a kill DURING the parquet write (staging dir left behind)
    shutil.copytree(tdir / "snap-00000", tdir / "_tmp-deadbeef")

    assert [p.name for p in cat.snapshots("t")] == ["snap-00000"]
    assert cat.read("t").count() == 10
    assert cat.manifest("t")["snapshot"] == "snap-00000"

    # recovery: a rerun commit lands cleanly as a NEW visible snapshot
    cat.commit("t", spark.range(3).withColumnRenamed("id", "x"))
    assert cat.read("t").count() == 3


def test_snapshot_catalog_append_mode(spark, tmp_path):
    """append() commits deltas: read() unions every append since the last
    overwrite; an overwrite resets the visible set."""
    from ertransfer_spark.sources.catalog import SnapshotCatalog

    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    mk = lambda n, v: spark.range(n).selectExpr(f"id + {v} as x")
    cat.commit("t", mk(2, 0))
    cat.append("t", mk(3, 100))
    cat.append("t", mk(1, 200))
    assert cat.read("t").count() == 6
    assert cat.read("t", "snap-00001").count() == 3  # a delta alone
    cat.commit("t", mk(4, 0))  # overwrite resets
    assert cat.read("t").count() == 4


def test_unsupervised_pipeline_no_labels(spark, spark_corpora, tmp_path, monkeypatch):
    """ZeroER regime: NO golden matches given to the pipeline — the GMM
    matcher + fixed threshold must still recover the duplicate pairs
    (evaluated against the golden set only afterwards, externally)."""
    from ertransfer_spark.operators.clustering import pairwise_metrics

    ta, tb, matches = spark_corpora
    calls = count_featurize(monkeypatch)
    pipe = ERPipeline(spark, str(tmp_path / "unsup"), PipelineConfig(k=5))
    out = pipe.run(ta, tb, golden_matches=None, resume=False)
    m = pairwise_metrics(out["matched_pairs"], matches)
    assert m["f1"] >= 0.9, m
    # the GMM fit and its scoring read one featurized frame
    assert calls == [1]


def test_pipeline_tfidf_feature(spark, spark_corpora, workdir, monkeypatch):
    """PipelineConfig(tfidf=True) threads the corpus-IDF token-cosine
    feature through train AND score (feature_cols stays consistent) and
    holds the F1 bar; predictions carry the standard contract columns."""
    ta, tb, matches = spark_corpora
    calls = count_featurize(monkeypatch)
    pipe = ERPipeline(spark, workdir, PipelineConfig(k=5, tfidf=True))
    out = pipe.run(ta, tb, matches)
    assert out["metrics"]["f1"] >= 0.99
    assert {"a_id", "b_id", "prob_class1"} <= set(out["predictions"].columns)
    # train and score share one featurized frame, so one tfidf join
    assert calls == [1]


def test_pipeline_local_train_cap_keeps_positives(spark, spark_corpora, workdir):
    """With train_sample_cap far below the candidate count, the local-train
    hash sample must (a) keep EVERY positive (label-scarce corpora would
    otherwise lose the boundary) and (b) still produce a usable matcher —
    F1 stays at the uncapped bar on the synth corpus."""
    ta, tb, matches = spark_corpora
    pipe = ERPipeline(
        spark, workdir, PipelineConfig(k=5, train_sample_cap=50)
    )
    out = pipe.run(ta, tb, matches)
    assert out["metrics"]["f1"] >= 0.99


# Spark jobs one default pipeline run over the test corpus may submit: the
# stage commits plus the probes their operators need. Lineage counts are
# read from the committed files, so a new bookkeeping action shows up here.
MAX_PIPELINE_JOBS = 48


@pytest.fixture(scope="module")
def default_run(spark, spark_corpora, tmp_path_factory):
    """One default pipeline run under its own job group → (pipeline,
    output, ids of the Spark jobs it submitted)."""
    ta, tb, matches = spark_corpora
    sc = spark.sparkContext
    group = "pipeline-job-guard"
    pipe = ERPipeline(spark, str(tmp_path_factory.mktemp("er")), PipelineConfig(k=5))
    sc.setJobGroup(group, "default pipeline run")
    try:
        out = pipe.run(ta, tb, matches, resume=False)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return pipe, out, sc.statusTracker().getJobIdsForGroup(group)


COMMITTED = ["records_a", "records_b", "candidates", "labeled", "predictions",
             "matched_pairs", "clusters", "metrics"]


def test_pipeline_job_count_guard(default_run):
    _, out, jobs = default_run
    assert out["metrics"]["f1"] >= 0.99
    assert 0 < len(jobs) <= MAX_PIPELINE_JOBS


def test_lineage_counts_equal_snapshot_rows(default_run):
    """Every stage's lineage row carries the rows its snapshot holds, and
    the labeled stage its label matches — read from the committed files."""
    from pyspark.sql import functions as F

    pipe, _, _ = default_run
    cat = pipe.catalog
    lin = cat.lineage().toPandas().set_index("stage")
    assert set(lin.index) == set(COMMITTED) - {"metrics"}
    for stage, row in lin.iterrows():
        assert row["candidate_count"] == cat.read(stage).count(), stage
    n_pos = cat.read("labeled").agg(F.sum("label")).first()[0]
    assert lin.loc["labeled", "matches"] == n_pos > 0


def test_catalog_read_schema_equals_inferred(spark, default_run):
    """read() takes the schema from the manifest; it must be exactly what
    parquet inference returns, nested arrays included."""
    cat = default_run[0].catalog
    nested = False
    for t in COMMITTED:
        snap = cat.snapshots(t)[-1]
        want = spark.read.parquet(str(snap)).schema
        assert cat.read(t).schema == want, t
        nested |= any(f.dataType.typeName() == "array" for f in want.fields)
    assert nested


def test_spark_ml_model_still_scores_after_pipeline_run(spark, default_run):
    """A pipeline run leaves its session usable for Spark ML: a model that
    keeps a training summary must still evaluate afterwards (a session
    that has used a pyspark Observation fails here with Task not
    serializable)."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    df = spark.createDataFrame([(float(i % 2), float(i)) for i in range(8)], "label double, x double")
    ft = VectorAssembler(inputCols=["x"], outputCol="features").transform(df)
    model = LogisticRegression(maxIter=2).fit(ft)
    assert len(model.transform(ft).select("probability").collect()) == 8


def test_predictions_equal_two_featurize_reference(spark, spark_corpora, tmp_path, monkeypatch):
    """A default run featurizes once, and its predictions equal the
    reference that featurizes the train split and then every pair."""
    from ertransfer_spark.operators.matcher import (
        attach_pair_text,
        featurize,
        score,
        train_matcher_local,
    )
    from ertransfer_spark.operators.labeling import stratified_split

    ta, tb, matches = spark_corpora
    calls = count_featurize(monkeypatch)
    pipe = ERPipeline(spark, str(tmp_path / "er"), PipelineConfig(k=5))
    out = pipe.run(ta, tb, matches, resume=False)
    assert calls == [1]

    cat = pipe.catalog
    labeled, ra, rb = cat.read("labeled"), cat.read("records_a"), cat.read("records_b")
    train = stratified_split(labeled)["train"]
    model = train_matcher_local(featurize(attach_pair_text(train, ra, rb, truncate=256)))
    want = score(model, featurize(attach_pair_text(labeled, ra, rb, truncate=256)))

    key = ["a_id", "b_id"]
    got = out["predictions"].toPandas().sort_values(key).reset_index(drop=True)
    want = want.toPandas().sort_values(key).reset_index(drop=True)
    assert len(got) == len(want) == labeled.count()
    pd.testing.assert_frame_equal(got[key], want[key])
    assert (got["label"] == want["label"]).all()
    assert (got["prob_class1"] - want["prob_class1"]).abs().max() <= 1e-9


def test_featurized_frame_spreads_single_file_input(spark, default_run):
    """A one-partition pair input is featurized over at least the
    session's parallelism, not in one Arrow UDF task."""
    pipe = default_run[0]
    one = pipe.catalog.read("labeled").coalesce(1)
    assert one.rdd.getNumPartitions() == 1
    ft = pipe._featurize(one)
    assert ft.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    assert ft.count() == one.count()
