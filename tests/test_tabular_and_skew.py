"""FIXTURES §1 skew fixture + §4 tabular payload-agnostic parity."""

from __future__ import annotations

import random

from pyspark.sql import functions as F


def _fodors_zagats_like(n=80, seed=11):
    """Tiny reference-dataset-shaped corpus (id, name, phone_number,
    street) with perturbed B-side duplicates → (rows_a, rows_b, matches)."""
    rng = random.Random(seed)
    streets = ["main st", "oak ave", "sunset blvd", "elm dr", "pine rd"]
    words = ["cafe", "grill", "bistro", "palace", "garden", "house", "corner", "royal"]
    rows_a, rows_b, matches = [], [], []
    bi = 1000
    for i in range(n):
        name = f"{rng.choice(words)} {rng.choice(words)} {rng.randint(1, 99)}"
        phone = f"{rng.randint(200, 999)}-{rng.randint(200, 999)}-{rng.randint(1000, 9999)}"
        street = f"{rng.randint(1, 999)} {rng.choice(streets)}"
        rows_a.append((i, name, phone, street))
        if rng.random() < 0.5:
            # perturbed duplicate: phone format noise + street abbrev
            p2 = phone.replace("-", " ") if rng.random() < 0.5 else phone
            s2 = street.replace(" st", " street").replace(" ave", " avenue")
            n2 = name.upper() if rng.random() < 0.3 else name
            rows_b.append((bi, n2, p2, s2))
            matches.append((i, bi))
            bi += 1
    for j in range(n // 3):  # B-only noise records
        rows_b.append(
            (bi + j, f"{rng.choice(words)} {rng.randint(100, 199)}",
             f"{rng.randint(200, 999)}-0000-{rng.randint(1000, 9999)}",
             f"{rng.randint(1, 999)} {rng.choice(streets)}")
        )
    return rows_a, rows_b, matches


def test_tabular_pipeline_payload_agnostic(spark):
    """The reference's own domain shape (flat string attributes) runs the
    identical blocking→matching→clustering stages at F1 ≥ 0.95."""
    from ertransfer_spark.operators.blocking import top_k_token_join
    from ertransfer_spark.operators.canonicalize import canonicalize_table
    from ertransfer_spark.operators.clustering import (
        best_threshold,
        pairwise_metrics,
        unique_mapping_clusters,
    )
    from ertransfer_spark.operators.labeling import attach_labels, stratified_split
    from ertransfer_spark.operators.matcher import (
        attach_pair_text,
        featurize,
        score,
        train_matcher,
    )

    rows_a, rows_b, matches = _fodors_zagats_like()
    schema = "id long, name string, phone_number string, street string"
    ra = canonicalize_table(spark.createDataFrame(rows_a, schema)).cache()
    rb = canonicalize_table(spark.createDataFrame(rows_b, schema)).cache()
    golden = spark.createDataFrame(matches, "a_id long, b_id long")

    cand = top_k_token_join(ra, rb, k=5, tokens_col="token_set")
    labeled = attach_labels(cand, golden).cache()
    model = train_matcher(featurize(attach_pair_text(stratified_split(labeled)["train"], ra, rb)))
    preds = score(model, featurize(attach_pair_text(labeled, ra, rb))).cache()
    out = unique_mapping_clusters(preds, best_threshold(preds))
    m = pairwise_metrics(out, golden)
    assert m["f1"] >= 0.95, m


def test_skew_fixture_hot_token_and_mega_conversation(spark, monkeypatch):
    """FIXTURES §1 skew knobs: a hot token in 30% of conversations plus a
    mega-conversation. Hot-token salting must produce the same pairs as
    the unsalted join, and block_histogram must expose the hot block for
    lineage-driven sizing."""
    from ertransfer_spark.operators import overlap
    from ertransfer_spark.operators.blocking import block_histogram, top_k_token_join
    from ertransfer_spark.operators.canonicalize import canonicalize
    from ertransfer_spark.synth import SynthConfig, generate, to_spark

    cfg = SynthConfig(
        n_conversations=60, seed=21, hot_token="hotspot", hot_token_frac=0.3,
        mega_conv_turns=120,
    )
    ta, tb, _ = generate(cfg)
    ra, rb = canonicalize(to_spark(spark, ta)).cache(), canonicalize(to_spark(spark, tb)).cache()

    hist = block_histogram(ra, tokens_col="token_set").collect()
    comparisons = {int(r["df_bucket"]): int(r["comparisons"]) for r in hist}
    # the hot token lands in a high-df bucket with dominating comparison cost
    assert max(comparisons) >= 16

    # at the default HOT_PRODUCT no token of this corpus is salted; lowered
    # to 16, the hot token (df ≈ 18 per side) and every other token with
    # df_a·df_b > 16 take the salted path, fanned out over the cores
    assert spark.sparkContext.defaultParallelism > 1
    plain = top_k_token_join(ra, rb, k=3, tokens_col="token_set")
    p = sorted((r["a_id"], r["b_id"], r["sim"]) for r in plain.collect())
    monkeypatch.setattr(overlap, "HOT_PRODUCT", 16)
    salted = top_k_token_join(ra, rb, k=3, tokens_col="token_set")
    s = sorted((r["a_id"], r["b_id"], r["sim"]) for r in salted.collect())
    assert p == s  # salting never changes results
    df_a, df_b = (r.filter(F.array_contains("token_set", "hotspot")).count() for r in (ra, rb))
    assert 16 < df_a * df_b <= 65536  # salted only under the lowered constant

    # posting budgets bound a block's contribution without dropping dup pairs
    budgeted = top_k_token_join(ra, rb, k=3, tokens_col="shingle_set", posting_budget=50)
    assert budgeted.count() > 0


def test_vector_blocking_recall(spark, spark_corpora):
    """J2 as a blocker: feature-hashed embeddings + hyperplane LSH must
    recover nearly all golden near-dup pairs on the synth corpora."""
    from ertransfer_spark.operators.canonicalize import canonicalize
    from ertransfer_spark.operators.simsearch import vector_blocking

    ta, tb, matches = spark_corpora
    ra, rb = canonicalize(ta), canonicalize(tb)
    cand = vector_blocking(ra, rb, k=5, tokens_col="shingle_set")
    got = {(r["a_id"], r["b_id"]) for r in cand.collect()}
    golden = {(r["a_conv_id"], r["b_conv_id"]) for r in matches.collect()}
    recall = len(got & golden) / len(golden)
    assert recall >= 0.9, recall


def test_tabular_pipeline_attr_features_config(spark, tmp_path):
    """PipelineConfig(attrs=..., attr_extra=..., tfidf=True) + run(raw_a=,
    raw_b=) — the CLI-reachable per-attribute feature path (the d1/d2/d3
    recipes) — holds the tabular F1 bar, and cfg.attrs without raw tables
    is an explicit error."""
    import pytest

    from ertransfer_spark.operators.canonicalize import canonicalize_table
    from ertransfer_spark.plans.pipeline import ERPipeline, PipelineConfig

    rows_a, rows_b, matches = _fodors_zagats_like()
    schema = "id long, name string, phone_number string, street string"
    ta = spark.createDataFrame(rows_a, schema)
    tb = spark.createDataFrame(rows_b, schema)
    golden = spark.createDataFrame(matches, "a_conv_id long, b_conv_id long")

    cfg = PipelineConfig(
        k=5, algorithm="rf",
        attrs=("name", "phone_number", "street"),
        attr_extra=(("qg3", "name"), ("ovl", "street")),
        tfidf=True,
    )
    pipe = ERPipeline(spark, str(tmp_path / "er"), cfg)
    pipe.catalog.commit("records_a", canonicalize_table(ta))
    pipe.catalog.commit("records_b", canonicalize_table(tb))
    out = pipe.run(
        spark.createDataFrame([], "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"),
        spark.createDataFrame([], "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"),
        golden_matches=golden, resume_records=True, raw_a=ta, raw_b=tb,
    )
    assert out["metrics"]["f1"] >= 0.95, out["metrics"]

    with pytest.raises(ValueError, match="raw_a"):
        ERPipeline(spark, str(tmp_path / "er2"), cfg).run(ta, tb, golden)


def test_cli_attr_flags_parse():
    """--attrs/--attr-extra/--tfidf parse into PipelineConfig shapes
    without a Spark session."""
    from ertransfer_spark.cli import build_parser

    args = build_parser().parse_args(
        ["run", "ds", "out", "--attrs", "name, price",
         "--attr-extra", "num:price,ovl:name", "--tfidf", "--tfidf-max-df", "500"]
    )
    assert args.attrs == "name, price"
    attrs = tuple(s.strip() for s in args.attrs.split(","))
    extra = tuple(tuple(p.split(":", 1)) for p in args.attr_extra.split(","))
    assert attrs == ("name", "price")
    assert extra == (("num", "price"), ("ovl", "name"))
    assert args.tfidf is True and args.tfidf_max_df == 500
