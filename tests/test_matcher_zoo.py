"""Matcher-zoo parity: RF (the reference's DEFAULT verifier,
methods/magellan/entrypoint.py:70), DecisionTree (:66), and the k-fold
``select_matcher`` protocol (:116-117)."""

from __future__ import annotations

import pytest

from ertransfer_spark.operators.blocking import top_k_token_join
from ertransfer_spark.operators.canonicalize import canonicalize
from ertransfer_spark.operators.labeling import (
    attach_labels,
    referential_filter,
    stratified_split,
)
from ertransfer_spark.operators.matcher import (
    attach_pair_text,
    evaluate_predictions,
    featurize,
    score,
    select_matcher,
    train_matcher,
)


@pytest.fixture(scope="module")
def featurized(spark, spark_corpora):
    ta, tb, matches = spark_corpora
    ra, rb = canonicalize(ta), canonicalize(tb)
    golden = referential_filter(matches, ra, rb)
    labeled = attach_labels(top_k_token_join(ra, rb, k=5), golden)
    return featurize(attach_pair_text(labeled, ra, rb)).localCheckpoint()


@pytest.mark.parametrize("algo", ["rf", "dt", "svm", "linreg", "nb"])
def test_zoo_matchers_f1(featurized, algo):
    splits = stratified_split(featurized)
    model = train_matcher(splits["train"], algorithm=algo)
    preds = score(model, featurized)
    m = evaluate_predictions(preds, threshold=0.5)
    assert m["f1"] >= 0.95, (algo, m)
    # prob_class1 honors the contract every downstream consumer assumes
    import pyspark.sql.functions as F

    bad = preds.filter(
        (F.col("prob_class1") < 0) | (F.col("prob_class1") > 1)
        | F.isnan("prob_class1")
    ).count()
    assert bad == 0, algo


def test_truncated_attach_features_value_identical(spark, spark_corpora):
    """attach_pair_text(truncate=256) must yield EXACTLY the same feature
    vector as the full-text path: levenshtein/jaro-winkler already cap at
    256/64 chars and len_ratio reads the shipped original lengths. The
    truncation only cuts shuffle bytes, never values."""
    ta, tb, matches = spark_corpora
    ra, rb = canonicalize(ta), canonicalize(tb)
    golden = referential_filter(matches, ra, rb)
    labeled = attach_labels(top_k_token_join(ra, rb, k=5), golden)
    full = featurize(attach_pair_text(labeled, ra, rb)).toPandas()
    trunc = featurize(attach_pair_text(labeled, ra, rb, truncate=256)).toPandas()
    key = ["a_id", "b_id"]
    full = full.sort_values(key).reset_index(drop=True)
    trunc = trunc.sort_values(key).reset_index(drop=True)
    assert sorted(full.columns) == sorted(trunc.columns)
    import pandas as pd

    pd.testing.assert_frame_equal(trunc[full.columns], full)
    # and at least one record is actually longer than the cap, so the
    # test exercises a real truncation
    from pyspark.sql import functions as F

    assert ra.filter(F.length("agValue") > 256).count() > 0


def test_select_matcher_kfold(featurized):
    splits = stratified_split(featurized)
    best, scores = select_matcher(
        splits["train"], algorithms=("logreg", "rf"), n_folds=3
    )
    assert set(scores) == {"logreg", "rf"}
    assert best == max(("logreg", "rf"), key=lambda a: scores[a])
    # on the synthetic corpus every matcher separates cleanly — CV F1 is
    # high for the winner, and the winner retrains fine on the full split
    assert scores[best] >= 0.9, scores
    model = train_matcher(splits["train"], algorithm=best)
    m = evaluate_predictions(score(model, featurized), threshold=0.5)
    assert m["f1"] >= 0.95, m


def test_select_matcher_deterministic_folds(featurized):
    splits = stratified_split(featurized)
    _, s1 = select_matcher(splits["train"], algorithms=("logreg",), n_folds=3)
    _, s2 = select_matcher(splits["train"], algorithms=("logreg",), n_folds=3)
    assert s1 == s2


def test_train_matcher_params_override(featurized):
    """params= sets estimator hyperparameters on the chosen algorithm
    (e.g. RF capacity for hard-textual datasets); unknown names raise."""
    splits = stratified_split(featurized)
    model = train_matcher(
        splits["train"], algorithm="rf",
        params={"numTrees": 7, "maxDepth": 3},
    )
    rf = model.stages[-1]
    assert rf.getNumTrees == 7 or rf.getOrDefault("numTrees") == 7
    assert rf.getOrDefault("maxDepth") == 3
    m = evaluate_predictions(score(model, featurized), threshold=0.5)
    assert m["f1"] >= 0.9, m
    with pytest.raises(Exception):
        train_matcher(splits["train"], algorithm="rf",
                      params={"noSuchParam": 1})


def test_attr_features_presence_and_similarity(spark):
    """Per-attribute features: presence flags are explicit (not NaN), sims
    are 0 when either side is empty, and identical single-field records
    are separable from true multi-field matches — the d1_fodors_zagats
    failure mode a blob-feature matcher cannot express."""
    from ertransfer_spark.operators.matcher import attr_features

    a = spark.createDataFrame(
        [("a1", "granita", "310 456 0488"), ("a2", "", "200 e fremont st")],
        "id string, name string, phone string",
    )
    b = spark.createDataFrame(
        [("b1", "granita cafe", "310-456-0488"), ("b2", "", "200 e fremont st")],
        "id string, name string, phone string",
    )
    pairs = spark.createDataFrame(
        [("a1", "b1"), ("a2", "b2"), ("a1", "b2")], "a_id string, b_id string"
    )
    out, names = attr_features(pairs, a, b, ["name", "phone"])
    assert names == [
        "name_present", "name_lev", "name_jac", "phone_present", "phone_lev", "phone_jac"
    ]
    rows = {(r["a_id"], r["b_id"]): r for r in out.collect()}
    m = rows[("a1", "b1")]  # true multi-field match: both present, high sims
    assert m["name_present"] == 1.0 and m["phone_present"] == 1.0
    assert m["phone_lev"] == 1.0 and m["name_jac"] == 0.5  # {granita}∩{granita,cafe}
    t = rows[("a2", "b2")]  # identical text but name missing on both sides
    assert t["name_present"] == 0.0 and t["name_lev"] == 0.0 and t["name_jac"] == 0.0
    assert t["phone_present"] == 1.0 and t["phone_lev"] == 1.0
    x = rows[("a1", "b2")]  # name empty on the b side: not co-present
    assert x["name_present"] == 0.0


def test_attr_features_extra_kinds(spark):
    """extra kinds: numeric distance (num), overlap coefficient (ovl) and
    3-gram jaccard (qg3) — hand-computed values, plus the 0-fallbacks
    (no number on a side, empty attr)."""
    from ertransfer_spark.operators.matcher import attr_features

    a = spark.createDataFrame(
        [("a1", "usb cable 2m", "12.99"), ("a2", "hdmi lead", "")],
        "id string, name string, price string",
    )
    b = spark.createDataFrame(
        [("b1", "premium usb cable for printer 2m gold", "10.00"),
         ("b2", "", "5")],
        "id string, name string, price string",
    )
    pairs = spark.createDataFrame(
        [("a1", "b1"), ("a2", "b2")], "a_id string, b_id string"
    )
    out, names = attr_features(
        pairs, a, b, ["name", "price"],
        extra=[("num", "price"), ("ovl", "name"), ("qg3", "name")],
    )
    assert names[-3:] == ["price_num", "name_ovl", "name_qg3"]
    rows = {(r["a_id"], r["b_id"]): r for r in out.collect()}
    m = rows[("a1", "b1")]
    assert m["price_num"] == pytest.approx(1.0 - 2.99 / 12.99)
    # {usb,cable,2m} ⊂ b's tokens → overlap coefficient 1.0
    assert m["name_ovl"] == pytest.approx(1.0)
    assert 0.0 < m["name_qg3"] < 1.0
    t = rows[("a2", "b2")]  # a-side price empty, b-side name empty
    assert t["price_num"] == 0.0 and t["name_ovl"] == 0.0 and t["name_qg3"] == 0.0


def test_attr_features_date_kind(spark):
    """("date", c): cross-format parsed-date distance — equal dates written
    in different formats score 1.0 (string similarity is blind to this,
    d11's Released columns), nearby dates score 1 - days/365, unparseable
    sides fall back to 0."""
    import pytest as _pt

    from ertransfer_spark.operators.matcher import attr_features

    a = spark.createDataFrame(
        [("a1", "27-May-11"), ("a2", "10-Jul-15"), ("a3", "no date here")],
        "id string, Released string",
    )
    b = spark.createDataFrame(
        [("b1", "May 27 , 2011"), ("b2", "June 23 , 2015"), ("b3", "2011-05-27")],
        "id string, Released string",
    )
    pairs = spark.createDataFrame(
        [("a1", "b1"), ("a1", "b3"), ("a2", "b2"), ("a3", "b3")],
        "a_id string, b_id string",
    )
    out, names = attr_features(
        pairs, a, b, ["Released"], extra=[("date", "Released")]
    )
    assert names[-1] == "Released_date"
    rows = {(r["a_id"], r["b_id"]): r["Released_date"] for r in out.collect()}
    assert rows[("a1", "b1")] == _pt.approx(1.0)   # same date, two formats
    assert rows[("a1", "b3")] == _pt.approx(1.0)   # same date, ISO format
    assert rows[("a2", "b2")] == _pt.approx(1.0 - 17 / 365.0)
    assert rows[("a3", "b3")] == 0.0               # a-side unparseable


def test_attr_features_num_without_digits_under_ansi(spark):
    """kind="num" on a digit-free value: regexp_extract yields '' and
    CAST('' AS DOUBLE) throws under ANSI mode — the try_cast path must
    survive an ANSI driver session (CLAUDE.md invariant) and fall back
    to the 0.0 no-number feature."""
    from ertransfer_spark.operators.matcher import attr_features

    a = spark.createDataFrame(
        [("a1", "call for price"), ("a2", "12.50")], "id string, price string"
    )
    b = spark.createDataFrame(
        [("b1", "-"), ("b2", "10.00")], "id string, price string"
    )
    pairs = spark.createDataFrame(
        [("a1", "b1"), ("a2", "b2"), ("a1", "b2")], "a_id string, b_id string"
    )
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        out, _ = attr_features(pairs, a, b, ["price"], extra=[("num", "price")])
        rows = {(r["a_id"], r["b_id"]): r["price_num"] for r in out.collect()}
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert rows[("a1", "b1")] == 0.0  # neither side has a number
    assert rows[("a1", "b2")] == 0.0  # a side has none
    assert rows[("a2", "b2")] == pytest.approx(1.0 - 2.50 / 12.50)


def test_tfidf_cosine_zero_norm_under_ansi(spark):
    """A pair whose every surviving token is corpus-ubiquitous (idf == 0)
    has zero norms: 0.0/0.0 raises DIVIDE_BY_ZERO under ANSI mode and is
    NaN-poison non-ANSI — the guard must emit the documented 0.0."""
    from ertransfer_spark.operators.matcher import tfidf_cosine

    a = spark.createDataFrame(
        [("a1", ["the", "and"])], "conv_id string, token_set array<string>"
    )
    b = spark.createDataFrame(
        [("b1", ["the", "and"])], "conv_id string, token_set array<string>"
    )
    pairs = spark.createDataFrame([("a1", "b1")], "a_id string, b_id string")
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        # every token appears in ALL docs → idf = ln(2/2) = 0 → norms 0
        out = tfidf_cosine(pairs, a, b).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert len(out) == 1
    val = out[0]["tfidf_cos"]
    assert val == 0.0 and not (val != val)  # exactly 0.0, not NaN


def test_tfidf_cosine_n_docs_param_matches_default(spark):
    from ertransfer_spark.operators.matcher import tfidf_cosine

    a = spark.createDataFrame(
        [("a1", ["usb", "cable"]), ("a2", ["hdmi", "lead"])],
        "conv_id string, token_set array<string>",
    )
    b = spark.createDataFrame(
        [("b1", ["usb", "cable", "gold"]), ("b2", ["hdmi"])],
        "conv_id string, token_set array<string>",
    )
    pairs = spark.createDataFrame(
        [("a1", "b1"), ("a2", "b2")], "a_id string, b_id string"
    )
    auto = {(r["a_id"], r["b_id"]): r["tfidf_cos"] for r in tfidf_cosine(pairs, a, b).collect()}
    given = {
        (r["a_id"], r["b_id"]): r["tfidf_cos"]
        for r in tfidf_cosine(pairs, a, b, n_docs=4).collect()
    }
    assert auto == given and len(auto) == 2


def test_attr_features_extra_unknown_kind_raises(spark):
    from ertransfer_spark.operators.matcher import attr_features

    a = spark.createDataFrame([("a1", "x")], "id string, name string")
    pairs = spark.createDataFrame([("a1", "a1")], "a_id string, b_id string")
    with pytest.raises(ValueError):
        attr_features(pairs, a, a, ["name"], extra=[("bogus", "name")])
    with pytest.raises(ValueError):
        attr_features(pairs, a, a, ["name"], extra=[("num", "absent")])


def test_tfidf_cosine_hand_computed(spark):
    """tfidf_cosine against hand-computed idf/norm/dot values: identical
    records cos=1, disjoint records cos=0, and a partial overlap whose
    exact value pins the ln(n_docs/df) weighting over the UNION corpus."""
    import math

    from ertransfer_spark.operators.matcher import tfidf_cosine

    ra = spark.createDataFrame(
        [("a1", ["x", "y"]), ("a2", ["x", "z"])],
        "conv_id string, token_set array<string>",
    )
    rb = spark.createDataFrame(
        [("b1", ["x", "y"]), ("b2", ["w"])],
        "conv_id string, token_set array<string>",
    )
    pairs = spark.createDataFrame(
        [("a1", "b1"), ("a1", "b2"), ("a2", "b1")], "a_id string, b_id string"
    )
    out = {(r["a_id"], r["b_id"]): r["tfidf_cos"]
           for r in tfidf_cosine(pairs, ra, rb).collect()}
    # n_docs=4; df: x=3, y=2, z=1, w=1
    ix, iy, iz = math.log(4 / 3), math.log(2.0), math.log(4.0)
    assert out[("a1", "b1")] == pytest.approx(1.0)
    assert out[("a1", "b2")] == 0.0
    expected = ix * ix / (
        math.sqrt(ix * ix + iz * iz) * math.sqrt(ix * ix + iy * iy)
    )
    assert out[("a2", "b1")] == pytest.approx(expected)


def test_tfidf_cosine_max_df_cap(spark):
    """max_df drops over-cap tokens from weights AND norms: with the
    shared stop token capped out, a pair sharing only it scores 0 and a
    pair sharing a rare token scores exactly on the reduced vocabulary."""
    from ertransfer_spark.operators.matcher import tfidf_cosine

    ra = spark.createDataFrame(
        [("a1", ["the", "q"]), ("a2", ["the", "r"])],
        "conv_id string, token_set array<string>",
    )
    rb = spark.createDataFrame(
        [("b1", ["the", "q"]), ("b2", ["the", "s"])],
        "conv_id string, token_set array<string>",
    )
    pairs = spark.createDataFrame(
        [("a1", "b1"), ("a2", "b2")], "a_id string, b_id string"
    )
    out = {(r["a_id"], r["b_id"]): r["tfidf_cos"]
           for r in tfidf_cosine(pairs, ra, rb, max_df=3).collect()}
    # 'the' has df=4 > cap: a1/b1 share only 'q' → cos 1.0 on the reduced
    # vocab; a2/b2 share nothing below the cap → 0
    assert out[("a1", "b1")] == pytest.approx(1.0)
    assert out[("a2", "b2")] == 0.0
