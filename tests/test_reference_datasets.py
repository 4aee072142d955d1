"""End-to-end validation on the reference's OWN committed corpora.

First real-data (non-synthetic) run of the whole engine: load
tableA/tableB/matches.csv from /root/reference/datasets (read-only
inputs — the engine never writes there), canonicalize, block, train the
matcher on a stratified split of the labeled candidates, score, cluster,
and assert pairwise F1 vs the committed golden matches.

Dataset/blocking settings follow /root/reference/splitters/KNN-Join/
settings.py:1-12 where the plan shape allows:
- d1 (fodors-zagats, 238 x 1565, 89 matches): clean=True, QGram=4,
  multiset, dice, reverse (K budget on the larger B side) — as the
  reference configures it, with K raised 1->5 because we feed a trained
  matcher rather than taking top-1 directly.
- d4 (dblp-acm, 2576 x 2272, 2224 matches): the reference uses QGram=2
  multiset cosine under a prefix-filtered native KNN join; a 2-char gram
  posting join is the one shape our df-capped posting join should NOT be
  asked to do (a ~1.3k-gram vocabulary where every record holds most
  grams makes every posting hot). The Spark-first equivalent is the word
  TOKEN cosine join with stopword df-capping — same candidate recall on
  this corpus at a small fraction of the comparisons.
"""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

DATASETS = Path("/root/reference/datasets")

pytestmark = pytest.mark.skipif(
    not DATASETS.exists(), reason="reference datasets not present"
)


def _load(spark, name):
    from ertransfer_spark.sources.normalizer import (
        read_csv_normalized,
        read_matches_normalized,
    )

    d = DATASETS / name
    a = read_csv_normalized(spark, str(d / "tableA.csv"))
    b = read_csv_normalized(spark, str(d / "tableB.csv"))
    golden = read_matches_normalized(spark, str(d / "matches.csv")).select(
        F.concat(F.lit("a_"), F.col("tableA_id")).alias("a_id"),
        F.concat(F.lit("b_"), F.col("tableB_id")).alias("b_id"),
    )
    return a, b, golden


def _canon(df, side, clean):
    """canonicalize_table + a_/b_ id namespacing (tableA and tableB share
    the same 0-based id space). ``clean=True`` is canonicalize_table's own
    stopword + vendored-Porter2 path — the reference's actual
    SnowballStemmer('english') semantics (splitter.py:16-19), which
    diverges from the fast pinned stripper on 7.9% of d1 token
    occurrences (analysis in SURVEY §8)."""
    from ertransfer_spark.operators.canonicalize import canonicalize_table

    return canonicalize_table(df, id_col="id", clean=clean).withColumn(
        "conv_id", F.concat(F.lit(f"{side}_"), F.col("conv_id"))
    )


def _pipeline_f1(spark, ra, rb, golden, cand, raw=None, attrs=None, algorithm="rf",
                 extra=(), tfidf=False, train_params=None):
    """Block → label → featurize (blob + optional per-attribute) → train
    the reference-default RF matcher → score → UMC-cluster → pairwise F1.
    ``raw=(a, b)`` with ``attrs`` adds Magellan-style per-attribute
    features (see operators.matcher.attr_features — required on d1, where
    field presence is the only signal separating street-only text twins
    from true name+phone matches). ``extra`` forwards additional
    per-attribute feature kinds ((num/ovl/qg3, attr) pairs) and
    ``tfidf=True`` adds the corpus-IDF-weighted token cosine — the two
    upgrades that lift the hard textual datasets (d2 0.78→0.82,
    d3 0.62→0.69; r4, SURVEY §8). ``train_params`` forwards
    estimator hyperparameter overrides (d3's r5 lever: RF capacity)."""
    from ertransfer_spark.operators.clustering import (
        best_threshold,
        pairwise_metrics,
        unique_mapping_clusters,
    )
    from ertransfer_spark.operators.labeling import attach_labels, stratified_split
    from ertransfer_spark.operators.matcher import (
        FEATURES,
        attach_pair_text,
        attr_features,
        featurize,
        score,
        tfidf_cosine,
        train_matcher,
    )

    labeled = attach_labels(cand, golden)
    feats = featurize(attach_pair_text(labeled, ra, rb))
    feature_cols = None
    if attrs:
        pa = raw[0].select(F.concat(F.lit("a_"), F.col("id")).alias("id"), *attrs)
        pb = raw[1].select(F.concat(F.lit("b_"), F.col("id")).alias("id"), *attrs)
        feats, names = attr_features(feats, pa, pb, attrs, extra=extra)
        feature_cols = FEATURES + names
    if tfidf:
        feats = tfidf_cosine(feats, ra, rb)
        feature_cols = (feature_cols or FEATURES) + ["tfidf_cos"]
    feats = feats.localCheckpoint()
    model = train_matcher(
        stratified_split(feats)["train"], algorithm=algorithm,
        feature_cols=feature_cols, params=train_params,
    )
    preds = score(model, feats).localCheckpoint()
    out = unique_mapping_clusters(preds, best_threshold(preds))
    return pairwise_metrics(out, golden)


def test_d1_fodors_zagats_end_to_end(spark):
    from ertransfer_spark.functions.text import qgrams
    from ertransfer_spark.operators.blocking import top_k_token_join

    a, b, golden = _load(spark, "d1_fodors_zagats")
    ra = _canon(a, "a", clean=True).withColumn(
        "qg", qgrams(F.col("agValue"), q=4, multiset=True)
    ).localCheckpoint()
    rb = _canon(b, "b", clean=True).withColumn(
        "qg", qgrams(F.col("agValue"), q=4, multiset=True)
    ).localCheckpoint()
    cand = top_k_token_join(
        ra, rb, k=5, metric="dice", tokens_col="qg", multiset=True,
        direction="rev",
    )
    m = _pipeline_f1(
        spark, ra, rb, golden, cand,
        raw=(a, b), attrs=["name", "phone_number", "street"],
    )
    assert m["f1"] >= 0.9, m


def test_d4_dblp_acm_end_to_end(spark):
    from ertransfer_spark.operators.blocking import top_k_token_join

    a, b, golden = _load(spark, "d4_dblp_acm")
    ra = _canon(a, "a", clean=False).localCheckpoint()
    rb = _canon(b, "b", clean=False).localCheckpoint()
    cand = top_k_token_join(
        ra, rb, k=5, metric="cosine", tokens_col="token_set", max_token_df=500
    )
    m = _pipeline_f1(spark, ra, rb, golden, cand)
    assert m["f1"] >= 0.9, m


def test_d2_abt_buy_end_to_end(spark):
    """abt-buy — the hard TEXTUAL dataset (name/description blobs, no
    structured keys). Blocking per settings.py: clean=True, QGram=3,
    multiset cosine, K=4. With the numeric-price + name-overlap +
    TF-IDF-cosine features + RF capacity 100/16 (r5): measured 0.852
    (p=0.99, r=0.75; was 0.823 at the default 50/8) — for context, the
    published classical (Magellan) baseline on abt-buy's curated
    benchmark split is ~0.43-0.61; the 1:1 UMC clustering constraint
    buys most of the precision here."""
    from ertransfer_spark.functions.text import qgrams
    from ertransfer_spark.operators.blocking import top_k_token_join

    a, b, golden = _load(spark, "d2_abt_buy")
    ra = _canon(a, "a", clean=True).withColumn(
        "qg", qgrams(F.col("agValue"), q=3, multiset=True)
    ).localCheckpoint()
    rb = _canon(b, "b", clean=True).withColumn(
        "qg", qgrams(F.col("agValue"), q=3, multiset=True)
    ).localCheckpoint()
    cand = top_k_token_join(ra, rb, k=4, metric="cosine", tokens_col="qg", multiset=True)
    m = _pipeline_f1(
        spark, ra, rb, golden, cand, raw=(a, b),
        attrs=["name", "description", "price"],
        extra=[("num", "price"), ("ovl", "name")], tfidf=True,
        train_params={"numTrees": 100, "maxDepth": 16},
    )
    assert m["f1"] >= 0.80, m


def test_d3_amazon_google_end_to_end(spark):
    """amazon-google — hard textual (1102 matches over 1354x2935), no
    committed train/test split. The golden is a perfect 1:1 mapping
    (1102 pairs = 1102 distinct a_ids = 1102 distinct b_ids, max
    bipartite matching 1102), so UMC's 1:1 constraint costs NO recall
    here — the loss is matcher ranking on hard textual pairs (block
    recall 0.886). Blocking per settings.py: clean=True, QGram=5,
    multiset cosine, K=26, reverse. With the numeric-price +
    title-overlap + TF-IDF-cosine features AND RF capacity raised to
    numTrees=100/maxDepth=16 (r5: the default 50/8 underfits the
    expanded feature set — capacity alone lifts 0.703→0.788, precision
    0.78→0.93; depth 12/16/20 plateau, exp in /tmp/d3_params*.log
    methodology in the _RECIPES notes):
    measured 0.788 (p=0.93, r=0.69). Published classical baselines on
    this dataset's curated benchmark run ~0.49."""
    from ertransfer_spark.functions.text import qgrams
    from ertransfer_spark.operators.blocking import top_k_token_join

    a, b, golden = _load(spark, "d3_amazon_google")
    ra = _canon(a, "a", clean=True).withColumn(
        "qg", qgrams(F.col("agValue"), q=5, multiset=True)
    ).localCheckpoint()
    rb = _canon(b, "b", clean=True).withColumn(
        "qg", qgrams(F.col("agValue"), q=5, multiset=True)
    ).localCheckpoint()
    cand = top_k_token_join(
        ra, rb, k=26, metric="cosine", tokens_col="qg", multiset=True,
        direction="rev",
    )
    m = _pipeline_f1(
        spark, ra, rb, golden, cand,
        raw=(a, b), attrs=["title", "description", "manufacturer", "price"],
        extra=[("num", "price"), ("ovl", "title")], tfidf=True,
        train_params={"numTrees": 100, "maxDepth": 16},
    )
    assert m["f1"] >= 0.75, m


# Matcher-only benchmark on the reference's OWN committed train/test pair
# splits — the regime its matcher methods run (methods/deepmatcher/
# entrypoint.py:36-61 trains on train.csv, reports F1 on test.csv).
# Attribute values are inline in the pair files, which also unlocks the
# two datasets whose tableB.csv is not committed (d9, d11). NOTE these
# committed splits carry randomly-sampled negatives (easier than the
# curated DeepMatcher-paper benchmarks); floors are set just under the
# measured values (the matcher_split_eval below, 2026-08-18):
# d2 0.930, d5 0.987, d6 0.984, d7 0.995, d8 0.988, d9 0.998, d10 0.895
# (title + blob; a starring<->'actor name' schema-mapped attr added
# nothing), d11 0.987, d12 0.905.
# per-dataset attribute lists (the non-id columns of each pair file's
# sides). d5-d7/d10 sides have ASYMMETRIC schemas; listed attrs are the
# shared ones (intersection enforced in matcher_split_eval). d5's URI
# headers normalize to local names in read_pair_split.
_SPLIT_ATTRS = {
    "d2_abt_buy": ["name", "description", "price"],
    "d5_imdb_tmdb": ["title", "name", "episodeNumber", "seasonNumber", "genre_list"],
    "d6_imdb_tvdb": ["title", "name", "episodeNumber", "seasonNumber"],
    "d7_tmdb_tvdb": ["title", "name", "abstract", "episodeNumber", "seasonNumber", "releaseDate"],
    "d10_imdb_dbpedia": ["title"],
    "d8_amazon_walmart": ["title", "modelno", "price", "brand"],
    "d9_dblp_scholar": ["title", "authors", "venue", "year"],
    "d11_itunes_amazon": [
        "Song_Name", "Artist_Name", "Album_Name", "Genre", "Price", "Time", "Released",
    ],
    "d12_beeradvo_ratebeer": ["Beer_Name", "Brew_Factory_Name", "Style", "ABV"],
}


def matcher_split_eval(spark, name: str) -> dict:
    """Train an RF matcher on the committed train.csv pairs and report
    classification metrics at threshold 0.5 on test.csv."""
    from ertransfer_spark.operators.canonicalize import canonicalize_table
    from ertransfer_spark.operators.matcher import (
        FEATURES,
        attach_pair_text,
        attr_features,
        evaluate_predictions,
        featurize,
        score,
        train_matcher,
    )
    from ertransfer_spark.sources.normalizer import read_pair_split

    d = DATASETS / name
    tr_pairs, tra, trb = read_pair_split(spark, str(d / "train.csv"))
    te_pairs, tea, teb = read_pair_split(spark, str(d / "test.csv"))
    raw_a = tra.unionByName(tea).dropDuplicates(["id"]).localCheckpoint()
    raw_b = trb.unionByName(teb).dropDuplicates(["id"]).localCheckpoint()
    attrs = [c for c in _SPLIT_ATTRS[name] if c in raw_a.columns and c in raw_b.columns]
    rec_a = canonicalize_table(raw_a, id_col="id").localCheckpoint()
    rec_b = canonicalize_table(raw_b, id_col="id").localCheckpoint()

    def feats(pairs):
        f = featurize(attach_pair_text(pairs, rec_a, rec_b))
        return attr_features(f, raw_a, raw_b, attrs)

    ftr, names = feats(tr_pairs)
    fte, _ = feats(te_pairs)
    model = train_matcher(ftr.localCheckpoint(), algorithm="rf", feature_cols=FEATURES + names)
    preds = score(model, fte.localCheckpoint())
    return evaluate_predictions(preds, threshold=0.5)


@pytest.mark.parametrize(
    "name,floor",
    [
        ("d2_abt_buy", 0.85),
        ("d5_imdb_tmdb", 0.95),
        ("d6_imdb_tvdb", 0.95),
        ("d7_tmdb_tvdb", 0.96),
        ("d8_amazon_walmart", 0.93),
        ("d9_dblp_scholar", 0.97),
        ("d10_imdb_dbpedia", 0.85),
        ("d11_itunes_amazon", 0.90),
        ("d12_beeradvo_ratebeer", 0.80),
    ],
)
def test_matcher_on_committed_splits(spark, name, floor):
    m = matcher_split_eval(spark, name)
    assert m["f1"] >= floor, (name, m)


# Blocking + matcher recipes for the end-to-end runs below: the
# reference's splitter settings (splitters/KNN-Join/settings.py:1-12)
# with K raised for a trained matcher, plus per-schema matcher attrs.
_RECIPES = {
    # d5-d7 sides carry long prose columns (dbpedia abstracts): common
    # 5-grams of English text have df ~ corpus/2, so an uncapped posting
    # join is quadratic (measured: single hot partition, >10 min at 5k x 6k).
    # The df cap is the Spark-first analog of the reference's prefix-filter
    # KNN; stop-gram removal costs little recall on near-duplicate pairs.
    # K raised to 10 (matcher consumes candidates); cap=1000 beats 2000 on
    # BOTH recall and wall (stop-grams add noise neighbors, not signal).
    # episode/season NUMERIC distances are the strong discriminators on the
    # TV-episode entities (d5 0.894 -> 0.903).
    "d5_imdb_tmdb": dict(clean=False, qgram=5, multiset=False, metric="cosine",
                         k=10, max_token_df=1000,
                         attrs=["title", "name", "episodeNumber", "seasonNumber"],
                         extra=[("num", "episodeNumber"), ("num", "seasonNumber"),
                                ("ovl", "title")]),
    "d6_imdb_tvdb": dict(clean=False, qgram=5, multiset=False, metric="cosine",
                         k=10, max_token_df=1000, tfidf=True,
                         attrs=["title", "name", "episodeNumber", "seasonNumber"],
                         extra=[("num", "episodeNumber"), ("num", "seasonNumber"),
                                ("ovl", "title"), ("qg3", "name")]),
    "d7_tmdb_tvdb": dict(clean=False, qgram=5, multiset=False, metric="cosine",
                         k=10, max_token_df=1000,
                         attrs=["title", "name", "abstract", "episodeNumber",
                                "seasonNumber", "releaseDate"],
                         extra=[("num", "episodeNumber"), ("num", "seasonNumber"),
                                ("ovl", "title"), ("ovl", "abstract"),
                                ("qg3", "name"), ("qg3", "releaseDate")]),
    "d8_amazon_walmart": dict(clean=True, qgram=4, multiset=True, metric="cosine",
                              k=5, direction="rev",
                              attrs=["title", "modelno", "price", "brand"],
                              extra=[("num", "price"), ("ovl", "title")],
                              tfidf=True,
                              train_params={"numTrees": 100, "maxDepth": 16}),
    # d10 recall CEILING is textual-overlap-bound, not a recipe problem:
    # 26.3% of the 22,148 golden pairs share ZERO word tokens (A rows have
    # NaN titles + a different cast member than B's single actor/director;
    # foreign retitles like "Terminal Station"/"Stazione Termini") and sit
    # at char-3-gram jaccard 0.0175 = noise floor, so NO content-based
    # blocker (token, q-gram, OR token-derived embedding — feature-hashed
    # vectors of disjoint token sets have expected cosine 0) exceeds the
    # 0.737 reachable ceiling; full analysis in SURVEY §8. Sweep:
    # q-grams cost 10x the wall of word tokens for IDENTICAL recall
    # (BENCH.md); k=20 single-dir 0.626, k=20 union 0.664
    # (BENCH.md); + keep_rare_df=100 (rare-token pass-through,
    # r5) 0.721 = 0.978 of ceiling, e2e F1 0.651→0.679 at +6% wall
    # (T=200 gives br 0.725 but F1 0.672 and +43% wall — T=100 wins).
    # The committed d10 split is random-negative (recall 1.0 by
    # construction) — the reference's own KNN recall on d10 is unpublished.
    "d10_imdb_dbpedia": dict(clean=False, qgram=None, metric="cosine",
                             k=20, direction="union", max_token_df=4000,
                             keep_rare_df=100,
                             attrs=["title"], extra=[("ovl", "title")],
                             train_params={"numTrees": 100, "maxDepth": 16}),
    # d9/d11 reconstruct tableB from the split inline attrs (see
    # pipeline_eval). d9's settings.py row is qgram=4/reverse/cosine;
    # word tokens measured equal-or-better recall at a fraction of the
    # wall on every text dataset (d10 note), so the recipe uses them.
    "d9_dblp_scholar": dict(clean=False, qgram=None, metric="cosine",
                            k=10, direction="rev", max_token_df=2000,
                            attrs=["title", "authors", "venue", "year"],
                            extra=[("num", "year"), ("ovl", "title"),
                                   ("qg3", "authors")], tfidf=True),
    "d11_itunes_amazon": dict(clean=False, qgram=None, metric="cosine",
                              k=10, direction="rev", tfidf=True,
                              attrs=["Song_Name", "Artist_Name", "Album_Name",
                                     "Time", "Released", "Price"],
                              extra=[("num", "Price"), ("ovl", "Song_Name"),
                                     ("qg3", "Song_Name"), ("qg3", "Time"),
                                     ("date", "Released"),
                                     ("qg3", "Album_Name")],
                              train_params={"numTrees": 100, "maxDepth": 16}),
    # d12 has no settings.py entry (it enters the reference via the
    # DeepMatcher split only); word-token jaccard is the sane default.
    "d12_beeradvo_ratebeer": dict(clean=False, qgram=None, metric="jaccard", k=5,
                                  attrs=["Beer_Name", "Brew_Factory_Name",
                                         "Style", "ABV"],
                                  extra=[("num", "ABV"), ("ovl", "Beer_Name")],
                                  train_params={"numTrees": 100, "maxDepth": 16}),
}


def _pipeline_eval(spark, name: str, algorithm: str = "rf") -> dict:
    """Full pipeline on one dataset; returns pairwise metrics + block recall."""
    from pyspark.sql import functions as F

    from ertransfer_spark.functions.text import qgrams
    from ertransfer_spark.operators.blocking import top_k_token_join
    from ertransfer_spark.operators.canonicalize import canonicalize_table
    from ertransfer_spark.operators.clustering import (
        best_threshold,
        pairwise_metrics,
        unique_mapping_clusters,
    )
    from ertransfer_spark.operators.labeling import attach_labels, stratified_split
    from ertransfer_spark.operators.matcher import (
        FEATURES,
        attach_pair_text,
        attr_features,
        featurize,
        score,
        tfidf_cosine,
        train_matcher,
    )
    from ertransfer_spark.sources.normalizer import (
        read_csv_normalized,
        read_matches_normalized,
    )

    r = _RECIPES[name]
    d = DATASETS / name
    a = read_csv_normalized(spark, str(d / "tableA.csv"))
    if (d / "tableB.csv").exists():
        b = read_csv_normalized(spark, str(d / "tableB.csv"))
    else:
        # d9/d11 commit no tableB.csv — reconstruct it from the committed
        # pair splits' INLINE attributes (verified: every golden B id
        # appears there and attr values are consistent per id). Caveat,
        # pinned in the test docstring too: the reconstructed corpus is
        # only the splits' B records (golden partners + random negatives),
        # so blocking faces fewer distractors than the reference's full
        # tableB; treat the result as coverage, not a published benchmark.
        from ertransfer_spark.sources.normalizer import read_pair_split

        parts = [
            read_pair_split(spark, str(d / f), prefix_ids=False)[2]
            for f in ("train.csv", "test.csv")
        ]
        b = parts[0].unionByName(parts[1], allowMissingColumns=True).dropDuplicates(
            ["id"]
        )
    golden = read_matches_normalized(spark, str(d / "matches.csv")).select(
        F.concat(F.lit("a_"), F.col("tableA_id")).alias("a_id"),
        F.concat(F.lit("b_"), F.col("tableB_id")).alias("b_id"),
    ).localCheckpoint()

    def canon(df, side):
        rec = canonicalize_table(df, id_col="id", clean=r["clean"]).withColumn(
            "conv_id", F.concat(F.lit(f"{side}_"), F.col("conv_id"))
        )
        if r.get("qgram"):
            rec = rec.withColumn(
                "qg", qgrams(F.col("agValue"), q=r["qgram"],
                             multiset=r.get("multiset", False))
            )
        return rec.localCheckpoint()

    ra, rb = canon(a, "a"), canon(b, "b")
    cand = top_k_token_join(
        ra, rb, k=r["k"], metric=r["metric"],
        tokens_col="qg" if r.get("qgram") else "token_set",
        multiset=bool(r.get("qgram")) and r.get("multiset", False),
        direction=r.get("direction", "fwd"),
        max_token_df=r.get("max_token_df"),
        keep_rare_df=r.get("keep_rare_df"),
    )

    labeled = attach_labels(cand, golden).localCheckpoint()
    n_golden = golden.count()
    block_recall = labeled.filter("label = 1").count() / max(n_golden, 1)

    feats = featurize(attach_pair_text(labeled, ra, rb))
    feature_cols = None
    if r.get("attrs"):
        attrs = [c for c in r["attrs"] if c in a.columns and c in b.columns]
        pa = a.select(F.concat(F.lit("a_"), F.col("id")).alias("id"), *attrs)
        pb = b.select(F.concat(F.lit("b_"), F.col("id")).alias("id"), *attrs)
        feats, names = attr_features(feats, pa, pb, attrs,
                                     extra=r.get("extra", ()))
        feature_cols = FEATURES + names
    if r.get("tfidf"):
        feats = tfidf_cosine(feats, ra, rb)
        feature_cols = (feature_cols or FEATURES) + ["tfidf_cos"]
    feats = feats.localCheckpoint()
    model = train_matcher(stratified_split(feats)["train"], algorithm=algorithm,
                          feature_cols=feature_cols,
                          params=r.get("train_params"))
    preds = score(model, feats).localCheckpoint()
    out = unique_mapping_clusters(preds, best_threshold(preds))
    m = pairwise_metrics(out, golden)
    m["block_recall"] = round(block_recall, 4)
    return m



# End-to-end pipeline on the remaining datasets. d9/d11 commit no
# tableB.csv — pipeline_eval reconstructs it from the pair splits' inline
# attributes (every golden B id appears there with consistent attr values;
# the negatives corpus is the splits' random sample, so blocking faces
# fewer distractors than the reference's full tableB — coverage, not a
# published benchmark). Recipes are in _RECIPES above; floors sit just
# under the 2026-08-19 r5
# local[8] measurements:
# d5 0.903, d6 0.799, d7 0.771, d8 0.856, d9 0.984 (block recall 0.997),
# d10 0.698, d11 0.268, d12 0.532 (d11/d12 are the extreme-label-scarcity
# regime — 132 and 68 golden; their matcher-split F1s are 0.99 and 0.905).
@pytest.mark.parametrize(
    "name,floor",
    [
        ("d5_imdb_tmdb", 0.85),
        ("d6_imdb_tvdb", 0.75),
        ("d7_tmdb_tvdb", 0.72),
        # r5: RF capacity 100/16 (see the _RECIPES notes) lifted
        # d8 0.736→0.856, d10 0.679→0.698, d12 0.489→0.532, d11 0.250→0.268
        ("d8_amazon_walmart", 0.80),
        ("d9_dblp_scholar", 0.95),
        # d10's blocking recall is textual-overlap-CEILING-bound at 0.737
        # (26.3% of golden pairs share zero word tokens ACROSS ALL ATTRS:
        # NaN titles, foreign retitles, alias cast names — and those pairs
        # sit at char-3-gram jaccard 0.0175, the noise floor, so NO
        # content-based blocker reaches them; analysis in SURVEY §8).
        # union k=20 + keep_rare_df=100 (rare-token pass-through) reaches
        # 0.721 ≈ 0.978 of the ceiling; measured F1 0.679 (was 0.651).
        ("d10_imdb_dbpedia", 0.66),
        # d11 is the d12 regime squared: 132 golden over 6907×9282, golden
        # pairs span DIFFERENT remixes (durations differ) while candidate
        # distractors are other versions of the same song — measured 0.25
        # at k=10 (0.22-0.26 across feature configs); matcher-split is 0.99.
        # r5 ceiling proof (exp_d11_ceiling.py, in git history): only
        # 86/132 golden partners are lexical rank-1; 46 are strictly
        # dominated by a same-song distractor, so monotone-lexical
        # matching + mutual-best caps recall ~0.65 before label scarcity
        # enters; the date/price/duration tie-breakers are the attrs that
        # DIFFER across remixes.
        ("d11_itunes_amazon", 0.15),
        ("d12_beeradvo_ratebeer", 0.45),
    ],
)
def test_pipeline_end_to_end_remaining_datasets(spark, name, floor):
    m = _pipeline_eval(spark, name)
    assert m["f1"] >= floor, (name, m)
