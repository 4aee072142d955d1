"""Pairwise matcher (verification stage) — SURVEY §2.8 M1, §2.7 F7/F10.

The reference's matcher zoo spans Magellan's classical learners
(methods/magellan/entrypoint.py:18-20,65-78: DecisionTree/SVM/RF/LogReg/...)
and fine-tuned transformers (emtransformer/ditto/...). Per the north rule,
our decision boundary is a broadcast **logistic regression / GBT** over the
vectorized similarity-feature vector (functions/similarity.py:
pair_features / features_native — the Magellan auto-feature analog,
methods/magellan/entrypoint.py:81-89).

Flow:
  candidate pairs (a_id, b_id, label?) + canonical records
  → two hash equi-joins attach agValue/token_set (J4 parity,
    splitters/KNN-Join/splitter.py:99-103) — broadcast when a side is small
  → feature columns (JVM exprs + one Arrow-batched pandas UDF), computed
    ONCE for every pair: the pipeline materialises the featurized frame
    and both steps below read that one frame
  → fit on its train split (driver IRLS or Spark ML)
  → score ALL candidates of the same frame → (a_id, b_id, label,
    prob_class1)  [F10 contract: methods/emtransformer/transform.py:75-79]

Ids are carried through the scoring plan (no positional re-attach like
methods/emtransformer/transform.py:76-77 — J8 is dissolved by design).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ertransfer_spark.functions.similarity import FEATURE_NAMES as FEATURES
from ertransfer_spark.functions.similarity import features_native

# first number in a normalized attr value (attr_features kind="num")
_NUM_RE = r"([0-9]+(?:\.[0-9]+)?)"

# formats observed across the reference datasets' date-ish attributes
# (d11 Released: '27-May-11' vs 'June 23 , 2015'); try_to_date returns
# NULL on mismatch, so the coalesce chain is safe under ANSI mode.
# Slash dates are assumed US-ordered (M/d/yyyy): an ambiguous '3/4/2011'
# parses as March 4. If a day-first dataset shows up, pass a custom chain
# via attr_features(date_fmts=...) rather than editing this default.
_DATE_FMTS = (
    "d-MMM-yy",
    "MMMM d , yyyy",
    "MMM d , yyyy",
    "MMMM d, yyyy",
    "yyyy-MM-dd",
    "M/d/yyyy",
)


def attach_pair_text(
    pairs: DataFrame,
    records_a: DataFrame,
    records_b: DataFrame,
    id_col: str = "conv_id",
    truncate: int | None = None,
) -> DataFrame:
    """pairs(a_id,b_id,...) + canonical records → + (a_norm, b_norm,
    a_tokens, b_tokens). Two equi-joins; Catalyst/AQE picks broadcast when
    a record side fits.

    ``truncate``: ship only the first N chars of each agValue, plus the
    original length as ``a_len``/``b_len``. With N >= 256 the feature
    vector is VALUE-IDENTICAL (featurize's levenshtein/jaro-winkler
    already cap at 256/64 chars and len_ratio reads the shipped lengths),
    but the bytes crossing the pair-join shuffle drop by the full-text
    tail — on transcript corpora agValues run to kilobytes, so this is a
    several-fold shuffle-byte cut on the pipeline's widest stage. Leave
    None where downstream needs the whole text (score_external's [SEP]
    serialization)."""
    a_norm = F.col("agValue") if truncate is None else F.substring("agValue", 1, truncate)
    extra_a, extra_b = [], []
    if truncate is not None:
        extra_a = [F.length("agValue").alias("a_len")]
        extra_b = [F.length("agValue").alias("b_len")]
    ra = records_a.select(
        F.col(id_col).alias("a_id"),
        a_norm.alias("a_norm"),
        F.col("token_set").alias("a_tokens"),
        *extra_a,
    )
    rb = records_b.select(
        F.col(id_col).alias("b_id"),
        a_norm.alias("b_norm"),
        F.col("token_set").alias("b_tokens"),
        *extra_b,
    )
    return pairs.join(ra, "a_id").join(rb, "b_id")


def attr_features(
    pairs: DataFrame,
    records_a: DataFrame,
    records_b: DataFrame,
    attrs: list[str],
    id_col: str = "id",
    extra: tuple = (),
    date_fmts: tuple = _DATE_FMTS,
) -> tuple[DataFrame, list[str]]:
    """Magellan-style PER-ATTRIBUTE similarity features — the reference's
    auto-feature generation operates attribute-by-attribute
    (methods/magellan/entrypoint.py:81-89, em.get_features_for_matching),
    not on a concatenated blob, and that is load-bearing on fragmented
    records: in d1_fodors_zagats two street-only records with IDENTICAL
    text are never a match, while a (name, phone) pair with differing
    punctuation is — only per-attribute presence + similarity separates
    the two, so a blob-similarity matcher caps out near F1 0.6 there.

    For each attribute c, emits three native-expr feature columns:
    ``{c}_present`` (both sides non-empty after normalization),
    ``{c}_lev`` (Levenshtein similarity, 0 when either side is empty),
    ``{c}_jac`` (word-token Jaccard, 0 when either side is empty).
    Missing-data semantics are explicit flags, not NaN: every matcher in
    the zoo (not just imputing pipelines) can condition on presence.

    ``records_*``'s ``id_col`` values must equal the pairs' a_id/b_id
    (namespace-prefix upstream if the two tables share an id space).
    Returns (pairs + feature columns, feature names) — pass the names to
    ``train_matcher(feature_cols=FEATURES + names)``. Plan shape: two
    hash equi-joins shipping only the normalized attr strings (Catalyst
    broadcasts small record sides); all features are JVM column exprs.

    ``extra``: additional per-attribute feature kinds as ``(kind, attr)``
    pairs (each attr must be in ``attrs``); every kind is a pure JVM
    column expr over the already-shipped normalized strings (no extra
    join, no Python):

    - ``("num", c)`` → ``{c}_num``: 1 - |a-b|/max(a,b) on the FIRST
      number parsed from each side's RAW value (pre-normalization, so
      decimals survive), 0 when either side has none — price/quantity
      attrs where string similarity is meaningless.
    - ``("ovl", c)`` → ``{c}_ovl``: token overlap COEFFICIENT
      (|∩|/min) — asymmetric containment, e.g. a short product name
      quoted inside a long description (Magellan's overlap_coeff).
    - ``("qg3", c)`` → ``{c}_qg3``: 3-gram set Jaccard — misspelling
      robustness where word-level Jaccard is all-or-nothing.
    - ``("date", c)`` → ``{c}_date``: 1 - min(|days apart|/365, 1) on the
      RAW values parsed through the ``_DATE_FMTS`` chain (d11's two sides
      write '27-May-11' vs 'May 27 , 2015' — string similarity is blind
      to equal dates across formats), 0 when either side doesn't parse.

    Measured on the reference's hard textual datasets (d3 amazon-google
    end-to-end, r4 experiment; SURVEY §8): baseline 0.618 →
    +num 0.631 → +num+ovl 0.667; with tfidf_cosine 0.691.
    """
    from ertransfer_spark.functions.similarity import jaccard, levenshtein_sim
    from ertransfer_spark.functions.text import distinct_tokens, normalize

    for kind, c in extra:
        if kind not in ("num", "ovl", "qg3", "date"):
            raise ValueError(f"unknown extra feature kind {kind!r}")
        if c not in attrs:
            raise ValueError(f"extra feature {kind!r} on {c!r}: not in attrs {attrs}")
    # "num" and "date" parse the RAW value (normalize turns '12.99' into
    # '12 99' and '27-May-11' into '27 may 11'); ship them pre-extracted as
    # one double/date per side
    num_attrs = sorted({c for k, c in extra if k == "num"})
    date_attrs = sorted({c for k, c in extra if k == "date"})

    def _date_parse(col):
        s = F.trim(col.cast("string"))
        return F.coalesce(*[F.try_to_date(s, f) for f in date_fmts])
    sa = records_a.select(
        F.col(id_col).alias("a_id"),
        *[normalize(F.col(c).cast("string")).alias(f"_a_{c}") for c in attrs],
        *[
            F.regexp_extract(F.col(c).cast("string"), _NUM_RE, 1)
            .try_cast("double").alias(f"_a_{c}_num")
            for c in num_attrs
        ],
        *[_date_parse(F.col(c)).alias(f"_a_{c}_date") for c in date_attrs],
    )
    sb = records_b.select(
        F.col(id_col).alias("b_id"),
        *[normalize(F.col(c).cast("string")).alias(f"_b_{c}") for c in attrs],
        *[
            F.regexp_extract(F.col(c).cast("string"), _NUM_RE, 1)
            .try_cast("double").alias(f"_b_{c}_num")
            for c in num_attrs
        ],
        *[_date_parse(F.col(c)).alias(f"_b_{c}_date") for c in date_attrs],
    )
    out = pairs.join(sa, "a_id").join(sb, "b_id")
    names: list[str] = []
    for c in attrs:
        a_, b_ = F.col(f"_a_{c}"), F.col(f"_b_{c}")
        both = (F.length(a_) > 0) & (F.length(b_) > 0)
        out = (
            out.withColumn(f"{c}_present", both.cast("double"))
            .withColumn(
                f"{c}_lev", F.when(both, levenshtein_sim(a_, b_)).otherwise(F.lit(0.0))
            )
            .withColumn(
                f"{c}_jac",
                F.when(both, jaccard(distinct_tokens(a_), distinct_tokens(b_))).otherwise(
                    F.lit(0.0)
                ),
            )
        )
        names += [f"{c}_present", f"{c}_lev", f"{c}_jac"]
    for kind, c in extra:
        a_, b_ = F.col(f"_a_{c}"), F.col(f"_b_{c}")
        if kind == "num":
            na, nb = F.col(f"_a_{c}_num"), F.col(f"_b_{c}_num")
            both_num = na.isNotNull() & nb.isNotNull() & (F.greatest(na, nb) > 0)
            expr = F.when(
                both_num, 1.0 - F.abs(na - nb) / F.greatest(na, nb)
            ).otherwise(F.lit(0.0))
        elif kind == "ovl":
            from ertransfer_spark.functions.similarity import overlap_coefficient

            expr = F.coalesce(
                overlap_coefficient(distinct_tokens(a_), distinct_tokens(b_)),
                F.lit(0.0),
            )
        elif kind == "qg3":
            from ertransfer_spark.functions.text import qgrams

            qa, qb = qgrams(a_, q=3, multiset=False), qgrams(b_, q=3, multiset=False)
            expr = F.coalesce(jaccard(qa, qb), F.lit(0.0))
        elif kind == "date":
            da, db = F.col(f"_a_{c}_date"), F.col(f"_b_{c}_date")
            both_date = da.isNotNull() & db.isNotNull()
            expr = F.when(
                both_date,
                1.0 - F.least(F.abs(F.datediff(da, db)) / F.lit(365.0), F.lit(1.0)),
            ).otherwise(F.lit(0.0))
        else:
            raise ValueError(f"unknown extra feature kind {kind!r}")
        out = out.withColumn(f"{c}_{kind}", expr)
        names.append(f"{c}_{kind}")
    return out.drop(
        *[f"_a_{c}" for c in attrs], *[f"_b_{c}" for c in attrs],
        *[f"_a_{c}_num" for c in num_attrs], *[f"_b_{c}_num" for c in num_attrs],
        *[f"_a_{c}_date" for c in date_attrs],
        *[f"_b_{c}_date" for c in date_attrs],
    ), names


def tfidf_cosine(
    pairs: DataFrame,
    records_a: DataFrame,
    records_b: DataFrame,
    id_col: str = "conv_id",
    tokens_col: str = "token_set",
    out_col: str = "tfidf_cos",
    max_df: int | None = None,
    n_docs: int | None = None,
) -> DataFrame:
    """Corpus-IDF-weighted token cosine per candidate pair — the
    "TF-IDF-cosine" entry of the north rule's similarity-feature vector
    (binary tf over the per-record distinct token set, idf = ln(N/df)
    over the union corpus; methods/magellan auto-features include the
    analogous tok_cos measures).

    Plan shape (all equi-join + partial agg, no driver state, no UDF):

      1. postings: explode each side's distinct tokens → (id, tok).
      2. df: groupBy(tok).count() over the union postings — each record
         contributes ≤1 per token, so count(*) IS document frequency.
         Vocabulary-sized; idf = ln(n_docs / df) computed in-plan.
      3. weights: postings equi-joined to the df table (broadcast when
         the vocabulary fits); per-record norms are one partial agg.
      4. dot: the PAIR table exploded by the a-side's weighted tokens,
         inner equi-join on (b_id, tok), groupBy pair sum — output rows
         bounded by |pairs| × shared tokens, never all-pairs.

    ``max_df`` drops tokens with df above the cap from BOTH the weights
    and the norms (semantics change: the cosine is over the sub-df-cap
    vocabulary). At web scale this is the same quadratic-blowup guard as
    blocking's df cap: stop-token postings grow linearly with the corpus,
    so the pair-explode join in step 4 inflates without it; a capped
    token's idf ≈ 0 contributes nothing to the ranking anyway.

    Measured (r4 experiment; SURVEY §8): +0.02-0.07 end-to-end F1 on
    the reference's hard textual datasets over the blob+attr features.
    Returns ``pairs`` + ``out_col`` (0.0 when no shared token or an
    empty side). Float determinism: sums are doubles — round downstream
    per the output contract.
    """
    toks_a = records_a.select(
        F.col(id_col).alias("a_id"),
        F.explode(F.array_distinct(tokens_col)).alias("tok"),
    )
    toks_b = records_b.select(
        F.col(id_col).alias("b_id"),
        F.explode(F.array_distinct(tokens_col)).alias("tok"),
    )
    if n_docs is None:
        # two eager count() jobs — callers that already know the corpus
        # size (the pipeline reads it from the records manifests) pass
        # n_docs in
        n_docs = records_a.count() + records_b.count()
    df_tok = (
        toks_a.select("tok").unionAll(toks_b.select("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    if max_df is not None:
        df_tok = df_tok.filter(F.col("df") <= max_df)
    df_tok = df_tok.withColumn(
        "idf", F.log(F.lit(float(n_docs)) / F.col("df"))
    ).select("tok", "idf")
    w_a = toks_a.join(df_tok, "tok")
    w_b = toks_b.join(df_tok, "tok")
    norm_a = w_a.groupBy("a_id").agg(F.sqrt(F.sum(F.col("idf") * F.col("idf"))).alias("_na"))
    norm_b = w_b.groupBy("b_id").agg(F.sqrt(F.sum(F.col("idf") * F.col("idf"))).alias("_nb"))
    dot = (
        pairs.select("a_id", "b_id")
        .join(w_a, "a_id")
        .join(w_b.withColumnRenamed("idf", "_idf_b"), ["b_id", "tok"])
        .groupBy("a_id", "b_id")
        .agg(F.sum(F.col("idf") * F.col("_idf_b")).alias("_dot"))
    )
    return (
        pairs.join(dot, ["a_id", "b_id"], "left")
        .join(norm_a, "a_id", "left")
        .join(norm_b, "b_id", "left")
        .withColumn(
            out_col,
            # zero-norm guard: a record whose every surviving token has
            # idf == 0 (df == n_docs) gets _na = 0, and 0.0/0.0 THROWS
            # under ANSI mode (NULL only in non-ANSI) — define it as 0.0
            F.when(
                (F.col("_na") > 0) & (F.col("_nb") > 0),
                F.coalesce(
                    F.col("_dot") / (F.col("_na") * F.col("_nb")), F.lit(0.0)
                ),
            ).otherwise(F.lit(0.0)),
        )
        .drop("_dot", "_na", "_nb")
    )


def featurize(pairs_with_text: DataFrame) -> DataFrame:
    lens = None
    if {"a_len", "b_len"} <= set(pairs_with_text.columns):
        lens = (F.col("a_len"), F.col("b_len"))
    # materialize the token intersection in a prior projection so the four
    # set metrics share ONE array_intersect (referenced 4x, non-cheap, so
    # CollapseProject keeps it; measured 3x on the set-metric columns)
    pt = pairs_with_text.withColumn(
        "_tok_overlap",
        F.size(F.array_intersect("a_tokens", "b_tokens")).cast("double"),
    )
    feats = features_native(
        F.col("a_norm"), F.col("b_norm"), F.col("a_tokens"), F.col("b_tokens"),
        lengths=lens, overlap=F.col("_tok_overlap"),
    )
    drop = {"a_norm", "b_norm", "a_tokens", "b_tokens", "a_len", "b_len", "_tok_overlap"}
    keep = [c for c in pairs_with_text.columns if c not in drop]
    return pt.select(*keep, *feats)


def train_matcher(
    featurized_train: DataFrame,
    algorithm: str = "logreg",
    label_col: str = "label",
    seed: int = 42,
    impute: bool = False,
    standardize: bool = False,
    feature_cols: list[str] | None = None,
    params: dict | None = None,
):
    """Fit one of the matcher zoo on the feature columns. Returns the
    fitted PipelineModel.

    Zoo parity (methods/magellan/entrypoint.py:65-78): logreg=em.LogRegMatcher,
    gbt≈em.XGBoostMatcher, rf=em.RFMatcher (the reference DEFAULT),
    dt=em.DTMatcher, svm=em.SVMMatcher, linreg=em.LinRegMatcher,
    nb=em.NBMatcher (GaussianNB).

    ``impute``: train-fit mean imputation (A8 parity — Magellan replaces
    NaN features by train-set column means and reuses them at test time,
    methods/magellan/entrypoint.py:92-98).
    ``standardize``: train-fit StandardScaler (A9 parity,
    methods/magellan/entrypoint.py:100-113). Both fit on the TRAIN split
    only and are baked into the returned PipelineModel, so scoring any
    other split reuses the train statistics exactly like the reference.
    ``feature_cols``: the feature set to assemble (default the agValue
    blob features). Pass ``FEATURES + attr_names`` from
    :func:`attr_features` to train on per-attribute similarities as the
    reference's Magellan auto-features do.
    """
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import (
        DecisionTreeClassifier,
        GBTClassifier,
        LogisticRegression,
        RandomForestClassifier,
    )
    from pyspark.ml.feature import Imputer, StandardScaler, VectorAssembler

    stages = []
    feat_cols = list(feature_cols) if feature_cols is not None else FEATURES
    if impute:
        imputed = [f"{c}_imp" for c in feat_cols]
        stages.append(Imputer(strategy="mean", inputCols=feat_cols, outputCols=imputed))
        feat_cols = imputed
    stages.append(
        VectorAssembler(inputCols=feat_cols, outputCol="_raw_features", handleInvalid="keep")
    )
    features_col = "_raw_features"
    if standardize:
        stages.append(
            StandardScaler(inputCol="_raw_features", outputCol="features", withMean=True, withStd=True)
        )
        features_col = "features"
    # LBFGS runs maxIter tree-aggregate jobs when data is separable (no
    # early convergence), and each job on a small train split is pure
    # scheduling overhead — cap iterations and shrink partitions so the
    # fit is not the pipeline's fixed-cost floor. The partition count must
    # still cover the cores: a FIXED coalesce(16) capped every fit job at
    # 16-way parallelism, which silently halved the 32-core leg of the
    # scaling runs (measured: train 151 s @8c → 136 s @32c at 480k convs).
    n_fit = max(featurized_train.sparkSession.sparkContext.defaultParallelism, 16)
    featurized_train = featurized_train.coalesce(n_fit)
    if algorithm == "logreg":
        clf = LogisticRegression(
            featuresCol=features_col, labelCol=label_col, maxIter=25, regParam=1e-4
        )
    elif algorithm == "gbt":
        clf = GBTClassifier(
            featuresCol=features_col, labelCol=label_col, maxIter=40, maxDepth=4, seed=seed
        )
    elif algorithm == "rf":
        # the reference's DEFAULT verifier (em.RFMatcher,
        # methods/magellan/entrypoint.py:70)
        clf = RandomForestClassifier(
            featuresCol=features_col, labelCol=label_col,
            numTrees=50, maxDepth=8, seed=seed,
        )
    elif algorithm == "dt":
        # em.DTMatcher (methods/magellan/entrypoint.py:66)
        clf = DecisionTreeClassifier(
            featuresCol=features_col, labelCol=label_col, maxDepth=8, seed=seed
        )
    elif algorithm == "svm":
        # em.SVMMatcher (methods/magellan/entrypoint.py:67): linear SVM,
        # decision at margin 0; score() maps the margin through a sigmoid
        # so the (prob_class1 > 0.5) contract reproduces the margin sign
        from pyspark.ml.classification import LinearSVC

        clf = LinearSVC(
            featuresCol=features_col, labelCol=label_col, maxIter=50, regParam=1e-4
        )
    elif algorithm == "linreg":
        # em.LinRegMatcher (methods/magellan/entrypoint.py:69): ordinary
        # least squares on the 0/1 label; score() clips the raw prediction
        # to [0,1] (the reference's F11 clip) so it satisfies the
        # prob_class1 contract
        from pyspark.ml.regression import LinearRegression

        clf = LinearRegression(
            featuresCol=features_col, labelCol=label_col, regParam=1e-6
        )
    elif algorithm == "nb":
        # em.NBMatcher (methods/magellan/entrypoint.py:68, sklearn
        # GaussianNB): gaussian modelType — the similarity features are
        # continuous, and gaussian NB accepts any real-valued input
        from pyspark.ml.classification import NaiveBayes

        clf = NaiveBayes(
            featuresCol=features_col, labelCol=label_col, modelType="gaussian"
        )
    else:
        raise ValueError(f"unknown algorithm {algorithm!r}")
    if params:
        # estimator hyperparameter overrides, e.g. {"numTrees": 100}
        for k, v in params.items():
            clf.set(clf.getParam(k), v)
    stages.append(clf)
    return Pipeline(stages=stages).fit(featurized_train)


def select_matcher(
    featurized_train: DataFrame,
    algorithms: tuple = ("logreg", "gbt", "rf", "dt"),
    n_folds: int = 5,
    seed: int = 42,
    label_col: str = "label",
    threshold: float = 0.5,
) -> tuple[str, dict[str, float]]:
    """K-fold cross-validated matcher selection — the
    ``em.select_matcher([dt, svm, rf, lg, ...], k=5, metric='f1')``
    protocol the reference documents (commented out at
    methods/magellan/entrypoint.py:116-117, the py_entitymatching
    model-selection guide it links).

    Folds are a deterministic hash bucket on (a_id, b_id, seed) — exact
    same folds every run, order- and partitioning-independent (the Spark
    analog of the reference's ``random_state``). For each algorithm:
    train on k-1 folds, score the held-out fold, pool the held-out
    predictions, and compute F1 at ``threshold``; the algorithm with the
    best pooled CV F1 wins (ties break toward the earlier entry in
    ``algorithms``, mirroring the reference's stable selection order).

    Returns (best_algorithm, {algorithm: cv_f1}). Retrain the winner on
    the FULL train split with :func:`train_matcher` — selection and final
    fit are separate, as in the reference.
    """
    fold = F.pmod(F.xxhash64("a_id", "b_id", F.lit(seed)), F.lit(n_folds))
    folded = featurized_train.withColumn("_fold", fold).localCheckpoint()
    scores: dict[str, float] = {}
    for algo in algorithms:
        pooled = None
        for f in range(n_folds):
            train = folded.filter(F.col("_fold") != f)
            held = folded.filter(F.col("_fold") == f)
            model = train_matcher(train, algorithm=algo, label_col=label_col, seed=seed)
            preds = score(model, held, keep_cols=("a_id", "b_id", label_col))
            pooled = preds if pooled is None else pooled.unionByName(preds)
        m = evaluate_predictions(pooled, threshold=threshold)
        scores[algo] = m["f1"]
    best = max(algorithms, key=lambda a: scores[a])
    return best, scores


class LocalLogisticModel:
    """Logistic coefficients fit on the driver, scored as a pure JVM
    column expression — the literal "broadcast matcher" of the north rule:
    the model IS the broadcast (a dozen float literals baked into the
    plan), and scoring needs no ML transform job, no vector assembly and
    no Python worker.

    Produced by :func:`train_matcher_local`; consumed by :func:`score`
    (which branches on the type) or directly via :meth:`prob_expr`.
    """

    def __init__(self, weights: dict[str, float], intercept: float):
        self.weights = dict(weights)
        self.intercept = float(intercept)

    def prob_expr(self):
        z = F.lit(self.intercept)
        for c, w in self.weights.items():
            z = z + F.lit(w) * F.coalesce(F.col(c).cast("double"), F.lit(0.0))
        return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def train_matcher_local(
    featurized_train: DataFrame,
    label_col: str = "label",
    feature_cols: list[str] | None = None,
    l2: float = 1e-4,
    max_iter: int = 50,
    tol: float = 1e-9,
) -> LocalLogisticModel:
    """Fit logistic regression by Newton/IRLS on the DRIVER over an
    already-bounded train sample, returning a :class:`LocalLogisticModel`.

    Why this exists alongside :func:`train_matcher` (Spark ML LBFGS): the
    decision boundary is a statistical estimate whose sample size does not
    grow with the corpus (the scaling pipeline caps the train split at
    ~100k pairs), but LBFGS still runs ``maxIter`` driver-coordinated
    tree-aggregate JOBS over that sample — a fixed latency floor of
    30-200 s that scales with nothing and dilutes cluster efficiency
    (measured: BENCH.md round 2, train stage efficiency 0.28-0.46). A
    100k x 7 float matrix is ~6 MB: collecting it once and running IRLS
    locally is <1 s, deterministic, and exactly as distributed-correct —
    featurization of the sample still happens on executors; only the
    solver's inner loop moves off the cluster. The reference fits its
    classical matchers on collected train CSVs the same way
    (methods/magellan/entrypoint.py:65-78, single-node sklearn-style fit).
    """
    import numpy as np

    cols = feature_cols or FEATURES
    pdf = featurized_train.select(*cols, label_col).toPandas()
    X = pdf[cols].to_numpy(dtype=float)
    X = np.nan_to_num(X, nan=0.0, posinf=0.0, neginf=0.0)
    y = pdf[label_col].to_numpy(dtype=float)
    n, d = X.shape
    Xb = np.hstack([X, np.ones((n, 1))])
    w = np.zeros(d + 1)
    reg = np.full(d + 1, l2)
    reg[-1] = 0.0  # no penalty on the intercept
    for _ in range(max_iter):
        z = Xb @ w
        p = 1.0 / (1.0 + np.exp(-np.clip(z, -35, 35)))
        wt = np.clip(p * (1.0 - p), 1e-10, None)
        grad = Xb.T @ (y - p) - reg * w
        H = (Xb * wt[:, None]).T @ Xb + np.diag(reg + 1e-12)
        delta = np.linalg.solve(H, grad)
        w = w + delta
        if float(np.max(np.abs(delta))) < tol:
            break
    return LocalLogisticModel(dict(zip(cols, w[:-1].tolist())), w[-1])


def train_unsupervised(
    featurized: DataFrame,
    seed: int = 42,
    feature_cols: list[str] | None = None,
):
    """ZeroER-style unsupervised matcher (SURVEY M5): a 2-component
    Gaussian mixture over the similarity-feature vectors — the match
    component is the one with the higher mean jaccard feature
    (methods/zeroer/entrypoint.py:53-66 fits a GMM over
    py_entitymatching features; its transitivity constraint is our
    clustering stage's connected components).

    Returns (PipelineModel, match_component_index). Scoring: posterior
    probability of the match component (see :func:`score_unsupervised`).
    """
    from pyspark.ml import Pipeline
    from pyspark.ml.clustering import GaussianMixture
    from pyspark.ml.feature import VectorAssembler

    # GMM initialization samples rows, so the fit is only deterministic if
    # the data LAYOUT is: snapshot parquet part-files land in
    # task-completion order, which varies run to run. Hash-repartition +
    # in-partition sort pins the layout (and thus the seeded init) to the
    # data itself.
    if {"a_id", "b_id"} <= set(featurized.columns):
        featurized = featurized.repartition(8, "a_id").sortWithinPartitions("a_id", "b_id")
    cols = feature_cols or FEATURES
    assembler = VectorAssembler(inputCols=cols, outputCol="features", handleInvalid="keep")
    gmm = GaussianMixture(
        k=2, seed=seed, featuresCol="features", probabilityCol="_posterior",
        maxIter=200, tol=1e-5,
    )
    model = Pipeline(stages=[assembler, gmm]).fit(featurized)
    means = model.stages[-1].gaussiansDF.select("mean").collect()
    jac_idx = cols.index("jaccard_tokens") if "jaccard_tokens" in cols else 0
    match_comp = int(max(range(2), key=lambda i: float(means[i]["mean"][jac_idx])))
    return model, match_comp


def score_unsupervised(
    model_and_comp,
    featurized: DataFrame,
    keep_cols: tuple = ("a_id", "b_id", "label"),
) -> DataFrame:
    """Posterior of the match component → (*keep_cols, prob_class1)."""
    from pyspark.ml.functions import vector_to_array

    model, match_comp = model_and_comp
    scored = model.transform(featurized)
    cols = [c for c in keep_cols if c in featurized.columns]
    return scored.select(
        *cols, vector_to_array("_posterior")[match_comp].alias("prob_class1")
    )


def kmeans_probs(preds: DataFrame, k: int = 2, prob_col: str = "prob_class1", seed: int = 42) -> DataFrame:
    """M6 diagnostic: KMeans over the probability column
    (clustering/Probabilities/sklearn_clusters.py:3-28) → + kmeans_cluster."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.feature import VectorAssembler

    va = VectorAssembler(inputCols=[prob_col], outputCol="_kf")
    km = KMeans(k=k, seed=seed, featuresCol="_kf", predictionCol="kmeans_cluster")
    assembled = va.transform(preds)
    return km.fit(assembled).transform(assembled).drop("_kf")


def score(model, featurized: DataFrame, keep_cols: tuple = ("a_id", "b_id", "label")) -> DataFrame:
    """Broadcast-scored predictions → (*keep_cols, prob_class1).

    model.transform ships the (tiny) model to executors once; probability
    extraction is a vector slot access, no softmax UDF needed (the
    reference's softmax F10, methods/emtransformer/transform.py:69-75,
    is subsumed by Spark ML's calibrated probability column).

    A :class:`LocalLogisticModel` scores as a pure column expression
    (sigmoid of broadcast literals) — same output contract, zero ML
    overhead."""
    if isinstance(model, LocalLogisticModel):
        cols = [c for c in keep_cols if c in featurized.columns]
        return featurized.select(*cols, model.prob_expr().alias("prob_class1"))
    from pyspark.ml.functions import vector_to_array

    scored = model.transform(featurized)
    cols = [c for c in keep_cols if c in featurized.columns]
    if "probability" in scored.columns:
        prob = vector_to_array("probability")[1]
    elif "rawPrediction" in scored.columns:
        # margin-only classifiers (LinearSVC): sigmoid of the class-1
        # margin — monotone, and prob > 0.5 iff the margin is positive,
        # so threshold-0.5 decisions equal the SVM's own sign rule
        margin = vector_to_array("rawPrediction")[1]
        prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
    else:
        # regression matchers (LinearRegression on the 0/1 label): the
        # reference clips the raw prediction into [0,1] (F11)
        prob = F.least(F.greatest(F.col("prediction"), F.lit(0.0)), F.lit(1.0))
    return scored.select(*cols, prob.alias("prob_class1"))


def score_external(
    pairs_with_text: DataFrame,
    scorer,
    keep_cols: tuple = ("a_id", "b_id", "label"),
    sep: str = " [SEP] ",
) -> DataFrame:
    """The transformer-matcher seam (SURVEY M2): score candidate pairs with
    an EXTERNAL pair scorer instead of the built-in Spark ML model.

    ``scorer`` is any Arrow-batched pandas UDF ``pd.Series[str] →
    pd.Series[float]`` over the reference's serialized-pair contract —
    the two agValues joined with ``' [SEP] '`` (functions/text.py
    serialize_pair, F9; methods/dader/transform.py:24-26). A fine-tuned
    LM scorer (emtransformer/ditto/dader zoo,
    methods/emtransformer/entrypoint.py:19-223) plugs in as
    ``pandas_udf(lambda s: model.predict_proba(s), 'double')`` with the
    weights broadcast — no other pipeline change: the output satisfies
    the same (a_id, b_id, label, prob_class1) predictions contract that
    clustering consumes (F10, methods/emtransformer/transform.py:75-79).

    Input is :func:`attach_pair_text` output (a_norm/b_norm present).
    """
    from ertransfer_spark.functions.text import serialize_pair

    cols = [c for c in keep_cols if c in pairs_with_text.columns]
    serialized = pairs_with_text.select(
        *cols, serialize_pair("a_norm", "b_norm", sep=sep).alias("pair_text")
    )
    return serialized.select(
        *cols, scorer(F.col("pair_text")).cast("double").alias("prob_class1")
    )


def evaluate_predictions(preds: DataFrame, threshold: float = 0.5) -> dict:
    """F1/P/R of thresholded predictions vs labels (metrics CSV analog,
    methods/magellan/transform.py:20-35)."""
    agg = preds.agg(
        F.sum(F.when((F.col("prob_class1") > threshold) & (F.col("label") == 1), 1).otherwise(0)).alias("tp"),
        F.sum(F.when(F.col("prob_class1") > threshold, 1).otherwise(0)).alias("pp"),
        F.sum("label").alias("pos"),
    ).collect()[0]
    tp, pp, pos = agg["tp"] or 0, agg["pp"] or 0, agg["pos"] or 0
    prec = tp / pp if pp else 0.0
    rec = tp / pos if pos else 0.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    return {"precision": prec, "recall": rec, "f1": f1, "tp": tp, "predicted_pos": pp, "pos": pos}
