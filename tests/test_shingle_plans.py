"""Plan guard: every word-shingle consumer tokenizes each document once.

The shingle templates (``functions.text.SPARK_BIGRAMS_SQL`` /
``SPARK_TRIGRAMS_SQL``) let-bind their token array. Without the binding,
an ``explode`` over the shingles makes the optimizer infer a
``size(s) > 0`` filter, push it below the projection that names the
tokens, and substitute the tokenizer into the per-bigram lambda: the
document is tokenized again for every bigram. These tests read the
optimized plans of every ``__spark_entry__._doc_shingles`` consumer (and of
every frame it checkpoints or collects while being built, where the
kernels' probes and block sweeps run and where ``threshold_sweep`` runs
``_scored_pairs``) and of both canonicalize paths, and fail on a
``split(lower(…))`` call inside a lambda body that does not bind it.
"""

from __future__ import annotations

import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from scripts.plan_audit import checkpointed_plans, collected_plans, tokenizer_reruns

# every contract query that reads _doc_shingles, directly or through
# _scored_pairs
DOC_SHINGLE_CONSUMERS = [
    "topk_token_join",
    "topk_union_join",
    "topk_rare_union",
    "reciprocal_top1",
    "threshold_sweep",
    "stratified_split",
    "umc_greedy",
    "connected_components",
    "snm_blocking",
    "dedup_shingle_jaccard",
    "kl_association",
]
_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small big query stream filter "
    "group customer vector"
).split()


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    """A ``documents`` table shaped like the sf0.001 one: 500 rows of 10-99
    words over a 30-word vocabulary, with a language tag."""
    rng = random.Random(11)
    texts = [" ".join(rng.choices(_WORDS, k=rng.randrange(10, 100))) for _ in range(500)]
    d = tmp_path_factory.mktemp("sf_shingles")
    pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": [rng.choice(["en", "de", "fr", "zh"]) for _ in texts],
            "source": [f"src{i % 3}" for i in range(len(texts))],
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(d / "documents.parquet", index=False)
    return str(d)


def _rerun_tokenizers(build) -> list[str]:
    with checkpointed_plans() as cp, collected_plans() as cl:
        df = build()
    return tokenizer_reruns(df, cp + cl)


def test_guard_flags_an_unbound_template(spark):
    """The guard itself: the un-bound bigram template under an explode is
    the defect shape, and its let-bound form is not."""
    from ertransfer_spark.functions.text import SPARK_BIGRAMS_SQL, SPARK_TOKENS_SQL

    unbound = (
        "array_distinct(if(size(ts) < 2, slice(ts, 1, 0), "
        "transform(sequence(1, size(ts) - 1), i -> concat(ts[i-1], ' ', ts[i]))))"
    )
    docs = spark.createDataFrame([(1, "a b c d")], "id long, text string").select(
        "id", F.expr(SPARK_TOKENS_SQL.format(col="text")).alias("ts")
    )
    for tpl, flagged in ((unbound, True), (SPARK_BIGRAMS_SQL.format(ts="ts"), False)):
        shingles = docs.withColumn("s", F.expr(tpl)).select("id", F.explode("s"))
        assert bool(_rerun_tokenizers(lambda: shingles)) is flagged, tpl


@pytest.mark.parametrize("name", DOC_SHINGLE_CONSUMERS)
def test_doc_shingle_consumers_tokenize_once(spark, sf_dir, name):
    import __spark_entry__ as entry

    assert _rerun_tokenizers(lambda: entry.queries()[name](spark, sf_dir)) == []


def test_canonicalize_paths_tokenize_once(spark, spark_corpora):
    from ertransfer_spark.operators.blocking import top_k_token_join
    from ertransfer_spark.operators.canonicalize import canonicalize, canonicalize_table

    ta, tb, _ = spark_corpora
    # built on a range, not a local relation, which the optimizer folds
    table = spark.range(20).select(
        "id",
        F.concat(F.lit("red fox "), F.col("id").cast("string")).alias("name"),
        F.lit("jumps over the lazy dog").alias("descr"),
    )
    for ra, rb in ((canonicalize(ta), canonicalize(tb)), (canonicalize_table(table),) * 2):
        for build in (
            lambda: ra,
            lambda: ra.select(F.explode("shingle_set")),
            lambda: top_k_token_join(ra, rb, k=3, tokens_col="shingle_set"),
        ):
            assert _rerun_tokenizers(build) == []


@pytest.mark.parametrize("name, sides", [("dedup_shingle_jaccard", 1), ("topk_token_join", 2)])
def test_audit_records_the_kernel_sides(spark, sf_dir, name, sides):
    """The overlap kernel materializes each side lazily; the audit still
    records those frames' plans, so its checks cover the side projections."""
    import __spark_entry__ as entry

    with checkpointed_plans() as plans:
        entry.queries()[name](spark, sf_dir)
    assert len(plans) == sides and all("xxhash64(" in p.toString() for p in plans)
