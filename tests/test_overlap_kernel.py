"""Jobs and plan shape of the set-overlap kernel (``operators.overlap``).

The threshold queries materialize each side once and take the side sizes
from the dictionary probe, so a warm pass of each contract query submits a
fixed, small number of Spark jobs. The sparse top-K path plans the hashed
token array once per use and the token-df table once.
"""

from __future__ import annotations

import random

import pandas as pd
import pytest

_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small big query stream filter "
    "group customer vector"
).split()

# Spark jobs one warm pass of each query may submit on the dense kernel:
# the parquet schema inference, the probe, the grid and the query's own
# joins and ranking.
MAX_QUERY_JOBS = {"topk_token_join": 8, "dedup_shingle_jaccard": 5}


@pytest.fixture(scope="module")
def dense_dir(tmp_path_factory):
    """A ``documents`` table whose capped bigram dictionary (at most 900
    bigrams of a 30-word vocabulary) puts both queries on the dense grid;
    a quarter of the rows are near-copies of an earlier one."""
    rng = random.Random(12)
    texts: list[str] = []
    for i in range(300):
        if i and rng.random() < 0.25:
            texts.append(" ".join(w for w in texts[rng.randrange(i)].split() if rng.random() > 0.05))
        else:
            texts.append(" ".join(rng.choices(_WORDS, k=rng.randrange(10, 60))))
    d = tmp_path_factory.mktemp("dense_docs")
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


@pytest.mark.parametrize("name", sorted(MAX_QUERY_JOBS))
def test_dense_query_job_guard(spark, dense_dir, monkeypatch, name):
    """A warm pass of each overlap contract query runs the dense grid and
    submits at most MAX_QUERY_JOBS jobs (16 and 9 before each side was
    materialized once and sized by the probe)."""
    import __spark_entry__ as entry
    from ertransfer_spark.operators import gridsweep

    query = entry.queries()[name]
    query(spark, dense_dir).write.format("noop").mode("overwrite").save()  # warm-up
    grids = []
    orig = gridsweep.grid_cogroup
    monkeypatch.setattr(gridsweep, "grid_cogroup", lambda *a, **k: grids.append(1) or orig(*a, **k))
    sc = spark.sparkContext
    group = f"overlap-job-guard-{name}"
    sc.setJobGroup(group, name)
    try:
        query(spark, dense_dir).write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert grids, f"{name} did not run the dense kernel"
    assert 0 < len(jobs) <= MAX_QUERY_JOBS[name], len(jobs)


def test_sparse_topk_plans_hashes_and_df_table_once(spark):
    """The sparse top-K join over 400 records a side builds the hashed
    token array only where it is used (no inferred ``size(hs) > 0`` filter
    rebuilds it, and the sizes count the token array itself), and executes
    the token-df table once: one union aggregate, whose hot-set broadcast
    the second posting side reuses."""
    from ertransfer_spark.operators.blocking import top_k_token_join

    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(300)]

    def recs(off):
        return [(off + i, rng.sample(vocab, rng.randint(0, 12)) + ["boiler"] * (i % 7 > 0)) for i in range(400)]

    schema = "conv_id long, token_set array<string>"
    ra, rb = spark.createDataFrame(recs(0), schema), spark.createDataFrame(recs(10000), schema)
    cand = top_k_token_join(ra, rb, k=5, max_token_df=5)
    assert cand.collect()
    qe = cand._jdf.queryExecution()
    # one per posting side, and one per side of the df table under each of
    # the two hot-set joins (20 before explode_outer and the size change)
    assert qe.optimizedPlan().toString().count("xxhash64(") == 6
    final = qe.executedPlan().toString().split("== Initial Plan ==")[0]
    assert final.count("Union") == 1 and "ReusedExchange" in final, final
