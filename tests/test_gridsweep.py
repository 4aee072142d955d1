"""grid_cogroup regression tests.

The hazard these pin (see operators/gridsweep.py docstring + BENCH.md
2026-08-19 21:34 UTC): a cogroup whose two sides derive from the SAME
upstream DataFrame could ship a key-only right pdf to the kernel under a
``.count()`` terminal plan while ``collect()`` on the identical DataFrame
ran correctly. Every assertion here therefore runs ``.count()`` FIRST and
then verifies values — collect-only tests would have passed on the broken
form.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ertransfer_spark.operators.gridsweep import grid_cogroup


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox leaps over the lazy dog"),
        (3, "der schnelle braune fuchs und der faule hund ist nicht da"),
        (4, "completely unrelated text about spark shuffle partitions"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_grid_cogroup_count_then_values(spark):
    left = spark.range(0, 40).select(
        F.col("id").alias("rid"),
        F.pmod("id", F.lit(2)).alias("cell"),
        (F.col("id") * 10).alias("val"),
    )
    right = left.filter(F.col("rid") % 3 == 0)  # same lineage on purpose

    def fn(key, lp: pd.DataFrame, rp: pd.DataFrame) -> pd.DataFrame:
        # the broken cogroup shipped rp without 'val' — touch it explicitly
        return pd.DataFrame(
            {
                "cell": [int(key[0])],
                "n_left": [len(lp)],
                "sum_right_val": [int(rp["val"].sum())],
            }
        )

    out = grid_cogroup(left, right, ("cell",), fn,
                       "cell long, n_left long, sum_right_val long")
    assert out.count() == 2  # the action that exposed the pruning bug
    got = {r["cell"]: r.asDict() for r in out.collect()}
    evens = [i for i in range(0, 40, 3) if i % 2 == 0]
    odds = [i for i in range(0, 40, 3) if i % 2 == 1]
    assert got[0] == {"cell": 0, "n_left": 20, "sum_right_val": 10 * sum(evens)}
    assert got[1] == {"cell": 1, "n_left": 20, "sum_right_val": 10 * sum(odds)}


def test_grid_cogroup_schema_mismatch_raises(spark):
    a = spark.range(3).select(F.col("id"), F.lit(0).alias("cell"))
    b = spark.range(3).select(F.col("id").alias("other"), F.lit(0).alias("cell"))
    with pytest.raises(ValueError, match="share a schema"):
        grid_cogroup(a, b, ("cell",), lambda k, lp, rp: lp, "id long, cell int")


def test_migrated_sweeps_survive_count_action(spark, docs):
    """count() each migrated sweep (the terminal plan that broke)."""
    from ertransfer_spark.operators.dedup import shingle_jaccard_pairs
    from ertransfer_spark.operators.simsearch import (
        brute_force_topk,
        cosine_neardup_pairs,
        embed_records,
    )

    grams = docs.select(
        F.col("doc_id").alias("id"),
        F.array_distinct(F.split(F.lower("text"), r"\s+")).alias("gs"),
    ).withColumn("sz", F.size("gs"))
    dense = shingle_jaccard_pairs(
        grams, gram_col="gs", id_col="id",
        threshold=0.5, dense_dict_max=100000, rows_per_block=2,
    )
    n = dense.count()
    rows = {(r["a_id"], r["b_id"]) for r in dense.collect()}
    assert n == len(rows) and (0, 1) in rows and (0, 2) in rows

    vecs = embed_records(
        docs.select(
            F.col("doc_id").alias("conv_id"),
            F.array_distinct(F.split(F.lower("text"), r"\s+")).alias("token_set"),
        ),
        dim=16,
    )
    topk = brute_force_topk(vecs, vecs, id_col="conv_id", vec_col="embedding",
                            k=3, rows_per_block=2)
    assert topk.count() > 0  # broke pre-fix with key-only right pdfs
    near = cosine_neardup_pairs(vecs, id_col="conv_id", vec_col="embedding",
                                threshold=0.2, rows_per_block=2)
    assert near.count() == len(near.collect())


def test_grid_blocks_bounds():
    """grid_blocks = max(memory bound, parallelism bound), triangular-aware,
    never splitting below ~64-row blocks (r5 final: a sub-4096-row side must
    not collapse a sweep into one applyInPandas task)."""
    from ertransfer_spark.operators.gridsweep import grid_blocks

    # memory bound dominates at scale: 1M rows / 4096 per block
    assert grid_blocks(1_000_000, 4096, 32) == 245
    # parallelism bound dominates at bench scale: 32-way session wants
    # ceil(sqrt(32)) = 6 per rectangular side (36 cells >= 32)
    assert grid_blocks(2500, 4096, 32) == 6
    # triangular grids need p(p+1)/2 >= P -> p = 8 for P = 32
    assert grid_blocks(5000, 4096, 32, triangular=True) == 8
    # tiny inputs never split below ~64-row blocks
    assert grid_blocks(100, 4096, 32) == 1
    assert grid_blocks(0, 4096, 32) == 1
    # single-core session keeps a single block when memory allows
    assert grid_blocks(2500, 4096, 1) == 1
