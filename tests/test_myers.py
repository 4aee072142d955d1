"""Parity pins for the batch-vectorized Myers Levenshtein kernel
(functions/myers.py) and its pandas UDF (levenshtein_sim_udf): exact
equality with the classic DP and with Spark's JVM expression — the kernel
replaces F.levenshtein in the matcher's hot featurize path, so any value
drift would silently change every trained model."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from ertransfer_spark.functions.myers import myers_lev_batch


def dp_lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _rand_cases(seed: int = 42):
    rng = random.Random(seed)

    def rand_s(n, alpha="abcdefgh "):
        return "".join(rng.choice(alpha) for _ in range(n))

    A, B = [], []
    for _ in range(300):
        A.append(rand_s(rng.randint(0, 90)))
        B.append(rand_s(rng.randint(0, 90)))
    # unicode incl. a supplementary-plane char (codepoint > 0xFFFF)
    for _ in range(50):
        A.append(rand_s(rng.randint(0, 200), alpha="aàéü日本語🎉 b"))
        B.append(rand_s(rng.randint(0, 200), alpha="aàéü日本語🎉 b"))
    # edges: empties, identical, cross-limb lengths (64/65, 128/129), 256
    A += ["", "", "x", rand_s(256), rand_s(64), rand_s(65), rand_s(128), rand_s(129), "same"]
    B += ["", "y", "", rand_s(256), rand_s(65), rand_s(64), rand_s(129), rand_s(128), "same"]
    return A, B


def test_myers_matches_dp():
    A, B = _rand_cases()
    got = myers_lev_batch(A, B)
    for i, (a, b) in enumerate(zip(A, B)):
        assert got[i] == dp_lev(a, b), (i, a[:40], b[:40])


def test_myers_chunking_invariant():
    """Chunked execution (tiny Peq budget) must return identical values."""
    import ertransfer_spark.functions.myers as m

    A, B = _rand_cases(seed=7)
    whole = m.myers_lev_batch(A, B)
    budget = m._PEQ_BUDGET
    try:
        m._PEQ_BUDGET = 1 << 12  # force many small chunks
        chunked = m.myers_lev_batch(A, B)
    finally:
        m._PEQ_BUDGET = budget
    assert (whole == chunked).all()


def test_jaro_winkler_batch_matches_scalar_spec():
    """jaro_winkler_batch == the pinned pure-Python jaro_winkler exactly,
    including classic probe pairs and the boost-threshold boundary."""
    from ertransfer_spark.functions.jaro import jaro_winkler_batch
    from ertransfer_spark.functions.similarity import jaro_winkler

    rng = random.Random(17)

    def rand_s(n, alpha="abcdef "):
        return "".join(rng.choice(alpha) for _ in range(n))

    A, B = [], []
    for _ in range(2000):
        A.append(rand_s(rng.randint(0, 64)))
        B.append(rand_s(rng.randint(0, 64)))
    for _ in range(200):
        A.append(rand_s(rng.randint(0, 64), alpha="aàé日🎉b "))
        B.append(rand_s(rng.randint(0, 64), alpha="aàé日🎉b "))
    A += ["", "", "x", "martha", "dwayne", "dixon", "abcdef", "ab",
          "prefix match long", "martha", "abcdxxxx"]
    B += ["", "y", "", "marhta", "duane", "dicksonx", "abcdef", "ba",
          "prefix match lung", "massey", "abyyzzzz"]
    got = jaro_winkler_batch(A, B)
    for i, (a, b) in enumerate(zip(A, B)):
        assert got[i] == jaro_winkler(a, b), (i, a, b)


def test_jaro_winkler_udf_long_rows_raise(spark):
    """The UDF runs the <=64-char batch kernel only: short rows (NULLs and
    the 64-char boundary included) equal the pure-Python spec, and a row
    over 64 chars fails the query loudly instead of being scored another
    way."""
    from ertransfer_spark.functions.similarity import jaro_winkler, jaro_winkler_udf

    schema = "id long, a string, b string"
    rows = [
        (0, "short one", "short two"),
        (2, None, "abc"),
        (3, "a" * 64, "a" * 63 + "b"),
    ]
    df = spark.createDataFrame(rows, schema)
    got = {
        r["id"]: r["jw"]
        for r in df.select("id", jaro_winkler_udf("a", "b").alias("jw")).collect()
    }
    for i, a, b in rows:
        assert got[i] == jaro_winkler(a or "", b or ""), (i,)
    for a, b in (("x" * 65, "x"), ("short", "y" * 100)):
        long_row = spark.createDataFrame([(1, a, b)], schema)
        with pytest.raises(Exception, match="64-char"):
            long_row.select(jaro_winkler_udf("a", "b")).collect()


@pytest.mark.usefixtures("spark")
def test_udf_matches_jvm_expression(spark):
    """levenshtein_sim_udf == JVM levenshtein_sim exactly (same codepoint
    distance, same IEEE754 division), including NULLs and the 256-char
    truncation used by featurize."""
    from ertransfer_spark.functions.similarity import (
        levenshtein_sim,
        levenshtein_sim_udf,
    )

    A, B = _rand_cases(seed=11)
    rows = [(i, a, b) for i, (a, b) in enumerate(zip(A, B))]
    rows += [(len(rows), None, "x"), (len(rows) + 1, None, None), (len(rows) + 2, "abc", None)]
    df = spark.createDataFrame(rows, "id long, a string, b string")
    sub = lambda c: F.substring(F.coalesce(c, F.lit("")), 1, 256)  # noqa: E731
    cmp = df.select(
        "id",
        levenshtein_sim(sub(F.col("a")), sub(F.col("b"))).alias("jvm"),
        levenshtein_sim_udf(sub(F.col("a")), sub(F.col("b"))).alias("myers"),
    )
    bad = cmp.filter(~F.col("jvm").eqNullSafe(F.col("myers"))).count()
    assert bad == 0
