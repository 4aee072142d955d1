"""Canonicalization invariants (FIXTURES.md §6.1, input_hint per-row invariant)."""

from __future__ import annotations

import pandas as pd

from ertransfer_spark.operators.canonicalize import canonicalize, explode_turns
from ertransfer_spark.oracle import pandas_oracle as oracle


def test_roundtrip_preserves_turn_text(spark, spark_corpora, corpora):
    """Exploding the canonical record reproduces every turn's text in stable
    turn order — the per-row invariant."""
    ta_spark = spark_corpora[0]
    recs = canonicalize(ta_spark, keep_turns=True)
    back = explode_turns(recs).toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    orig = (
        corpora[0][["conv_id", "turn_idx", "role", "text", "tool"]]
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(back[orig.columns], orig, check_dtype=False)


def test_agvalue_matches_oracle(spark, spark_corpora, corpora):
    recs = canonicalize(spark_corpora[0]).select("conv_id", "agValue").toPandas()
    want = oracle.canonicalize(corpora[0])[["conv_id", "agValue"]]
    got = recs.sort_values("conv_id").reset_index(drop=True)
    want = want.sort_values("conv_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want)


def test_empty_cleaning_turn_parity(spark):
    """A turn whose text cleans to '' (literal 'nan', whitespace-only, tabs)
    must leave NO double space in agValue, and batch canonicalize must stay
    byte-identical to the pandas oracle on such input (the whitespace-parity
    contract shared with the streaming stateful path)."""
    rows = [
        ("c1", 0, "user", "hello there", "", None),
        ("c1", 1, "agent", "nan", "", None),          # cleans to ''
        ("c1", 2, "user", "  \t ", "", None),          # cleans to ''
        ("c1", 3, "agent", "bye  now", "", None),      # internal collapse
        ("c2", 0, "user", "nan nan", "", None),        # whole conv cleans empty
    ]
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    pdf["ts"] = pd.Timestamp("2026-01-01")
    from ertransfer_spark.synth import to_spark

    got = {
        r["conv_id"]: r["agValue"]
        for r in canonicalize(to_spark(spark, pdf)).select("conv_id", "agValue").collect()
    }
    assert got["c1"] == "hello there bye now"
    assert got["c2"] == ""
    want = dict(zip(*[oracle.canonicalize(pdf)[c] for c in ("conv_id", "agValue")]))
    assert got == want


def test_agvalue_order_insensitive_to_input_row_order(spark, corpora):
    """Permutation invariance: shuffled input rows → identical agValue."""
    from ertransfer_spark.synth import to_spark

    ta = corpora[0]
    shuffled = ta.sample(frac=1.0, random_state=3).reset_index(drop=True)
    r1 = canonicalize(to_spark(spark, ta)).select("conv_id", "agValue").toPandas()
    r2 = canonicalize(to_spark(spark, shuffled)).select("conv_id", "agValue").toPandas()
    m1 = dict(zip(r1["conv_id"], r1["agValue"]))
    m2 = dict(zip(r2["conv_id"], r2["agValue"]))
    assert m1 == m2
