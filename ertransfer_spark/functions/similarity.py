"""Similarity measures (SURVEY §2.7 F5-F7).

- Token-set cosine/dice/jaccard/overlap: native Column expressions over
  array columns (parity: pyJedAI metric param, splitters/KNN-Join/
  splitter.py:78, settings grid settings.py:1-12). JVM-side, codegens.
- Levenshtein: Spark's built-in ``F.levenshtein`` (JVM) normalized to a
  similarity; the featurize hot path computes the same values with the
  batch Myers kernel (``levenshtein_sim_udf``, functions/myers.py).
- Jaro-Winkler: Arrow-batched pandas UDF —
  the "Magellan auto feature" analog (methods/magellan/entrypoint.py:81-89)
  prescribed as a vectorized scalar UDF by the north rule, over the
  bit-parallel kernel in functions/jaro.py (inputs ≤64 chars). The
  pure-Python ``jaro_winkler`` is the pinned spec it is tested against:
  standard Jaro, Winkler prefix ≤4, p=0.1, boost threshold 0.7 — matches
  DuckDB's jaro_winkler_similarity so the oracle can check it.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType


# --------------------------------------------------------------------------
# Token-set similarities — native expressions
# --------------------------------------------------------------------------

def _overlap(a: Column, b: Column) -> Column:
    return F.size(F.array_intersect(a, b)).cast("double")


# Each metric accepts an optional pre-computed ``overlap`` column: emitting
# several metrics over the same token arrays in ONE projection would
# otherwise evaluate array_intersect once per metric (Catalyst/codegen does
# not CSE them away across output columns — measured 3x, BENCH.md). featurize() materializes the overlap in a
# prior projection and passes it in; values are identical either way.

def jaccard(a: Column, b: Column, overlap: Column | None = None) -> Column:
    o = _overlap(a, b) if overlap is None else overlap
    denom = F.size(a) + F.size(b) - o
    return F.when(denom > 0, o / denom).otherwise(F.lit(0.0))


def dice(a: Column, b: Column, overlap: Column | None = None) -> Column:
    o = _overlap(a, b) if overlap is None else overlap
    denom = (F.size(a) + F.size(b)).cast("double")
    return F.when(denom > 0, F.lit(2.0) * o / denom).otherwise(F.lit(0.0))


def cosine_sets(a: Column, b: Column, overlap: Column | None = None) -> Column:
    o = _overlap(a, b) if overlap is None else overlap
    denom = F.sqrt(F.size(a).cast("double") * F.size(b).cast("double"))
    return F.when(denom > 0, o / denom).otherwise(F.lit(0.0))


def overlap_coefficient(a: Column, b: Column, overlap: Column | None = None) -> Column:
    o = _overlap(a, b) if overlap is None else overlap
    denom = F.least(F.size(a), F.size(b)).cast("double")
    return F.when(denom > 0, o / denom).otherwise(F.lit(0.0))


SET_METRICS = {
    "jaccard": jaccard,
    "dice": dice,
    "cosine": cosine_sets,
    "overlap": overlap_coefficient,
}


def overlap_to_sim(metric: str, overlap: Column, size_a: Column, size_b: Column) -> Column:
    """Same metrics computed from pre-aggregated (overlap, |A|, |B|) counts —
    the form the blocking join produces (no arrays survive the shuffle)."""
    o = overlap.cast("double")
    sa = size_a.cast("double")
    sb = size_b.cast("double")
    if metric == "jaccard":
        return o / (sa + sb - o)
    if metric == "dice":
        return F.lit(2.0) * o / (sa + sb)
    if metric == "cosine":
        return o / F.sqrt(sa * sb)
    if metric == "overlap":
        return o / F.least(sa, sb)
    raise ValueError(f"unknown metric {metric!r}")


def levenshtein_sim(a: Column, b: Column) -> Column:
    """1 - lev/maxlen, JVM built-in (methods/magellan feature analog)."""
    ml = F.greatest(F.length(a), F.length(b))
    return F.when(ml > 0, F.lit(1.0) - F.levenshtein(a, b) / ml.cast("double")).otherwise(F.lit(1.0))


# --------------------------------------------------------------------------
# Jaro-Winkler — pure-python scalar, wrapped in an Arrow-batched pandas UDF
# --------------------------------------------------------------------------

def jaro(s1: str, s2: str) -> float:
    if s1 == s2:
        return 1.0
    n1, n2 = len(s1), len(s2)
    if n1 == 0 or n2 == 0:
        return 0.0
    window = max(n1, n2) // 2 - 1
    if window < 0:
        window = 0
    m1 = [False] * n1
    m2 = [False] * n2
    matches = 0
    for i, c in enumerate(s1):
        lo = max(0, i - window)
        hi = min(n2, i + window + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = True
                m2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    k = 0
    transpositions = 0
    for i in range(n1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                transpositions += 1
            k += 1
    t = transpositions // 2
    return (matches / n1 + matches / n2 + (matches - t) / matches) / 3.0


def jaro_winkler(s1: str, s2: str, p: float = 0.1, boost_threshold: float = 0.7) -> float:
    j = jaro(s1, s2)
    if j > boost_threshold:
        prefix = 0
        for a, b in zip(s1[:4], s2[:4]):
            if a == b:
                prefix += 1
            else:
                break
        j += prefix * p * (1.0 - j)
    return j


@F.pandas_udf(DoubleType())
def jaro_winkler_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-batched Jaro-Winkler through the batch-vectorized bit-parallel
    kernel (functions/jaro.py, value-identical to the pure-Python spec
    ``jaro_winkler``, parity-pinned). Inputs must be <=64 chars — the
    featurize hot path ships substring(1, 64) — and a longer row fails the
    batch loudly."""
    from ertransfer_spark.functions.jaro import jaro_winkler_batch

    return pd.Series(jaro_winkler_batch(a.fillna("").tolist(), b.fillna("").tolist()), index=a.index)


@F.pandas_udf(DoubleType())
def levenshtein_sim_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """``levenshtein_sim`` computed by the batch-vectorized Myers kernel
    (functions/myers.py) — value-IDENTICAL to the JVM expression
    ``levenshtein_sim(a, b)`` (exact integer distance over codepoints, same
    IEEE754 division; parity pinned in tests) at ~3.5-7x the per-core
    throughput for the 256-char-truncated matcher feature. Callers truncate
    BEFORE the UDF (featurize ships substring(1, 256)), same as the JVM
    path."""
    import numpy as np

    from ertransfer_spark.functions.myers import myers_lev_batch

    av = a.fillna("")
    bv = b.fillna("")
    d = myers_lev_batch(av.tolist(), bv.tolist())
    la = np.fromiter((len(x) for x in av), dtype=np.int64, count=len(av))
    lb = np.fromiter((len(x) for x in bv), dtype=np.int64, count=len(bv))
    ml = np.maximum(la, lb)
    sim = np.where(ml > 0, 1.0 - d / np.maximum(ml, 1).astype(np.float64), 1.0)
    return pd.Series(sim, index=a.index)


# --------------------------------------------------------------------------
# Pair feature vector — the matcher's input (Magellan-feature analog, F7)
# --------------------------------------------------------------------------

FEATURE_NAMES = [
    "jaccard_tokens",
    "dice_tokens",
    "cosine_tokens",
    "overlap_tokens",
    "levenshtein_sim",
    "jaro_winkler",
    "len_ratio",
]


def features_native(
    a_norm: Column,
    b_norm: Column,
    a_tokens: Column,
    b_tokens: Column,
    lengths: tuple[Column, Column] | None = None,
    overlap: Column | None = None,
) -> list[Column]:
    """The same features as pure Column expressions where Spark has JVM
    builtins — preferred in the hot path (set sims); levenshtein_sim runs
    through the exact batch-vectorized Myers kernel (value-identical to
    the JVM expression, ~4x per-core — functions/myers.py) and
    jaro_winkler through its pandas UDF; both UDFs share one
    ArrowEvalPython node, so the batch crosses to Python once.

    ``lengths``: the ORIGINAL (untruncated) agValue lengths when the norm
    columns were shipped truncated (attach_pair_text truncate=...);
    len_ratio then reads them so the feature stays value-identical to the
    full-text path.

    ``overlap``: pre-computed ``size(array_intersect(a_tokens, b_tokens))``
    as double — pass it (featurize does) to evaluate the intersection once
    instead of once per set metric."""
    len_a = lengths[0] if lengths else F.length(a_norm)
    len_b = lengths[1] if lengths else F.length(b_norm)
    return [
        jaccard(a_tokens, b_tokens, overlap).alias("jaccard_tokens"),
        dice(a_tokens, b_tokens, overlap).alias("dice_tokens"),
        cosine_sets(a_tokens, b_tokens, overlap).alias("cosine_tokens"),
        overlap_coefficient(a_tokens, b_tokens, overlap).alias("overlap_tokens"),
        levenshtein_sim_udf(F.substring(a_norm, 1, 256), F.substring(b_norm, 1, 256)).alias("levenshtein_sim"),
        jaro_winkler_udf(F.substring(a_norm, 1, 64), F.substring(b_norm, 1, 64)).alias("jaro_winkler"),
        (
            F.least(len_a, len_b)
            / F.greatest(len_a, len_b, F.lit(1)).cast("double")
        ).alias("len_ratio"),
    ]
