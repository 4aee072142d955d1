"""MinHash-LSH — the one code path that turns token arrays into verified
Jaccard pairs by MinHash banding (Broder, *On the resemblance and
containment of documents*, 1997). Behind ``blocking.minhash_lsh_join``,
``dedup.minhash_dedup`` (murmur3), ``dedup.minhash_dedup_portable``
(portable) and ``streaming.ingest.incremental_dedup_stream``.

**Band keys** ``(id, band_idx, band_hash)``: explode the tokens once, take
``n_hashes`` partial-aggregable ``min(h_j(tok))`` columns in one
``groupBy(id)`` (a nested-lambda signature would be duplicated per band by
codegen), then ``posexplode`` one hash per band. The hash family is the
only thing that varies:

- ``murmur3``: h_j(t) = ``hash(t, j)``; band = ``hash(rows...)``;
- ``portable``: th(t) = the pinned polynomial hash
  (``functions.text.SPARK_POLY_HASH_SQL``), once per posting;
  h_j(t) = (th·(2j+1) + j·99991) mod M; band = fold (acc·1000003 + h)
  mod M over the band's rows, M = 2^31-1. Every step has a DuckDB twin.

**Candidates**: one equi-join on ``(band_idx, band_hash)``; a hot bucket
is the LSH analog of a hot token, split by AQE's skew join.

**Verify**: exact Jaccard over xxhash64 token arrays (8-byte elements;
values change only on a 64-bit in-pair collision, the risk the overlap
kernel accepts), kept when round(sim, 6) ≥ ``min_jaccard``. Precision is
exact; only recall depends on the banding. Records with empty token sets
have no signature and never pair.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ertransfer_spark.functions.text import POLY_HASH_MOD, SPARK_POLY_HASH_SQL

MH_MUL = 99991      # portable h_j(t) = (th(t)*(2j+1) + j*MH_MUL) mod M
BAND_MUL = 1000003  # portable band key: fold (acc*BAND_MUL + h) mod M


def rows_per_band(n_hashes: int, bands: int) -> int:
    """Hashes per band; raises unless ``bands`` divides ``n_hashes``."""
    if n_hashes % bands:
        raise ValueError(
            f"n_hashes={n_hashes} must be divisible by bands={bands}: "
            "a silent remainder would compute hashes that never feed a "
            "band, changing the effective LSH S-curve"
        )
    return n_hashes // bands


def band_keys(
    records: DataFrame,
    id_col: str,
    tokens_col: str,
    n_hashes: int,
    bands: int,
    family: str = "murmur3",
) -> DataFrame:
    """(id, band_idx, band_hash) LSH band keys, one row per record and band."""
    rows = rows_per_band(n_hashes, bands)
    posts = records.select(F.col(id_col).alias("id"), F.explode(tokens_col).alias("tok"))
    if family == "murmur3":
        mins = [F.min(F.hash("tok", F.lit(j))) for j in range(n_hashes)]

        def band(hs: list[Column]) -> Column:
            return F.hash(*hs)
    elif family == "portable":
        posts = posts.select("id", F.expr(SPARK_POLY_HASH_SQL.format(s="tok")).alias("th"))
        mins = [
            F.min((F.col("th") * (2 * j + 1) + j * MH_MUL) % POLY_HASH_MOD)
            for j in range(n_hashes)
        ]

        def band(hs: list[Column]) -> Column:
            return functools.reduce(
                lambda acc, h: (acc * BAND_MUL + h) % POLY_HASH_MOD, hs, F.lit(0)
            )
    else:
        raise ValueError(f"family must be murmur3|portable, got {family!r}")
    sig = posts.groupBy("id").agg(*[m.alias(f"h{j}") for j, m in enumerate(mins)])
    band_cols = [band([F.col(f"h{b * rows + r}") for r in range(rows)]) for b in range(bands)]
    return sig.select("id", F.posexplode(F.array(*band_cols)).alias("band_idx", "band_hash"))


def candidate_pairs(keys_a: DataFrame, keys_b: DataFrame, self_join: bool) -> DataFrame:
    """Distinct (a_id, b_id) pairs whose band keys collide in any band.

    ``self_join``: both sides hold keys of one corpus; each unordered pair
    comes once, oriented a_id < b_id with least/greatest before the
    self-pair drop, so it holds whichever side an id arrives on (the
    streaming probe joins a batch against batch ∪ index). Otherwise a_id
    comes from ``keys_a`` and b_id from ``keys_b``."""
    ka = keys_a.select(F.col("id").alias("a_id"), "band_idx", "band_hash")
    kb = keys_b.select(F.col("id").alias("b_id"), "band_idx", "band_hash")
    cand = ka.join(kb, ["band_idx", "band_hash"])
    if self_join:
        cand = cand.select(
            F.least("a_id", "b_id").alias("a_id"), F.greatest("a_id", "b_id").alias("b_id")
        ).filter(F.col("a_id") != F.col("b_id"))
    return cand.select("a_id", "b_id").distinct()


def verify(
    cand: DataFrame,
    records_a: DataFrame,
    records_b: DataFrame,
    id_col: str,
    tokens_col: str,
    min_jaccard: float,
) -> DataFrame:
    """Exact Jaccard of each (a_id, b_id) candidate → (a_id, b_id, sim),
    kept when round(sim, 6) ≥ ``min_jaccard``."""
    def hashed(records: DataFrame, side: str) -> DataFrame:
        toks = F.transform(F.col(tokens_col), lambda t: F.xxhash64(t))
        return records.select(F.col(id_col).alias(f"{side}_id"), toks.alias(f"{side}_toks"))

    # the intersection is computed once per pair, not once per use
    inter = F.size(F.array_intersect("a_toks", "b_toks")).cast("double")
    sim = F.col("_inter") / (F.size("a_toks") + F.size("b_toks") - F.col("_inter"))
    return (
        cand.join(hashed(records_a, "a"), "a_id")
        .join(hashed(records_b, "b"), "b_id")
        .withColumn("_inter", inter)
        .withColumn("sim", sim)
        .filter(F.round("sim", 6) >= min_jaccard)
        .select("a_id", "b_id", "sim")
    )


def minhash_pairs(
    records_a: DataFrame,
    records_b: DataFrame | None,
    id_col: str,
    tokens_col: str,
    n_hashes: int,
    bands: int,
    min_jaccard: float,
    family: str = "murmur3",
) -> DataFrame:
    """Band keys → candidates → verify: (a_id, b_id, sim) pairs with
    round(Jaccard, 6) ≥ ``min_jaccard`` among those sharing a band.
    ``records_b=None`` is the self-join of ``records_a`` (a_id < b_id)."""
    self_join = records_b is None
    records_b = records_a if self_join else records_b
    ka = band_keys(records_a, id_col, tokens_col, n_hashes, bands, family)
    kb = ka if self_join else band_keys(records_b, id_col, tokens_col, n_hashes, bands, family)
    cand = candidate_pairs(ka, kb, self_join)
    return verify(cand, records_a, records_b, id_col, tokens_col, min_jaccard)
