"""MinHash-LSH — the one code path that turns token arrays into verified
Jaccard pairs by MinHash banding (Broder, *On the resemblance and
containment of documents*, 1997). Behind ``blocking.minhash_lsh_join``,
``dedup.minhash_dedup`` and ``streaming.ingest.incremental_dedup_stream``.

**Band keys** ``(id, band_idx, band_hash)``: one Arrow UDF per batch
(:func:`band_hashes`, numpy) maps a row's token array to its ``bands``
band hashes, then one ``posexplode``. The hash family is pinned, so every
step has a DuckDB twin (``dedup.minhash_portable_duckdb_sql``):
th(t) = the pinned polynomial hash (``functions.text.poly_hash``);
h_j(t) = (th·(2j+1) + j·99991) mod M, minimized over the row's tokens;
band = fold (acc·1000003 + h) mod M over the band's rows, M = 2^31-1.

**Candidates**: one equi-join on ``(band_idx, band_hash)``; a hot bucket
is the LSH analog of a hot token, split by AQE's skew join.

**Verify**: exact Jaccard over xxhash64 token arrays (8-byte elements;
values change only on a 64-bit in-pair collision, the risk the overlap
kernel accepts), kept when round(sim, 6) ≥ ``min_jaccard``. Precision is
exact; only recall depends on the banding. Records with empty token sets
have no signature and never pair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ertransfer_spark.functions.text import POLY_HASH_MOD, poly_hash_np

MH_MUL = 99991      # h_j(t) = (th(t)*(2j+1) + j*MH_MUL) mod M
BAND_MUL = 1000003  # band key: fold (acc*BAND_MUL + h) mod M


def rows_per_band(n_hashes: int, bands: int) -> int:
    """Hashes per band; raises unless ``bands`` divides ``n_hashes``."""
    if n_hashes % bands:
        raise ValueError(
            f"n_hashes={n_hashes} must be divisible by bands={bands}: "
            "a silent remainder would compute hashes that never feed a "
            "band, changing the effective LSH S-curve"
        )
    return n_hashes // bands


def band_hashes(tokens, n_hashes: int, bands: int):
    """The band hashes of each row of a ``pyarrow`` list<string> array →
    list<int64> array: ``bands`` hashes per row, none for a null or empty
    row (null tokens are skipped). numpy over the whole batch: the token
    hashes, then one ``minimum.reduceat`` per h_j, then the band fold."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    rows = rows_per_band(n_hashes, bands)
    lens = pc.list_value_length(tokens).fill_null(0).to_numpy(zero_copy_only=False)
    flat = pc.list_flatten(tokens)
    row = np.repeat(np.arange(len(tokens)), lens)
    if flat.null_count:
        row = row[flat.is_valid().to_numpy(zero_copy_only=False)]
        flat = flat.drop_null()
    th = poly_hash_np(flat)
    starts = np.flatnonzero(np.r_[True, row[1:] != row[:-1]]) if len(row) else row
    sig = np.empty((len(starts), n_hashes), np.int64)
    for j in range(n_hashes):
        sig[:, j] = np.minimum.reduceat((th * (2 * j + 1) + j * MH_MUL) % POLY_HASH_MOD, starts)
    sig = sig.reshape(len(starts), bands, rows)
    acc = np.zeros((len(starts), bands), np.int64)
    for r in range(rows):
        acc = (acc * BAND_MUL + sig[:, :, r]) % POLY_HASH_MOD
    n_out = np.zeros(len(tokens), np.int64)
    n_out[row[starts]] = bands
    offsets = np.concatenate([[0], np.cumsum(n_out)]).astype(np.int32)
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(acc.ravel()))


def band_keys(
    records: DataFrame,
    id_col: str,
    tokens_col: str,
    n_hashes: int,
    bands: int,
) -> DataFrame:
    """(id, band_idx, band_hash) LSH band keys, one row per record and band."""
    rows_per_band(n_hashes, bands)
    kernel = F.arrow_udf(lambda t: band_hashes(t, n_hashes, bands), "array<bigint>")
    return records.select(
        F.col(id_col).alias("id"),
        F.posexplode(kernel(F.col(tokens_col))).alias("band_idx", "band_hash"),
    )


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
) -> DataFrame:
    """Band keys → candidates → verify: (a_id, b_id, sim) pairs with
    round(Jaccard, 6) ≥ ``min_jaccard`` among those sharing a band.
    ``records_b=None`` is the self-join of ``records_a`` (a_id < b_id).

    Each side's band keys are materialized once (``localCheckpoint``): a
    self-join reads the one copy on both sides, and the Arrow UDF is
    planned on its own rather than under the join, where Spark does not
    extract it and fails to generate code for it."""
    self_join = records_b is None
    records_b = records_a if self_join else records_b
    ka = band_keys(records_a, id_col, tokens_col, n_hashes, bands).localCheckpoint()
    kb = ka if self_join else band_keys(records_b, id_col, tokens_col, n_hashes, bands).localCheckpoint()
    cand = candidate_pairs(ka, kb, self_join)
    return verify(cand, records_a, records_b, id_col, tokens_col, min_jaccard)
