"""Document deduplication operators — the training-data-pipeline extension
of the ER core (same candidate-generation machinery as blocking.py, applied
to a single corpus instead of an A/B pair).

Reference precedent: the blocking stage IS near-dup detection
(/root/reference/splitters/KNN-Join/splitter.py:72-91 keeps top-K similar
pairs; /root/reference/splitters/random-split/merger.py:34 drop_duplicates
is the exact-dup case). Here each flavor is a standalone operator:

- exact:   hash-groupBy on the full text digest — one shuffle, no joins.
- n-gram:  q-gram / word-shingle Jaccard self-join over the set-overlap
           kernel (operators.overlap), df-pruned so a hot gram cannot
           explode the join.
- minhash: MinHash+LSH banding (operators.minhash), the 100 TB path
           (candidates ∝ true near-dups, not |corpus|²), over the pinned
           polynomial hash, so the DuckDB twin verifies it hash-for-hash.
- simhash: 32-bit SimHash fingerprint from the pinned polynomial token
           hash (``functions.text.SPARK_POLY_HASH_SQL``: the same hash is
           expressible in any engine, so the DuckDB oracle can verify it
           bit-for-bit).

All pure Column expressions except two numpy kernels: the n-gram join's
dense grid (one matmul per grid cell) and the MinHash band hashes (one
Arrow UDF call per batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ertransfer_spark.functions.text import (
    DUCKDB_BIGRAMS_SQL,
    DUCKDB_POLY_HASH_SQL,
    DUCKDB_TOKENS,
    DUCKDB_TOKENS_SQL,
    POLY_HASH_MOD,
    SPARK_POLY_HASH_SQL,
    tokens,
    word_shingles,
)
from ertransfer_spark.operators.minhash import BAND_MUL, MH_MUL, minhash_pairs, rows_per_band
from ertransfer_spark.operators.overlap import jaccard_at_least, overlap_pairs


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups → (text_md5, n_docs, canonical_id).

    One map-side-combinable groupBy on the digest; canonical doc =
    min id (deterministic). Only groups with >1 member are returned.
    """
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_md5"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min(id_col).cast("long").alias("canonical_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


def exact_dedup_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-level dup accounting → 1 row (n_docs, n_distinct, n_dup_docs)."""
    return docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count_distinct(F.md5(F.col(text_col))).cast("long").alias("n_distinct"),
        (F.count(F.lit(1)) - F.count_distinct(F.md5(F.col(text_col))))
        .cast("long")
        .alias("n_dup_docs"),
    )


def shingle_jaccard_pairs(
    docs: DataFrame,
    gram_col: str = "s",
    id_col: str = "id",
    threshold: float = 0.6,
    max_gram_df: int = 500,
    dense_dict_max: int = 4096,
    rows_per_block: int = 4096,
) -> DataFrame:
    """Threshold Jaccard self-join over pre-shingled docs → (a_id, b_id, sim_r),
    a_id < b_id: a rounded-threshold filter over the set-overlap kernel's
    triangular self-join (``operators.overlap``).

    Input: one row per doc with ``gram_col`` = array of shingle strings
    (character q-grams from ``functions.text.qgrams`` or word shingles from
    ``word_shingles``). The Jaccard denominator is the size of the distinct
    array; grams with df > ``max_gram_df`` are dropped as WITNESSES of an
    overlap only — the per-block budget that keeps a stop-gram from
    generating df² candidates. The kernel runs the triangular dense
    block-matmul grid when the capped dictionary has at most
    ``dense_dict_max`` grams (the small-dictionary regime where the posting
    join degenerates to near-all-pairs), else the sparse posting self-join;
    the output is the same either way (pinned in tests/test_properties.py).
    """
    d = docs.selectExpr(f"CAST(`{id_col}` AS BIGINT) AS id", f"`{gram_col}`")
    pairs = overlap_pairs(
        d, None, "id", gram_col, max_token_df=max_gram_df, min_jaccard=threshold,
        dense_dict_max=dense_dict_max, rows_per_block=rows_per_block,
    )
    return jaccard_at_least(pairs, threshold).selectExpr("a_id", "b_id", "sim_r")


def minhash_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 96,
    bands: int = 32,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """MinHash+LSH near-dup pairs over word-bigram shingles → (a_id, b_id,
    sim_r), a_id < b_id: :func:`~ertransfer_spark.operators.minhash.minhash_pairs`,
    whose band keys have an exact SQL twin
    (:func:`minhash_portable_duckdb_sql`; it verifies on the shingle
    strings, the shared verify on their xxhash64s — equal barring a 64-bit
    in-pair collision).
    """
    recs = docs.select(F.col(id_col).cast("long").alias("id"), word_shingles(text_col).alias("s"))
    out = minhash_pairs(recs, None, "id", "s", n_hashes, bands, min_jaccard)
    return out.select("a_id", "b_id", F.round("sim", 6).alias("sim_r"))


def minhash_portable_duckdb_sql(
    text_col: str = "text",
    id_col: str = "doc_id",
    table: str = "documents",
    n_hashes: int = 96,
    bands: int = 32,
    min_jaccard: float = 0.5,
) -> str:
    """DuckDB query mirroring :func:`minhash_dedup` hash-for-hash."""
    rows = rows_per_band(n_hashes, bands)
    toks = DUCKDB_TOKENS_SQL.format(col=text_col)
    sh = DUCKDB_BIGRAMS_SQL.format(ts=toks)
    th = DUCKDB_POLY_HASH_SQL.format(s="g")
    hmins = ", ".join(
        f"min((th * {2 * j + 1} + {j * MH_MUL}) % {POLY_HASH_MOD}) AS h{j}"
        for j in range(n_hashes)
    )
    band_exprs = []
    for b in range(bands):
        acc = "CAST(0 AS BIGINT)"
        for r in range(rows):
            acc = f"((({acc}) * {BAND_MUL} + h{b * rows + r}) % {POLY_HASH_MOD})"
        band_exprs.append(f"{acc} AS b{b}")
    band_eq = " OR ".join(f"x.b{b} = y.b{b}" for b in range(bands))
    return f"""
      WITH recs AS (
        SELECT CAST({id_col} AS BIGINT) AS id, {sh} AS s FROM {table}
      ), p AS (
        SELECT id, unnest(s) AS g FROM recs
      ), hashed AS (
        SELECT id, {th} AS th FROM p
      ), sig AS (
        SELECT id, {hmins} FROM hashed GROUP BY id
      ), bnd AS (
        SELECT id, {', '.join(band_exprs)} FROM sig
      ), cand AS (
        SELECT x.id AS a_id, y.id AS b_id
        FROM bnd x JOIN bnd y ON x.id < y.id AND ({band_eq})
      ), verified AS (
        SELECT c.a_id, c.b_id,
               round(
                 len(list_filter(ra.s, t -> list_contains(rb.s, t)))
                 / CAST(len(ra.s) + len(rb.s)
                        - len(list_filter(ra.s, t -> list_contains(rb.s, t))) AS DOUBLE), 6
               ) AS sim_r
        FROM cand c
        JOIN recs ra ON ra.id = c.a_id
        JOIN recs rb ON rb.id = c.b_id
      )
      SELECT a_id, b_id, sim_r FROM verified WHERE sim_r >= {min_jaccard}
    """


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, simhash32) — portable SimHash over distinct tokens."""
    th = SPARK_POLY_HASH_SQL.format(s="t")
    # LET-BIND the per-token hash array: `hs` is referenced once textually,
    # so CollapseProject inlines the transform into the 32-iteration outer
    # fold — re-hashing every token 32× per row (measured 13× the stage).
    # Binding it to a lambda variable evaluates it once; values unchanged
    # (this operator is oracle-checked bit-for-bit).
    expr = f"""
      transform(array(hs), hsv ->
        aggregate(
          sequence(0, 31),
          0L,
          (acc, b) -> acc + (case when
              aggregate(hsv, 0L,
                (s, h) -> s + ((h div cast(pow(2, b) as long)) % 2) * 2 - 1
              ) > 0 then cast(pow(2, b) as long) else 0L end)
        )
      )[0]
    """
    return (
        docs.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.array_distinct(tokens(F.col(text_col))).alias("toks"),
        )
        .withColumn("hs", F.expr(f"transform(toks, t -> {th})"))
        .select("doc_id", F.expr(expr).alias("simhash32"))
    )


def simhash_duckdb_sql(text_col: str, id_col: str = "doc_id", table: str = "documents") -> str:
    """DuckDB query mirroring :func:`simhash` bit-for-bit."""
    toks = DUCKDB_TOKENS.format(col=text_col)
    th = DUCKDB_POLY_HASH_SQL.format(s="t")
    return f"""
      WITH toks AS (
        SELECT CAST({id_col} AS BIGINT) AS doc_id,
               list_distinct({toks}) AS ts
        FROM {table}
      ), hashed AS (
        SELECT doc_id, list_transform(ts, t -> {th}) AS hs FROM toks
      )
      SELECT doc_id,
             CAST(list_sum(list_transform(range(0, 32), b ->
               CASE WHEN list_sum(list_transform(hs, h ->
                      ((h // CAST(pow(2, b) AS BIGINT)) % 2) * 2 - 1)) > 0
                    THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END)) AS BIGINT) AS simhash32
      FROM hashed
    """
