"""Document deduplication operators — the training-data-pipeline extension
of the ER core (same candidate-generation machinery as blocking.py, applied
to a single corpus instead of an A/B pair).

Reference precedent: the blocking stage IS near-dup detection
(/root/reference/splitters/KNN-Join/splitter.py:72-91 keeps top-K similar
pairs; /root/reference/splitters/random-split/merger.py:34 drop_duplicates
is the exact-dup case). Here each flavor is a standalone operator:

- exact:   hash-groupBy on the full text digest — one shuffle, no joins.
- n-gram:  character-q-gram Jaccard self-join (explode → equi-join →
           overlap agg), df-pruned so a hot gram cannot explode the join.
- minhash: JVM-native MinHash+LSH banding (blocking.minhash_lsh_join) —
           the 100 TB path: candidates ∝ true near-dups, not |corpus|².
- simhash: 32-bit SimHash fingerprint from a pinned polynomial token hash
           (portable: the same hash is expressible in any engine, so the
           DuckDB oracle can verify it bit-for-bit).

All pure Column expressions except nothing — zero Python in any of these.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ertransfer_spark.functions.text import normalize, qgrams, tokens


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


def ngram_jaccard_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    q: int = 3,
    threshold: float = 0.5,
    max_gram_df: int = 50,
) -> DataFrame:
    """Near-dup pairs by character-q-gram Jaccard → (a_id, b_id, sim_r).

    Self-join semantics: a_id < b_id. ``max_gram_df`` drops grams shared by
    more than that many docs *before* the pair join — the per-block budget
    that keeps a stop-gram from generating df² candidates (north-rule skew
    control). Jaccard uses the FULL gram-set sizes, so pruning only lowers
    recall for pairs whose entire overlap is hot grams (none, at any
    sensible threshold).
    """
    g = docs.select(
        F.col(id_col).cast("long").alias("id"),
        qgrams(F.col(text_col), q=q).alias("grams"),
    ).withColumn("sz", F.size("grams"))
    posts = g.select("id", "sz", F.explode("grams").alias("gram"))
    dfreq = posts.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    keep = dfreq.filter(F.col("df") <= max_gram_df).select("gram")
    posts = posts.join(F.broadcast(keep), "gram")
    left = posts.select(
        F.col("id").alias("a_id"), F.col("sz").alias("a_sz"), "gram"
    )
    right = posts.select(
        F.col("id").alias("b_id"), F.col("sz").alias("b_sz"), "gram"
    )
    pairs = (
        left.join(right, "gram")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(
            F.count(F.lit(1)).alias("overlap"),
            F.first("a_sz").alias("a_sz"),
            F.first("b_sz").alias("b_sz"),
        )
    )
    sim = F.col("overlap") / (F.col("a_sz") + F.col("b_sz") - F.col("overlap"))
    return (
        pairs.withColumn("sim_r", F.round(sim, 6))
        .filter(F.col("sim_r") >= threshold)
        .select("a_id", "b_id", "sim_r")
    )


def shingle_jaccard_pairs(
    docs: DataFrame,
    gram_col: str = "s",
    id_col: str = "id",
    sz_col: str = "sz",
    threshold: float = 0.6,
    max_gram_df: int = 500,
    dense_dict_max: int = 4096,
    rows_per_block: int = 4096,
) -> DataFrame:
    """Threshold Jaccard self-join over pre-shingled docs → (a_id, b_id, sim_r),
    a_id < b_id, with an ADAPTIVE physical strategy.

    Input: one row per doc with ``gram_col`` = array of distinct shingle
    strings and ``sz_col`` = size of the FULL shingle set (the Jaccard
    denominator uses full sizes; the df cap only prunes which grams can
    WITNESS an overlap — same contract as :func:`ngram_jaccard_dedup`).

    Two kernels, chosen at runtime from the df-capped gram-dictionary size
    (one O(1)-row driver probe):

    - **sparse** (the web-scale default): xxhash64 posting keys, hot grams
      (df > ``max_gram_df``) removed by a broadcast ANTI-join — the hot set
      is provably ≤ |postings|/cap rows, so it broadcasts at any corpus
      size, unlike the keep-set — then the triangular posting self-join +
      pair count agg.
    - **dense** (when the kept dictionary ≤ ``dense_dict_max``): a
      triangular block-matrix sweep (same shape as
      ``simsearch.cosine_neardup_pairs``): docs are hash-bucketed into
      blocks, each unordered block pair is ONE cogrouped applyInPandas
      cell, and the cell computes ALL pairwise overlaps with a single
      binary-matrix float32 matmul over a cell-local dictionary
      (np.unique + searchsorted). Exact: 0/1 dot products ≤ dict size are
      exactly representable in float32, and the kernel only PREFILTERS
      with a margin — the authoritative round(·,6) ≥ threshold filter runs
      in Spark expressions, identical to the sparse path and the SQL
      oracle. This is the small-dictionary regime where the posting join
      degenerates to near-all-pairs (every gram hot but under the cap):
      streaming sum(df²) rows through a shuffle loses to one BLAS sweep.

    Both kernels return the identical pair set (dense-vs-sparse equality
    is pinned in tests/test_dedup_textstats.py).
    """
    import numpy as np
    import pandas as pd

    h = docs.select(
        F.col(id_col).cast("long").alias("id"),
        F.expr(f"transform({gram_col}, x -> xxhash64(x))").alias("hs"),
        F.col(sz_col).cast("int").alias("sz"),
    )
    posts = h.select("id", F.explode("hs").alias("g"))
    # one pass computes the df table; materialized so the dictionary-size
    # probe and the hot-set reuse it instead of recomputing the postings agg
    dfreq = posts.groupBy("g").agg(F.count(F.lit(1)).alias("df")).localCheckpoint()
    hot = dfreq.filter(F.col("df") > max_gram_df).select("g")
    # one bounded collect is both the dictionary-size probe and, in the
    # dense branch, the dictionary itself
    kept = dfreq.filter(F.col("df") <= max_gram_df).select("g").limit(dense_dict_max + 1).collect()
    n_kept = len(kept)

    sim_of = lambda ov, asz, bsz: F.round(ov / (asz + bsz - ov), 6)  # noqa: E731

    if 0 < n_kept <= dense_dict_max:
        # The kept dictionary is ≤ dense_dict_max rows by branch condition →
        # O(dict) driver collect (like IVF centroids); the kernel restricts
        # each cell-local vocab to it, so the grid feeds straight off the
        # prepped (id, hs, sz) rows instead of the explode → anti-join →
        # collect_list round trip (two corpus passes saved; BENCH.md
        # 2026-08-21 decomposition).
        keep_arr = np.sort(np.asarray([r["g"] for r in kept], dtype=np.int64))
        sets = h.select("id", F.sort_array("hs").alias("gs"), "sz")
        # materialized once: feeds BOTH cogroup sides and the block count
        sets = sets.localCheckpoint()
        from ertransfer_spark.operators.gridsweep import grid_blocks

        n_docs = sets.count()
        p = grid_blocks(
            n_docs, rows_per_block,
            docs.sparkSession.sparkContext.defaultParallelism, triangular=True,
        )
        v = sets.withColumn("blk", F.pmod(F.xxhash64("id"), F.lit(p)))
        left = v.select(
            F.col("blk").alias("bi"),
            F.explode(F.sequence(F.col("blk"), F.lit(p - 1))).alias("bj"),
            "id", "gs", "sz",
        )
        right = v.select(
            F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("bi"),
            F.col("blk").alias("bj"),
            "id", "gs", "sz",
        )
        t_eff = threshold - 1e-6  # margin: Spark's rounded filter is authoritative

        def overlap_cell(key, lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
            empty = pd.DataFrame(
                {"a_id": [], "b_id": [], "overlap": [], "a_sz": [], "b_sz": []}
            ).astype(
                {"a_id": "int64", "b_id": "int64", "overlap": "int64",
                 "a_sz": "int32", "b_sz": "int32"}
            )
            if not len(lpdf) or not len(rpdf):
                return empty
            lg = [np.asarray(a, dtype=np.int64) for a in lpdf["gs"]]
            rg = [np.asarray(a, dtype=np.int64) for a in rpdf["gs"]]
            # gs arrives UNFILTERED; only under-cap grams may witness an
            # overlap, so the cell vocab is intersected with the kept
            # dictionary — identical semantics to the old posting-side
            # anti-join, applied O(cell) instead of O(corpus).
            vocab = np.intersect1d(
                np.unique(np.concatenate(lg + rg)) if (lg or rg) else np.array([], dtype=np.int64),
                keep_arr, assume_unique=True,
            )

            def densify(arrs):
                M = np.zeros((len(arrs), len(vocab)), dtype=np.float32)
                if len(vocab):
                    rows = np.repeat(np.arange(len(arrs)), [len(a) for a in arrs])
                    vals = np.concatenate(arrs) if arrs else np.array([], dtype=np.int64)
                    cols = np.searchsorted(vocab, vals)
                    ok = cols < len(vocab)
                    ok[ok] = vocab[cols[ok]] == vals[ok]
                    M[rows[ok], cols[ok]] = 1.0
                return M

            O = densify(lg) @ densify(rg).T  # noqa: E741 — overlap counts, exact in f32
            x = np.asarray(lpdf["id"], dtype=np.int64)
            y = np.asarray(rpdf["id"], dtype=np.int64)
            sa = np.asarray(lpdf["sz"], dtype=np.int64)
            sb = np.asarray(rpdf["sz"], dtype=np.int64)
            # J >= t  <=>  O*(1+t) >= t*(sa+sb); evaluated with a margin
            mask = O * (1.0 + t_eff) >= t_eff * (sa[:, None] + sb[None, :]) - 1e-6
            mask &= O > 0
            if key[0] == key[1]:
                mask &= x[:, None] < y[None, :]
            r, c = np.where(mask)
            xa, yb = x[r], y[c]
            swap = xa > yb
            return pd.DataFrame(
                {
                    "a_id": np.where(swap, yb, xa),
                    "b_id": np.where(swap, xa, yb),
                    "overlap": O[r, c].astype(np.int64),
                    "a_sz": np.where(swap, sb[c], sa[r]).astype(np.int32),
                    "b_sz": np.where(swap, sa[r], sb[c]).astype(np.int32),
                }
            )

        from ertransfer_spark.operators.gridsweep import grid_cogroup

        pairs = grid_cogroup(
            left, right, ("bi", "bj"), overlap_cell,
            schema="a_id long, b_id long, overlap long, a_sz int, b_sz int",
        )
        return (
            pairs.withColumn("sim_r", sim_of(F.col("overlap"), F.col("a_sz"), F.col("b_sz")))
            .filter(F.col("sim_r") >= threshold)
            .select("a_id", "b_id", "sim_r")
        )

    # sparse posting self-join (the 100 TB default): skinny (g, id) postings,
    # hot grams dropped by broadcast anti-join, triangular a_id < b_id
    pk = posts.join(F.broadcast(hot), "g", "left_anti")
    szs = h.select("id", "sz")
    agg = (
        pk.select(F.col("id").alias("a_id"), "g")
        .join(pk.select(F.col("id").alias("b_id"), "g"), "g")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).cast("long").alias("overlap"))
        .join(szs.select(F.col("id").alias("a_id"), F.col("sz").alias("a_sz")), "a_id")
        .join(szs.select(F.col("id").alias("b_id"), F.col("sz").alias("b_sz")), "b_id")
    )
    return (
        agg.withColumn("sim_r", sim_of(F.col("overlap"), F.col("a_sz"), F.col("b_sz")))
        .filter(F.col("sim_r") >= threshold)
        .select("a_id", "b_id", "sim_r")
    )


def minhash_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 96,
    bands: int = 32,
    min_jaccard: float = 0.5,
    shingle: int = 2,
) -> DataFrame:
    """MinHash+LSH near-dup pairs → (a_id, b_id, sim_r), a_id < b_id.

    Delegates to blocking.minhash_lsh_join in self-join mode: JVM murmur3
    signatures, banding bucket-join, exact-jaccard verification. The scale
    path — shuffle width is O(docs × bands), candidates only where bands
    collide. Non-portable hash → verified by the rows-only driver check
    plus the engine-side property test (recall vs ngram_jaccard_dedup).

    ``shingle``: word n-gram size for the token set (1 = raw tokens).
    Shingles ≥2 are essential on small-vocabulary corpora where unigram
    sets are near-identical across documents.
    """
    from ertransfer_spark.functions.text import word_shingles
    from ertransfer_spark.operators.blocking import minhash_lsh_join

    tok = (
        F.array_distinct(tokens(F.col(text_col)))
        if shingle <= 1
        else word_shingles(text_col, n=shingle)
    )
    recs = docs.select(F.col(id_col).cast("long").alias("id"), tok.alias("token_set"))
    out = minhash_lsh_join(
        recs,
        recs,
        id_col="id",
        tokens_col="token_set",
        n_hashes=n_hashes,
        bands=bands,
        min_jaccard=min_jaccard,
        self_join=True,
    )
    return out.select("a_id", "b_id", F.round("sim", 6).alias("sim_r"))


# --------------------------------------------------------------------------
# SimHash — portable 32-bit fingerprint
# --------------------------------------------------------------------------

# Pinned polynomial token hash: h = fold over chars of (h*31 + ascii) mod M,
# seeded 7. Expressible identically in Spark SQL and DuckDB (ascii/substr/
# aggregate vs list_reduce), which is what makes the oracle exact.
_HASH_MOD = 2147483647


def _token_hash_expr(tok: str) -> str:
    return (
        f"aggregate(sequence(1, length({tok})), 7L, "
        f"(h, i) -> (h * 31 + ascii(substring({tok}, i, 1))) % {_HASH_MOD}L)"
    )


# --------------------------------------------------------------------------
# Portable MinHash+LSH — polynomial hashes, exactly reproducible in any
# engine, so the DuckDB oracle can verify the FULL banding+verify pipeline
# --------------------------------------------------------------------------

_MH_MUL = 99991        # j-th permutation: h_j(t) = (th(t)*(2j+1) + j*_MH_MUL) mod M
_BAND_MUL = 1000003    # band key: fold (acc*_BAND_MUL + h) mod M over the band's rows


def minhash_dedup_portable(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 96,
    bands: int = 32,
    min_jaccard: float = 0.5,
    shingle: int = 2,
) -> DataFrame:
    """MinHash+LSH near-dup pairs with PORTABLE hashes → (a_id, b_id, sim_r).

    Same algorithm as :func:`minhash_dedup` (columnar min-agg signatures,
    banding bucket join, exact-jaccard verification) but every hash is the
    pinned polynomial spec — th(t) = fold (h*31+ascii) mod 2^31-1 — so the
    whole operator has an exact SQL twin (:func:`minhash_portable_duckdb_sql`).
    Murmur3 (:func:`minhash_dedup`) stays the throughput path; this one is
    the verifiable path.
    """
    from ertransfer_spark.functions.text import word_shingles

    if n_hashes % bands:
        raise ValueError(
            f"n_hashes={n_hashes} must be divisible by bands={bands}: "
            "a silent remainder would compute hashes that never feed a "
            "band, changing the effective LSH S-curve"
        )
    rows = n_hashes // bands
    tok = word_shingles(text_col, n=shingle)
    recs = docs.select(F.col(id_col).cast("long").alias("id"), tok.alias("s"))
    posts = recs.select("id", F.explode("s").alias("g"))
    th = F.expr(_token_hash_expr("g"))
    posts = posts.withColumn("th", th)
    sig = posts.groupBy("id").agg(
        *[
            F.min((F.col("th") * (2 * j + 1) + j * _MH_MUL) % _HASH_MOD).alias(f"h{j}")
            for j in range(n_hashes)
        ]
    )
    band_cols = []
    for b in range(bands):
        acc = F.lit(0)
        for r in range(rows):
            acc = (acc * _BAND_MUL + F.col(f"h{b * rows + r}")) % _HASH_MOD
        band_cols.append(acc)
    banded = sig.select("id", F.posexplode(F.array(*band_cols)).alias("bi", "bh"))
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["bi", "bh"])
        .select(F.col("x.id").alias("a_id"), F.col("y.id").alias("b_id"))
        .filter(F.col("a_id") < F.col("b_id"))
        .distinct()
    )
    sa = recs.select(F.col("id").alias("a_id"), F.col("s").alias("sa"))
    sb = recs.select(F.col("id").alias("b_id"), F.col("s").alias("sb"))
    o = F.size(F.array_intersect("sa", "sb"))
    sim = o / (F.size("sa") + F.size("sb") - o).cast("double")
    return (
        cand.join(sa, "a_id")
        .join(sb, "b_id")
        .withColumn("sim_r", F.round(sim, 6))
        .filter(F.col("sim_r") >= min_jaccard)
        .select("a_id", "b_id", "sim_r")
    )


def minhash_portable_duckdb_sql(
    text_col: str = "text",
    id_col: str = "doc_id",
    table: str = "documents",
    n_hashes: int = 96,
    bands: int = 32,
    min_jaccard: float = 0.5,
) -> str:
    """DuckDB query mirroring :func:`minhash_dedup_portable` hash-for-hash."""
    from ertransfer_spark.functions.text import DUCKDB_BIGRAMS_SQL, DUCKDB_TOKENS_SQL

    if n_hashes % bands:
        raise ValueError(
            f"n_hashes={n_hashes} must be divisible by bands={bands}: "
            "a silent remainder would compute hashes that never feed a "
            "band, changing the effective LSH S-curve"
        )
    rows = n_hashes // bands
    toks = DUCKDB_TOKENS_SQL.format(col=text_col)
    sh = DUCKDB_BIGRAMS_SQL.format(ts=toks)
    th = (
        "list_reduce(list_prepend(CAST(7 AS BIGINT), "
        "list_transform(range(1, 1 + length(g)), i -> CAST(ascii(substr(g, i, 1)) AS BIGINT))), "
        f"(h, c) -> (h * 31 + c) % {_HASH_MOD})"
    )
    hmins = ", ".join(
        f"min((th * {2 * j + 1} + {j * _MH_MUL}) % {_HASH_MOD}) AS h{j}"
        for j in range(n_hashes)
    )
    band_exprs = []
    for b in range(bands):
        acc = "CAST(0 AS BIGINT)"
        for r in range(rows):
            acc = f"((({acc}) * {_BAND_MUL} + h{b * rows + r}) % {_HASH_MOD})"
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
    th = _token_hash_expr("t")
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
    from ertransfer_spark.functions.text import DUCKDB_TOKENS

    toks = DUCKDB_TOKENS.format(col=text_col)
    th = (
        "list_reduce(list_prepend(CAST(7 AS BIGINT), "
        "list_transform(range(1, 1 + length(t)), i -> CAST(ascii(substr(t, i, 1)) AS BIGINT))), "
        f"(h, c) -> (h * 31 + c) % {_HASH_MOD})"
    )
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
