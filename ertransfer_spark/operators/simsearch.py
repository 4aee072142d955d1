"""Similarity search over embedding columns (array<float>).

Reference precedent: DeepBlocker's exact top-K vector pairing
(/root/reference/splitters/DeepBlocker/splitter.py:62-73, dense cosine
matmul) and the sentence-BERT similarity scorer
(/root/reference/methods/embeddings/get_similarity.py:4-10).

Paths, same contract (query_id, nbr_id, sim_r):

- brute_force_topk / cosine_neardup_pairs — the EXACT baselines: a
  rectangular (queries × corpus) or triangular (self) block-matrix sweep,
  ``gridsweep.block_sweep``, whose cells each run ONE numpy float64
  matmul. No driver-side collect, no crossJoin node, executor memory
  bounded by the block size. The cost is explicitly quadratic
  (replication factor = block count of the other side) — inherent to
  exact all-pairs; the sublinear scale paths are the ANN paths below.
- lsh_topk — random-hyperplane LSH over the pinned portable integer
  plane spec. Each side is materialized once as (id, vector, bucket keys);
  the keys come from one int64 numpy matmul per Arrow batch
  (:func:`plane_keys`), and candidates share a bucket in ≥1 of `n_tables`
  tables. Shuffle width O(vectors × tables), candidates ∝ collisions.
- ivf_topk — inverted-file ANN: corpus assigned once to the cells of
  deterministic id-hash seeds, queries probe the n_probe nearest cells
  through an equi-join.

Every ANN path ends in the same exact re-rank (``_rerank``): candidates
join back to their vectors, take the guarded cosine, and keep the top-k.
Ranking uses ROUNDED similarity (4 dp) with id tie-break so ordering is
reproducible across engines and float-summation orders.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ertransfer_spark.functions.text import DUCKDB_POLY_HASH_SQL, SPARK_POLY_HASH_SQL, poly_hash


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _as_double(col: str) -> Column:
    return F.col(col).cast("array<double>")


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    v = _as_double(vec_col)
    return df.withColumn("_v", v).withColumn("_norm", F.sqrt(_dot(F.col("_v"), F.col("_v"))))


def _normalized(M):
    """Row-normalize, zero-norm rows stay zero (sim contract: 0.0)."""
    import numpy as np

    norm = np.sqrt((M * M).sum(axis=1))
    scale = np.where(norm > 0, norm, 1.0)
    return (M / scale[:, None]) * (norm > 0)[:, None]


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """Keep the k best (query_id, nbr_id, sim_r) rows per query: sim_r
    descending, nbr_id ascending on ties."""
    w = Window.partitionBy("query_id").orderBy(F.desc("sim_r"), F.asc("nbr_id"))
    return scored.withColumn("_rk", F.row_number().over(w)).filter(F.col("_rk") <= k).drop("_rk")


def _rerank(
    cand: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    round_dp: int,
) -> DataFrame:
    """Exact cosine re-rank of ``(query_id, nbr_id)`` candidates → the
    ``round_dp``-rounded top-k (:func:`_top_k`). Both ids keep the caller's
    id type (string record ids included); a zero-norm vector scores 0.0."""
    q = with_norm(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("_v").alias("qv"), F.col("_norm").alias("qn")
    )
    c = with_norm(corpus, vec_col).select(
        F.col(id_col).alias("nbr_id"), F.col("_v").alias("cv"), F.col("_norm").alias("cn")
    )
    sim = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    # guard BOTH norms: a zero norm would otherwise divide by zero
    # (DIVIDE_BY_ZERO under ANSI sessions)
    sim_r = F.round(F.when((F.col("qn") > 0) & (F.col("cn") > 0), sim).otherwise(F.lit(0.0)), round_dp)
    scored = cand.join(q, "query_id").join(c, "nbr_id").select("query_id", "nbr_id", sim_r.alias("sim_r"))
    return _top_k(scored, k)


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 4,
    rows_per_block: int = 4096,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k → (query_id, nbr_id, sim_r).

    A rectangular :func:`gridsweep.block_sweep` of queries × corpus: every
    grid cell does ONE float64 numpy matmul (the north-rule vectorized-UDF
    path; the zip_with/aggregate Column form allocates per-pair arrays and
    is ~10× slower, and a driver-side collect of the query side would OOM
    at scale). Cost is explicitly O(|Q|·|C|·d) spread across the grid.

    Exactness of the per-cell prefilter: a corpus row can only reach the
    global top-k if its sim is within one rounding step of its cell's
    k-th largest sim for that query (k better rows in the same cell
    already dominate it at the final rounded ranking), so the emitted rows
    are the same for any block count. The final round+rank happens in
    Spark expressions so tie-breaks are identical to the SQL oracle.
    Self-matches (same id) are excluded unless ``exclude_self=False`` (use
    False when queries and corpus are DIFFERENT tables with overlapping
    raw id spaces — cross-source blocking — where equal ids are legitimate
    pairs).
    """
    import numpy as np
    import pandas as pd

    from ertransfer_spark.operators import gridsweep

    eps = 10.0 ** (-round_dp)

    def score_cell(left: pd.DataFrame, right: pd.DataFrame, diagonal: bool) -> pd.DataFrame:
        Qn = _normalized(np.stack(left["v"].to_numpy()).astype(np.float64))
        Mn = _normalized(np.stack(right["v"].to_numpy()).astype(np.float64))
        S = Mn @ Qn.T  # (corpus_rows, query_rows)
        qids = np.asarray(left["id"], dtype=np.int64)
        nbr = np.asarray(right["id"], dtype=np.int64)
        kk = min(k + 1 if exclude_self else k, len(nbr))  # +1: self-match removed after scoring
        if len(nbr) > kk:
            kth = np.partition(S, -kk, axis=0)[-kk, :]
            keep_r, keep_q = np.where(S >= (kth[None, :] - eps))
        else:
            keep_r, keep_q = np.where(np.ones_like(S, dtype=bool))
        out = pd.DataFrame(
            {"query_id": qids[keep_q], "nbr_id": nbr[keep_r], "sim": S[keep_r, keep_q]}
        )
        return out[out["query_id"] != out["nbr_id"]] if exclude_self else out

    def side(df: DataFrame) -> DataFrame:
        return df.select(F.col(id_col).cast("long").alias("id"), _as_double(vec_col).alias("v"))

    scored = gridsweep.block_sweep(
        *gridsweep.materialize(side(queries)), *gridsweep.materialize(side(corpus)), score_cell,
        schema="query_id long, nbr_id long, sim double", rows_per_block=rows_per_block,
    )
    return _top_k(scored.select("query_id", "nbr_id", F.round("sim", round_dp).alias("sim_r")), k)


def cosine_neardup_pairs(
    vectors: DataFrame,
    threshold: float = 0.25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 4,
    rows_per_block: int = 4096,
) -> DataFrame:
    """All pairs (a_id < b_id) with cosine ≥ threshold → (a_id, b_id, sim_r).

    Exact, as a TRIANGULAR :func:`gridsweep.block_sweep`: each unordered
    block pair is one cell scored with a single numpy float64 matmul, and
    the diagonal cells keep x < y, so every unordered vector pair is scored
    exactly once and no distinct is needed. The sublinear alternative at
    web scale is LSH candidates + exact verify (lsh_topk), which trades
    guaranteed recall for cost ∝ collisions.

    Zero-norm vectors score 0.0 against everything (dropped by any
    positive threshold), matching the guarded column-expression form.
    """
    import numpy as np
    import pandas as pd

    from ertransfer_spark.operators import gridsweep

    eps = 10.0 ** (-round_dp)

    def score_cell(lpdf: pd.DataFrame, rpdf: pd.DataFrame, diagonal: bool) -> pd.DataFrame:
        An = _normalized(np.stack(lpdf["v"].to_numpy()).astype(np.float64))
        Bn = _normalized(np.stack(rpdf["v"].to_numpy()).astype(np.float64))
        S = An @ Bn.T
        x = np.asarray(lpdf["id"], dtype=np.int64)
        y = np.asarray(rpdf["id"], dtype=np.int64)
        mask = S >= threshold - eps
        if diagonal:
            mask &= x[:, None] < y[None, :]
        r, c = np.where(mask)
        xa, yb = x[r], y[c]
        return pd.DataFrame(
            {"a_id": np.minimum(xa, yb), "b_id": np.maximum(xa, yb), "sim": S[r, c]}
        )

    v = vectors.select(F.col(id_col).cast("long").alias("id"), _as_double(vec_col).alias("v"))
    scored = gridsweep.block_sweep(
        *gridsweep.materialize(v), None, 0, score_cell,
        schema="a_id long, b_id long, sim double", rows_per_block=rows_per_block,
    )
    return scored.select(
        "a_id", "b_id", F.round("sim", round_dp).alias("sim_r")
    ).filter(F.col("sim_r") >= threshold)


def embed_records(
    records: DataFrame,
    tokens_col: str = "token_set",
    id_col: str = "conv_id",
    dim: int = 64,
) -> DataFrame:
    """Deterministic feature-hashed embedding of a token-set column →
    (id_col, embedding: array<double>, L2-normalized).

    The DeepBlocker analog (SURVEY J2) without a learned autoencoder: each
    token adds ±1 (sign from a second hash) to dimension hash(token) % dim
    — classic feature hashing / SimHash-style projection, entirely native
    Column expressions (explode → groupBy id,dim → pivot-free array
    assembly), deterministic and model-free. Cosine on these embeddings
    approximates token-set similarity, so the generic vector joins
    (:func:`lsh_topk`, :func:`brute_force_topk`, :func:`ivf_topk`) become
    blockers for any record corpus.
    """
    posts = records.select(
        F.col(id_col).alias("_id"), F.explode(tokens_col).alias("tok")
    )
    contrib = posts.select(
        "_id",
        F.pmod(F.hash("tok"), F.lit(dim)).alias("d"),
        (F.pmod(F.hash("tok", F.lit(1)), F.lit(2)) * 2 - 1).cast("double").alias("v"),
    )
    sparse = contrib.groupBy("_id", "d").agg(F.sum("v").alias("val"))
    vecs = sparse.groupBy("_id").agg(
        F.map_from_entries(F.collect_list(F.struct("d", "val"))).alias("m")
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.element_at(F.col("m"), i.cast("int")), F.lit(0.0)),
    )
    out = vecs.select(F.col("_id").alias(id_col), dense.alias("_raw"))
    norm = F.sqrt(
        F.aggregate(F.zip_with("_raw", "_raw", lambda a, b: a * b), F.lit(0.0), lambda x, v: x + v)
    )
    return out.select(
        id_col,
        F.when(
            norm > 0, F.transform("_raw", lambda x: x / norm)
        ).otherwise(F.col("_raw")).alias("embedding"),
    )


def vector_blocking(
    records_a: DataFrame,
    records_b: DataFrame,
    k: int = 5,
    tokens_col: str = "token_set",
    id_col: str = "conv_id",
    dim: int = 128,
    n_planes: int = 4,
    n_tables: int = 12,
) -> DataFrame:
    """J2 as a blocker: feature-hash both sides, hyperplane-LSH candidate
    join, exact cosine top-k → (a_id, b_id, sim) candidate pairs.

    4 planes per table: the pinned planes are far from independent (for
    i < 10, w[P][i] steps by 1 with i, so planes differ mostly by a
    constant offset), and 6 planes split near-duplicates apart (golden-pair
    recall 0.84 on the 60-conversation synth corpora; 4 planes give 0.96)."""
    ea = embed_records(records_a, tokens_col, id_col, dim)
    eb = embed_records(records_b, tokens_col, id_col, dim)
    # exclude_self=False: A and B are DIFFERENT tables; overlapping raw id
    # values (reference tabular datasets reuse integer id spaces on both
    # sides) are legitimate cross-source pairs, not self-matches
    out = lsh_topk(
        ea, eb, k=k, id_col=id_col, vec_col="embedding",
        n_planes=n_planes, n_tables=n_tables, exclude_self=False,
    )
    return out.select(
        F.col("query_id").alias("a_id"), F.col("nbr_id").alias("b_id"),
        F.col("sim_r").alias("sim"),
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 4,
) -> DataFrame:
    """IVF-style ANN: partition the corpus into ``n_lists`` cells, probe
    the ``n_probe`` nearest cells per query, exact cosine re-rank within
    the probed cells → (query_id, nbr_id, sim_r), approximate.

    The 100 TB shape: the corpus is assigned to cells ONCE; each query
    touches n_probe/n_lists of the data through an equi-join on cell id —
    no cross join, no full scan. Centroids are tiny and broadcast.

    Fully deterministic: the centroids are the ``n_lists`` corpus vectors
    with the smallest portable polynomial hash of their id (the pinned
    cross-engine spec, ``functions.text.SPARK_POLY_HASH_SQL``), and a
    vector's cell is its nearest seed by euclidean distance ROUNDED 6 dp
    with seed-rank tie-break. Every step has an exact SQL twin
    (:func:`ivf_seeded_duckdb_sql`), so the whole ANN operator is
    value-verifiable against DuckDB. Random-seed IVF is a standard variant
    (seeds ≈ a uniform corpus sample).
    """
    c = corpus.select(F.col(id_col).alias("nbr_id"), _as_double(vec_col).alias("cv"))
    th = F.expr(SPARK_POLY_HASH_SQL.format(s="CAST(nbr_id AS STRING)"))
    seed_rows = c.withColumn("_th", th).orderBy("_th", "nbr_id").limit(n_lists).collect()
    cent = [
        (i + 1, [float(x) for x in r["cv"]])
        for i, r in enumerate(sorted(seed_rows, key=lambda r: (r["_th"], r["nbr_id"])))
    ]
    cent_df = F.broadcast(corpus.sparkSession.createDataFrame(cent, "cell int, centroid array<double>"))

    def nearest_cells(df: DataFrame, id_name: str, vec: str, n: int) -> DataFrame:
        """(id_name, cell) for the n cells nearest each row's vector."""
        d = F.round(F.sqrt(F.aggregate(
            F.zip_with(F.col(vec), F.col("centroid"), lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, v: acc + v,
        )), 6)
        w = Window.partitionBy(id_name).orderBy(F.asc("_d"), F.asc("cell"))
        return (
            df.crossJoin(cent_df).withColumn("_d", d)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= n).select(id_name, "cell")
        )

    assigned = nearest_cells(c, "nbr_id", "cv", 1)
    q = queries.select(F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qv"))
    probes = nearest_cells(q, "query_id", "qv", n_probe)
    cand = probes.join(assigned, "cell").filter(F.col("query_id") != F.col("nbr_id"))
    return _rerank(cand.select("query_id", "nbr_id"), queries, corpus, k, id_col, vec_col, round_dp)


def ivf_seeded_duckdb_sql(
    k: int = 5,
    n_lists: int = 8,
    n_probe: int = 3,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`ivf_topk` — replicates seed
    selection (portable polynomial id-hash), 6-dp-rounded euclidean cell
    assignment, n_probe probing, and the 4-dp cosine top-k."""
    th = DUCKDB_POLY_HASH_SQL.format(s="CAST(id AS VARCHAR)")
    dist = (
        "round(sqrt(list_sum(list_transform(range(1, 1 + len(x.v)), "
        "i -> (x.v[i] - s.sv[i]) * (x.v[i] - s.sv[i])))), 6)"
    )
    return f"""
      WITH e AS (
        SELECT CAST({id_col} AS BIGINT) AS id, {vec_col}::DOUBLE[] AS v FROM {table}
      ), hashed AS (
        SELECT id, v, {th} AS th FROM e
      ), seeds AS (
        SELECT id AS sid, v AS sv, row_number() OVER (ORDER BY th, id) AS cell
        FROM hashed ORDER BY th, id LIMIT {n_lists}
      ), dists AS (
        SELECT x.id, s.cell, {dist} AS d
        FROM e x, seeds s
      ), assign AS (
        SELECT id, cell FROM (
          SELECT *, row_number() OVER (PARTITION BY id ORDER BY d, cell) AS rn
          FROM dists
        ) WHERE rn = 1
      ), probes AS (
        SELECT id AS query_id, cell FROM (
          SELECT *, row_number() OVER (PARTITION BY id ORDER BY d, cell) AS rn
          FROM dists
        ) WHERE rn <= {n_probe}
      ), scored AS (
        SELECT p.query_id, a.id AS nbr_id,
               round(CASE WHEN list_dot_product(q.v, q.v) > 0
                               AND list_dot_product(c.v, c.v) > 0
                          THEN list_cosine_similarity(q.v, c.v) ELSE 0.0 END, 4) AS sim_r
        FROM probes p
        JOIN assign a ON a.cell = p.cell AND a.id <> p.query_id
        JOIN e q ON q.id = p.query_id
        JOIN e c ON c.id = a.id
      )
      SELECT query_id, nbr_id, sim_r FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim_r DESC, nbr_id) AS rk
        FROM scored
      ) WHERE rk <= {k}
    """


def lsh_portable_duckdb_sql(
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 4,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`lsh_topk` — re-derives the plane
    weights from the pinned polynomial hash IN SQL (so the oracle verifies
    the cross-engine spec, not driver-shipped literals), quantizes vectors
    the same way, and replays bucketing + exact cosine top-k."""
    total = n_tables * n_planes
    w_expr = DUCKDB_POLY_HASH_SQL.format(
        s="('pl:' || CAST(p.p AS VARCHAR) || ':' || CAST(d.i AS VARCHAR))"
    )
    return f"""
      WITH e AS (
        SELECT CAST({id_col} AS BIGINT) AS id, {vec_col}::DOUBLE[] AS v FROM {table}
      ), q AS (
        SELECT id, v,
               list_transform(v, x -> CAST(round(x * 1e6) AS BIGINT)) AS qv
        FROM e
      ), pl AS (
        SELECT p.p,
               list(({w_expr}) % 2001 - 1000 ORDER BY d.i) AS w
        FROM (SELECT unnest(range(0, {total})) AS p) p,
             (SELECT unnest(range(0, (SELECT max(len(v)) FROM e))) AS i) d
        GROUP BY p.p
      ), bits AS (
        SELECT q.id, pl.p // {n_planes} AS tbl, pl.p,
               CASE WHEN list_sum(list_transform(range(1, 1 + len(q.qv)),
                      i -> q.qv[i] * pl.w[i])) > 0 THEN '1' ELSE '0' END AS bit
        FROM q CROSS JOIN pl
      ), keys AS (
        SELECT id, tbl, string_agg(bit, '' ORDER BY p) AS bucket
        FROM bits GROUP BY id, tbl
      ), cand AS (
        SELECT DISTINCT x.id AS query_id, y.id AS nbr_id
        FROM keys x JOIN keys y ON x.tbl = y.tbl AND x.bucket = y.bucket
        WHERE x.id <> y.id
      ), scored AS (
        SELECT c.query_id, c.nbr_id,
               round(CASE WHEN list_dot_product(a.v, a.v) > 0
                               AND list_dot_product(b.v, b.v) > 0
                          THEN list_cosine_similarity(a.v, b.v) ELSE 0.0 END, 4) AS sim_r
        FROM cand c JOIN e a ON a.id = c.query_id JOIN e b ON b.id = c.nbr_id
      )
      SELECT query_id, nbr_id, sim_r FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim_r DESC, nbr_id) AS rk
        FROM scored
      ) WHERE rk <= {k}
    """


@functools.lru_cache(maxsize=8)
def plane_weights(n_planes: int, dim: int):
    """(n_planes, dim) int64 plane weights w[P][i] = th(``pl:{P}:{i}``) %
    2001 - 1000, th the pinned polynomial hash: integers in [-1000, 1000]."""
    import numpy as np

    return np.array(
        [[poly_hash(f"pl:{p}:{i}") % 2001 - 1000 for i in range(dim)] for p in range(n_planes)],
        dtype=np.int64,
    )


def _round_half_up(x):
    """Spark's ``round(x)`` of a double: ties go away from zero (numpy's
    ``round`` sends them to the even neighbour). x - trunc(x) is exact."""
    import numpy as np

    t = np.trunc(x)
    return t + np.copysign(np.abs(x - t) >= 0.5, x)


def plane_keys(vectors, n_planes: int, n_tables: int):
    """The ``n_tables`` hyperplane-LSH bucket keys of each row of a
    ``pyarrow`` list<double> array → list<int64> array, by the pinned
    portable spec (exact integer arithmetic, so the bits are the same in
    any engine):

    - quantized vector q[i] = round(v[i] · 1e6) (ties away from zero; a
      null component counts 0, a null vector is empty);
    - bit(P) = 1 iff Σ_i q[i]·w[P][i] > 0 over the row's own components
      (:func:`plane_weights`), one int64 matmul for the whole batch;
    - table t's key = the bits of planes [t·n_planes, (t+1)·n_planes),
      first plane most significant.

    Raises ``ValueError`` unless Σ_i |q[i]|·max|w| < 2^62 for every row:
    numpy int64 arithmetic would wrap silently past it."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(vectors)
    lens = pc.list_value_length(vectors).fill_null(0).to_numpy(zero_copy_only=False)
    flat = pc.list_flatten(vectors).fill_null(0.0).to_numpy(zero_copy_only=False)
    x = np.zeros((n, int(lens.max()) if n else 0))
    starts = np.cumsum(lens) - lens
    x[np.repeat(np.arange(n), lens), np.arange(len(flat)) - np.repeat(starts, lens)] = flat
    q = _round_half_up(x * 1e6)
    w = plane_weights(n_tables * n_planes, x.shape[1])
    bound = np.abs(q).sum(axis=1) * (np.abs(w).max() if w.size else 0)
    if not np.all(bound < 2.0 ** 62):  # also catches NaN and ±inf
        raise ValueError("plane_keys: a quantized vector's plane dot can reach 2^62 (int64 overflow)")
    bits = (q.astype(np.int64) @ w.T > 0).reshape(n, n_tables, n_planes)
    keys = bits.astype(np.int64) @ (np.int64(1) << np.arange(n_planes - 1, -1, -1, dtype=np.int64))
    offsets = np.arange(0, n * n_tables + 1, n_tables, dtype=np.int32)
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(keys.ravel()))


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    n_tables: int = 4,
    round_dp: int = 4,
    exclude_self: bool = True,
) -> DataFrame:
    """Random-hyperplane LSH ANN → (query_id, nbr_id, sim_r), approximate.

    Bucket keys per :func:`plane_keys` (the pinned portable plane spec; the
    DuckDB twin :func:`lsh_portable_duckdb_sql` re-derives the planes from
    the hash spec in SQL); candidates = bucket collisions in any table
    (distinct), then the exact cosine re-rank (``_rerank``). At 100 TB the
    bucket join replaces the cross join: cost ∝ collisions, and AQE
    skew-join splits hot buckets.

    Each side is materialized once (``localCheckpoint``) as (id, vector,
    keys): the bucket join and the re-rank read the same copy, so a
    computed input (``vector_blocking``'s embeddings) runs once per side,
    and the Arrow UDF is planned on its own rather than under a self-join.
    An empty corpus has no keys, hence no candidates and no rows.

    ``exclude_self`` drops query_id == nbr_id rows — correct for the
    self-join ANN contract (queries IS the corpus), but set it False when
    queries and corpus are DIFFERENT tables whose raw id spaces overlap
    (cross-source blocking): there (5, 5) is a legitimate candidate pair.
    """
    if not 1 <= n_planes <= 63:
        raise ValueError(f"n_planes={n_planes} must be in 1..63: a bucket key is one int64")
    kernel = F.arrow_udf(lambda v: plane_keys(v, n_planes, n_tables), "array<bigint>")

    def side(df: DataFrame) -> DataFrame:
        v = _as_double(vec_col)
        return df.select(id_col, v.alias(vec_col), kernel(v).alias("_keys")).localCheckpoint()

    def bucketed(df: DataFrame, name: str) -> DataFrame:
        return df.select(F.col(id_col).alias(name), F.posexplode("_keys").alias("tbl", "bucket"))

    q = side(queries)
    c = q if corpus is queries else side(corpus)
    cand = bucketed(q, "query_id").join(bucketed(c, "nbr_id"), ["tbl", "bucket"])
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("nbr_id"))
    return _rerank(cand.select("query_id", "nbr_id").distinct(), q, c, k, id_col, vec_col, round_dp)
