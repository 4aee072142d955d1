"""Set-overlap kernel — the one code path that turns token arrays into
candidate pairs ``(a_id, b_id, overlap, a_size, b_size)``.

Every "pairs that share tokens" operator is a filter over
:func:`overlap_pairs` (the split of Vernica et al., *Efficient Parallel
Set-Similarity Joins Using MapReduce*, SIGMOD'10: one posting stage, one
kernel, filters on top):

- ``blocking.top_k_token_join``: per-record top-K (SURVEY J1/J3);
- ``blocking.token_jaccard_join``: rounded-threshold Jaccard A/B join;
- ``dedup.shingle_jaccard_pairs``: rounded-threshold Jaccard self-join.

**Postings.** Tokens become xxhash64 keys (8-byte shuffle keys instead of
token strings; a 64-bit collision would merge two posting lists,
P ≈ n²/2⁶⁵ over the distinct tokens). Posting rows are skinny —
``(g, id)``, plus ``cnt`` under multiset semantics — and the record sizes
are joined back after the pair aggregation. ``posting_budget`` keeps the
first N ids per token per side.

**Token-df table** ``(g, df_a, df_b)``: one count per side, over the tokens
of both sides. It feeds

- the two-sided ``max_token_df`` cap: tokens over the cap on either side
  leave the postings through a broadcast join against the HOT set. The hot
  set has at most |postings|/cap rows, so it broadcasts at any corpus
  size; the kept-token set grows with the vocabulary and never does;
- the rare flag (``keep_rare_df``);
- hot-token salting: a token shared by df_a × df_b records lands its whole
  df_a·df_b join output in one partition (AQE's skew join splits by input
  size, not by output product). Tokens with df_a·df_b > ``HOT_PRODUCT``
  spread their A postings over ``defaultParallelism`` salt keys and
  replicate their B postings to each; cold tokens join unsalted;
- the dense-dictionary probe.

**Kernels.** The sparse posting join (token equi-join → ``(a_id, b_id)``
count) is the web-scale path. The dense grid runs only for set-semantics
Jaccard calls with ``min_jaccard > 0`` whose capped shared dictionary has
at most ``dense_dict_max`` tokens: each cell of a ``gridsweep.block_sweep``
computes all pairwise overlaps with one binary-matrix float32 matmul over
a cell-local dictionary, and emits only pairs that can reach ``min_jaccard`` (a
prefilter with a margin; callers apply the authoritative rounded filter).
That is the regime where every shared token is hot but under the cap and
the posting join streams near-all-pairs through two shuffles. Both
kernels return the same pairs at or above ``min_jaccard``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Join-output product df_a·df_b above which a token's posting join is salted.
HOT_PRODUCT = 65536


def _prep(records: DataFrame, id_col: str, tokens_col: str, multiset: bool) -> DataFrame:
    """(id, hs, sz): hashed tokens (distinct unless multiset) and set size."""
    toks = F.col(tokens_col) if multiset else F.array_distinct(F.col(tokens_col))
    hs = F.transform(toks, lambda t: F.xxhash64(t))
    return records.select(F.col(id_col).alias("id"), hs.alias("hs"), F.size(hs).alias("sz"))


def _postings(prep: DataFrame, side: str, multiset: bool, posting_budget: int | None) -> DataFrame:
    """(g, {side}_id[, {side}_cnt]) posting rows."""
    sid = f"{side}_id"
    posts = prep.select(F.col("id").alias(sid), F.explode("hs").alias("g"))
    if multiset:
        posts = posts.groupBy("g", sid).agg(F.count(F.lit(1)).alias(f"{side}_cnt"))
    if posting_budget:
        w = Window.partitionBy("g").orderBy(sid)
        posts = posts.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") <= posting_budget
        ).drop("_rn")
    return posts


def jaccard_at_least(pairs: DataFrame, min_sim: float) -> DataFrame:
    """Add ``sim_r`` = round(Jaccard, 6) and keep rows with sim_r ≥ min_sim —
    the filter the SQL oracles state, applied to either kernel's output."""
    sim = F.col("overlap") / (F.col("a_size") + F.col("b_size") - F.col("overlap"))
    return pairs.withColumn("sim_r", F.round(sim, 6)).filter(F.col("sim_r") >= min_sim)


def overlap_pairs(
    records_a: DataFrame,
    records_b: DataFrame | None,
    id_col: str,
    tokens_col: str,
    multiset: bool = False,
    max_token_df: int | None = None,
    posting_budget: int | None = None,
    keep_rare_df: int | None = None,
    min_jaccard: float = 0.0,
    dense_dict_max: int = 4096,
    rows_per_block: int = 4096,
) -> DataFrame:
    """Pairs sharing at least one token → (a_id, b_id, overlap, a_size,
    b_size), plus ``_has_rare`` (0/1) when ``keep_rare_df`` is set.

    ``records_b=None`` is the triangular self-join of ``records_a``
    (a_id < b_id). ``overlap`` counts shared tokens, or sums the min
    per-token counts when ``multiset``; sizes are distinct-token counts, or
    raw token counts when ``multiset``. Only tokens whose per-side df is
    ≤ ``max_token_df`` on both sides witness an overlap; sizes always count
    every token. ``_has_rare`` flags pairs sharing a token with
    df_a + df_b ≤ ``keep_rare_df``, measured after the cap and
    ``posting_budget``. Pairs with Jaccard below ``min_jaccard`` may or may
    not be returned.
    """
    triangular = records_b is None
    prep_a = _prep(records_a, id_col, tokens_col, multiset)
    prep_b = prep_a if triangular else _prep(records_b, id_col, tokens_col, multiset)
    pa = _postings(prep_a, "a", multiset, posting_budget)
    pb = _postings(prep_b, "b", multiset, posting_budget)

    dfs = pa.groupBy("g").agg(F.count(F.lit(1)).alias("df_a"))
    if triangular:
        dfs = dfs.withColumn("df_b", F.col("df_a"))
    else:
        dfs = dfs.join(pb.groupBy("g").agg(F.count(F.lit(1)).alias("df_b")), "g")
    over_cap = (
        (F.col("df_a") > max_token_df) | (F.col("df_b") > max_token_df)
        if max_token_df else F.lit(False)
    )

    if min_jaccard > 0 and not (multiset or posting_budget or keep_rare_df):
        # materialized once: the probe below and the sparse path's hot set
        dfs = dfs.localCheckpoint()
        # one bounded collect is both the dictionary-size probe and, in
        # the dense branch, the dictionary itself
        kept = dfs.filter(~over_cap).select("g").limit(dense_dict_max + 1).collect()
        if 0 < len(kept) <= dense_dict_max:
            return _dense_pairs(
                prep_a, None if triangular else prep_b, [r["g"] for r in kept],
                min_jaccard, rows_per_block,
            )

    fan = records_a.sparkSession.sparkContext.defaultParallelism
    # _drop: over the cap (leaves the postings); otherwise hot and salted
    hot = dfs.filter(over_cap | (F.col("df_a") * F.col("df_b") > HOT_PRODUCT))
    hot = F.broadcast(hot.select("g", over_cap.alias("_drop")))
    pa = pa.join(hot, "g", "left").filter(~F.coalesce("_drop", F.lit(False)))
    pb = pb.join(hot, "g", "left").filter(~F.coalesce("_drop", F.lit(False)))
    is_hot = F.col("_drop").isNotNull()
    pa = pa.withColumn(
        "_salt", F.when(is_hot, F.pmod(F.hash("a_id"), F.lit(fan))).otherwise(F.lit(0))
    ).drop("_drop")
    pb = pb.withColumn(
        "_salt",
        F.explode(F.when(is_hot, F.sequence(F.lit(0), F.lit(fan - 1))).otherwise(F.array(F.lit(0)))),
    ).drop("_drop")

    rare_agg: list[Column] = []
    if keep_rare_df:
        # the rare set is the vocabulary's long tail — not broadcastable at
        # scale — so it joins the A postings by token (one extra exchange)
        rare = dfs.filter((F.col("df_a") + F.col("df_b") <= keep_rare_df) & ~over_cap)
        pa = pa.join(rare.select("g", F.lit(1).alias("_rare")), "g", "left").withColumn(
            "_rare", F.coalesce(F.col("_rare"), F.lit(0))
        )
        rare_agg = [F.max("_rare").alias("_has_rare")]

    joined = pa.join(pb, ["g", "_salt"])
    if triangular:
        joined = joined.filter(F.col("a_id") < F.col("b_id"))
    overlap = F.sum(F.least("a_cnt", "b_cnt")) if multiset else F.count(F.lit(1))
    pairs = joined.groupBy("a_id", "b_id").agg(overlap.cast("long").alias("overlap"), *rare_agg)
    sizes_a = prep_a.select(F.col("id").alias("a_id"), F.col("sz").alias("a_size"))
    sizes_b = prep_b.select(F.col("id").alias("b_id"), F.col("sz").alias("b_size"))
    out = ["a_id", "b_id", "overlap", "a_size", "b_size"] + (["_has_rare"] if rare_agg else [])
    return pairs.join(sizes_a, "a_id").join(sizes_b, "b_id").select(*out)


def _dense_pairs(
    prep_a: DataFrame,
    prep_b: DataFrame | None,
    keep: list[int],
    min_jaccard: float,
    rows_per_block: int,
) -> DataFrame:
    """Block-matrix sweep over (id, hs, sz) rows: rectangular A × B grid, or
    the triangular self-grid when ``prep_b`` is None.

    The kept dictionary has at most ``dense_dict_max`` tokens by branch
    condition, so it ships to the cells as an O(dict) array; each cell
    restricts its local vocabulary to it, which is the two-sided df cap
    applied per cell instead of per corpus."""
    import numpy as np
    import pandas as pd

    from ertransfer_spark.operators import gridsweep

    triangular = prep_b is None
    keep_arr = np.sort(np.asarray(keep, dtype=np.int64))
    cols = ("id", F.sort_array("hs").alias("gs"), "sz")
    t = min_jaccard - 1e-6  # margin: the caller's rounded filter is authoritative

    def overlap_cell(lpdf: pd.DataFrame, rpdf: pd.DataFrame, diagonal: bool) -> pd.DataFrame:
        lg = [np.asarray(v, dtype=np.int64) for v in lpdf["gs"]]
        rg = [np.asarray(v, dtype=np.int64) for v in rpdf["gs"]]
        vocab = np.intersect1d(np.unique(np.concatenate(lg + rg)), keep_arr, assume_unique=True)

        def densify(arrs):
            M = np.zeros((len(arrs), len(vocab)), dtype=np.float32)
            if len(vocab):
                rows = np.repeat(np.arange(len(arrs)), [len(v) for v in arrs])
                vals = np.concatenate(arrs)
                cols = np.searchsorted(vocab, vals)
                ok = cols < len(vocab)
                ok[ok] = vocab[cols[ok]] == vals[ok]
                M[rows[ok], cols[ok]] = 1.0
            return M

        O = densify(lg) @ densify(rg).T  # noqa: E741 — 0/1 dot products, exact in f32
        x = np.asarray(lpdf["id"], dtype=np.int64)
        y = np.asarray(rpdf["id"], dtype=np.int64)
        sx = np.asarray(lpdf["sz"], dtype=np.int64)
        sy = np.asarray(rpdf["sz"], dtype=np.int64)
        # J >= t  <=>  O*(1+t) >= t*(sx+sy); evaluated with a margin
        mask = (O > 0) & (O * (1.0 + t) >= t * (sx[:, None] + sy[None, :]) - 1e-6)
        if diagonal:
            mask &= x[:, None] < y[None, :]
        r, c = np.where(mask)
        # a triangular grid emits each unordered pair once, in either order
        swap = x[r] > y[c] if triangular else np.zeros(len(r), dtype=bool)
        return pd.DataFrame(
            {
                "a_id": np.where(swap, y[c], x[r]),
                "b_id": np.where(swap, x[r], y[c]),
                "overlap": O[r, c].astype(np.int64),
                "a_size": np.where(swap, sy[c], sx[r]).astype(np.int32),
                "b_size": np.where(swap, sx[r], sy[c]).astype(np.int32),
            }
        )

    return gridsweep.block_sweep(
        prep_a.select(*cols), None if triangular else prep_b.select(*cols), overlap_cell,
        schema="a_id long, b_id long, overlap long, a_size int, b_size int",
        rows_per_block=rows_per_block,
    )
