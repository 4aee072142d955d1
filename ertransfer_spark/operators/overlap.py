"""Set-overlap kernel — the one code path that turns token arrays into
candidate pairs ``(a_id, b_id, overlap, a_size, b_size)``.

Every "pairs that share tokens" operator is a filter over
:func:`overlap_pairs` (the split of Vernica et al., *Efficient Parallel
Set-Similarity Joins Using MapReduce*, SIGMOD'10: one posting stage, one
kernel, filters on top):

- ``blocking.top_k_token_join``: per-record top-K (SURVEY J1/J3);
- ``blocking.token_jaccard_join``: rounded-threshold Jaccard A/B join;
- ``dedup.shingle_jaccard_pairs``: rounded-threshold Jaccard self-join.

**Postings.** Tokens become xxhash64 keys (8-byte shuffle keys; a 64-bit
collision would merge two posting lists, P ≈ n²/2⁶⁵ over the distinct
tokens). Posting rows are skinny — ``(g, id)``, plus ``cnt`` under
multiset semantics — and the record sizes are joined back after the pair
aggregation. ``posting_budget`` keeps the first N ids per token per side.
The explode is ``explode_outer`` with the NULL key dropped after: an inner
``explode`` makes the optimizer infer a ``size(hs) > 0`` filter that
rebuilds the hashed array below the projection.

**Token-df table** ``(g, df_a, df_b)``: one ``groupBy("g")`` over both
sides with two conditional counts. It feeds the two-sided ``max_token_df``
cap (tokens over it on either side leave the postings through a broadcast
join against the HOT set, at most |postings|/cap rows at any corpus size;
the kept-token set grows with the vocabulary and is never broadcast), the
rare flag (``keep_rare_df``), hot-token salting (AQE's skew join splits by
input size, not by the df_a·df_b output product, so tokens with
df_a·df_b > ``HOT_PRODUCT`` spread their A postings over
``defaultParallelism`` salt keys and replicate their B postings to each),
and the dense-dictionary probe.

**Kernels.** The sparse posting join (token equi-join → ``(a_id, b_id)``
count) is the web-scale path. Set-semantics Jaccard calls with
``min_jaccard > 0`` materialize ``(id, hs, sz)`` once per side (a lazy
``localCheckpoint``), and everything reads it: the df
table, the probe, the postings and the dense grid. Their df table also
counts one NULL-key sentinel posting per record (no xxhash64 key is
NULL), so the probe's one aggregate job computes the sides and returns
both the capped shared dictionary and each side's row count. When that
dictionary has at most ``dense_dict_max`` tokens, each cell of a
``gridsweep.block_sweep`` computes all pairwise overlaps with one
binary-matrix float32 matmul over a cell-local dictionary and emits only
pairs that can reach ``min_jaccard`` (a prefilter with a margin; callers
apply the authoritative rounded filter). That is the regime where every
shared token is hot but under the cap and the posting join streams
near-all-pairs through two shuffles. Both kernels return the same pairs
at or above ``min_jaccard``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Join-output product df_a·df_b above which a token's posting join is salted.
HOT_PRODUCT = 65536


def _prep(records: DataFrame, id_col: str, tokens_col: str, multiset: bool) -> DataFrame:
    """(id, hs, sz): hashed tokens (distinct unless multiset) and set size."""
    toks = f"`{tokens_col}`" if multiset else f"array_distinct(`{tokens_col}`)"
    return records.selectExpr(
        f"`{id_col}` AS id", f"transform({toks}, t -> xxhash64(t)) AS hs", f"size({toks}) AS sz"
    )


def _postings(prep: DataFrame, side: str, multiset: bool, posting_budget: int | None) -> DataFrame:
    """(g, {side}_id[, {side}_cnt]) posting rows."""
    sid = f"{side}_id"
    posts = prep.selectExpr(f"id AS {sid}", "explode_outer(hs) AS g").filter("g IS NOT NULL")
    if multiset:
        posts = posts.groupBy("g", sid).agg(F.expr(f"count(1) AS {side}_cnt"))
    if posting_budget:
        rn = f"row_number() OVER (PARTITION BY g ORDER BY {sid}) AS _rn"
        posts = posts.selectExpr("*", rn).filter(f"_rn <= {posting_budget}").drop("_rn")
    return posts


def _token_df(a: DataFrame, b: DataFrame | None, g: str) -> DataFrame:
    """(g, df_a, df_b) over the rows of the expression ``g`` on each side;
    ``b=None`` is the self-join, whose df_b is df_a."""
    if b is None:
        return a.selectExpr(f"{g} AS g").groupBy("g").agg(F.expr("count(1) AS df_a"), F.expr("count(1) AS df_b"))
    u = a.selectExpr(f"{g} AS g", "true AS _a").unionByName(b.selectExpr(f"{g} AS g", "false AS _a"))
    return u.groupBy("g").agg(F.expr("count_if(_a) AS df_a"), F.expr("count_if(NOT _a) AS df_b"))


def jaccard_at_least(pairs: DataFrame, min_sim: float) -> DataFrame:
    """Add ``sim_r`` = round(Jaccard, 6) and keep rows with sim_r ≥ min_sim —
    the filter the SQL oracles state, applied to either kernel's output."""
    return pairs.selectExpr("*", "round(overlap / (a_size + b_size - overlap), 6) AS sim_r").filter(
        f"sim_r >= CAST('{float(min_sim)!r}' AS DOUBLE)"
    )


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
    probe = min_jaccard > 0 and not (multiset or posting_budget or keep_rare_df)
    prep_a = _prep(records_a, id_col, tokens_col, multiset)
    prep_b = prep_a if triangular else _prep(records_b, id_col, tokens_col, multiset)
    over_cap = f"(df_a > {max_token_df} OR df_b > {max_token_df})" if max_token_df else "false"

    if probe:
        # one materialization per side, computed by the probe's job below
        prep_a = prep_a.localCheckpoint(eager=False)
        prep_b = prep_a if triangular else prep_b.localCheckpoint(eager=False)
        # a NULL-key sentinel per record: the g = NULL row counts each side
        dfs = _token_df(prep_a, None if triangular else prep_b, "explode_outer(concat(hs, array(NULL)))")
        # one bounded collect: the side sizes, the dictionary-size probe
        # and, in the dense branch, the dictionary itself (every row when
        # the dictionary fits, so the NULL row is among them)
        kept = f"g IS NULL OR (df_a > 0 AND df_b > 0 AND NOT {over_cap})"
        rows = dfs.filter(kept).limit(dense_dict_max + 2).collect()
        keep = [r["g"] for r in rows if r["g"] is not None]
        if 0 < len(keep) <= dense_dict_max:
            n_a, n_b = next((r["df_a"], r["df_b"]) for r in rows if r["g"] is None)
            return _dense_pairs(prep_a, n_a, None if triangular else prep_b, n_b, keep, min_jaccard, rows_per_block)

    pa = _postings(prep_a, "a", multiset, posting_budget)
    pb = _postings(prep_b, "b", multiset, posting_budget)
    if not probe:
        dfs = _token_df(pa, None if triangular else pb, "g")

    fan = records_a.sparkSession.sparkContext.defaultParallelism
    # _drop: over the cap (leaves the postings); otherwise hot and salted
    hot = dfs.filter(f"g IS NOT NULL AND ({over_cap} OR df_a * df_b > {HOT_PRODUCT})")
    hot = F.broadcast(hot.selectExpr("g", f"{over_cap} AS _drop"))
    cols_a = ["g", "a_id"] + (["a_cnt"] if multiset else [])
    pa = pa.join(hot, "g", "left").filter("NOT coalesce(_drop, false)").selectExpr(
        *cols_a, f"CASE WHEN _drop IS NULL THEN 0 ELSE pmod(hash(a_id), {fan}) END AS _salt"
    )
    pb = pb.join(hot, "g", "left").filter("NOT coalesce(_drop, false)").selectExpr(
        "g", "b_id", *(["b_cnt"] if multiset else []),
        f"explode(CASE WHEN _drop IS NULL THEN array(0) ELSE sequence(0, {fan - 1}) END) AS _salt",
    )

    rare_agg = []
    if keep_rare_df:
        # the rare set is the vocabulary's long tail — not broadcastable at
        # scale — so it joins the A postings by token (one extra exchange)
        rare = dfs.filter(f"df_a + df_b <= {keep_rare_df} AND NOT {over_cap}").selectExpr("g", "1 AS _rare")
        pa = pa.join(rare, "g", "left").selectExpr(*cols_a, "_salt", "coalesce(_rare, 0) AS _rare")
        rare_agg = [F.expr("max(_rare) AS _has_rare")]

    joined = pa.join(pb, ["g", "_salt"])
    if triangular:
        joined = joined.filter("a_id < b_id")
    overlap = "sum(least(a_cnt, b_cnt))" if multiset else "count(1)"
    pairs = joined.groupBy("a_id", "b_id").agg(F.expr(f"CAST({overlap} AS BIGINT) AS overlap"), *rare_agg)
    sizes_a = prep_a.selectExpr("id AS a_id", "sz AS a_size")
    sizes_b = prep_b.selectExpr("id AS b_id", "sz AS b_size")
    out = ["a_id", "b_id", "overlap", "a_size", "b_size"] + (["_has_rare"] if rare_agg else [])
    return pairs.join(sizes_a, "a_id").join(sizes_b, "b_id").selectExpr(*out)


def _dense_pairs(
    prep_a: DataFrame, n_a: int, prep_b: DataFrame | None, n_b: int,
    keep: list[int], min_jaccard: float, rows_per_block: int,
) -> DataFrame:
    """Block-matrix sweep over materialized (id, hs, sz) rows of
    ``n_a`` / ``n_b`` records: rectangular A × B grid, or the triangular
    self-grid when ``prep_b`` is None.

    The kept dictionary has at most ``dense_dict_max`` tokens by branch
    condition, so it ships to the cells as an O(dict) array; each cell
    restricts its local vocabulary to it, which is the two-sided df cap
    applied per cell instead of per corpus."""
    import numpy as np
    import pandas as pd

    from ertransfer_spark.operators import gridsweep

    triangular = prep_b is None
    keep_arr = np.sort(np.asarray(keep, dtype=np.int64))
    t = min_jaccard - 1e-6  # margin: the caller's rounded filter is authoritative

    def overlap_cell(lpdf: pd.DataFrame, rpdf: pd.DataFrame, diagonal: bool) -> pd.DataFrame:
        lg = [np.asarray(v, dtype=np.int64) for v in lpdf["hs"]]
        rg = [np.asarray(v, dtype=np.int64) for v in rpdf["hs"]]
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
        prep_a, n_a, prep_b, n_b, overlap_cell,
        schema="a_id long, b_id long, overlap long, a_size int, b_size int",
        rows_per_block=rows_per_block,
    )
