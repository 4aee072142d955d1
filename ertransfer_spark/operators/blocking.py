"""Blocking (candidate generation) — SURVEY §2.3 J1-J3, §2.5 W4.

The reference delegates to pyJedAI's TopKJoin (inverted token index +
per-record top-K by cosine/dice/jaccard over agValue tokens or q-grams,
splitters/KNN-Join/splitter.py:72-82, settings grid settings.py:1-12) and
DeepBlocker's exact top-K vector pairing (splitters/DeepBlocker/
splitter.py:62-73). Spark-first re-expression:

  tokenize → explode → salted hash equi-join on token → groupBy pair
  (map-side partial agg) → similarity from (overlap, |A|, |B|) counts
  → per-left-id window top-K

Skew controls (north rule, explicit):
- **document-frequency pruning**: a token appearing in dfA×dfB records
  generates dfA·dfB candidate pairs; tokens with df above ``max_token_df``
  are dropped (they carry ~no similarity signal and all the blow-up).
- **per-block comparison budgets**: posting lists are capped at
  ``posting_budget`` entries per token per side (deterministic order),
  bounding any block to budget² comparisons.
- **AQE skew-join** splits residual hot partitions at runtime (enabled in
  session.py).
- ``block_histogram`` exposes the token-frequency distribution used to size
  ``spark.sql.shuffle.partitions`` and ``max_token_df``.

The shuffle structure is: one exchange on token (the join), one exchange on
(a_id,b_id) (the pair agg, partially aggregated map-side), one exchange on
a_id (the top-K window). No array survives past the explode — only counts —
so shuffle width is O(pairs), not O(pairs × tokens).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ertransfer_spark.functions.similarity import overlap_to_sim


def _postings(
    records: DataFrame,
    id_col: str,
    tokens_col: str,
    side: str,
    multiset: bool,
    posting_budget: int | None,
) -> DataFrame:
    """(token, {side}_id, {side}_size[, {side}_cnt]) posting lists."""
    if multiset:
        # token multiset: explode raw tokens, count per (id, token)
        toks = records.select(
            F.col(id_col).alias(f"{side}_id"),
            F.size(F.col(tokens_col)).alias(f"{side}_size"),
            F.explode(tokens_col).alias("token"),
        )
        posts = toks.groupBy("token", f"{side}_id", f"{side}_size").agg(
            F.count(F.lit(1)).alias(f"{side}_cnt")
        )
    else:
        posts = records.select(
            F.col(id_col).alias(f"{side}_id"),
            F.size(F.array_distinct(F.col(tokens_col))).alias(f"{side}_size"),
            F.explode(F.array_distinct(F.col(tokens_col))).alias("token"),
        )
    if posting_budget:
        w = Window.partitionBy("token").orderBy(F.col(f"{side}_id"))
        posts = posts.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") <= posting_budget
        ).drop("_rn")
    return posts


def top_k_token_join(
    records_a: DataFrame,
    records_b: DataFrame,
    k: int = 10,
    metric: str = "jaccard",
    id_col: str = "conv_id",
    tokens_col: str = "token_set",
    multiset: bool = False,
    max_token_df: int | None = None,
    posting_budget: int | None = None,
    min_sim: float = 0.0,
    salt: int = 1,
    salt_hot_product: int | None = None,
    hash_tokens: bool = False,
    skinny_postings: bool = False,
    topk_mode: str = "window",
    reverse: bool = False,
    direction: str | None = None,
    keep_rare_df: int | None = None,
) -> DataFrame:
    """Top-K similarity join → (a_id, b_id, overlap, a_size, b_size, sim).

    Keeps the K most-similar B records per A record under the chosen
    set metric (jaccard/dice/cosine/overlap), deterministic tie-break
    (sim DESC, b_id ASC). Set semantics by default; ``multiset=True``
    count-weights overlaps (pyJedAI ``_multiset`` parity).

    ``salt > 1`` splits each token's posting join across ``salt`` shuffle
    keys (left side hashed by a_id, right side replicated) — the north-rule
    hot-key mitigation: a token shared by df_a × df_b records otherwise
    lands its whole df_a·df_b join output in ONE partition (AQE skew-join
    splits by input size, not output product, so it cannot fix this).
    Results are identical for any salt value.

    ``salt_hot_product`` (with ``salt > 1``) salts ONLY tokens whose
    dfa·dfb join-output product exceeds the given budget, instead of
    replicating the whole B posting list ``salt``× — same skew protection
    (a partition's output for token t is dfa·dfb ≤ budget after splitting),
    a fraction of the shuffle bytes. Costs one small df agg per side
    (map-side-combined counts, broadcast keep-set).

    ``skinny_postings`` (set semantics only) drops the size column from the
    posting rows and re-attaches sizes AFTER the pair aggregation via a
    broadcast join against the per-record size table — posting shuffle rows
    shrink to (token, id).

    ``topk_mode='agg'`` replaces the per-a_id row_number window with a
    groupBy(a_id) collect_list → array_sort → slice(k) aggregation: same
    result and tie-breaks (sim DESC, b_id ASC on the ROUNDED-per-metric
    value is not applied here — raw sim, like the window), but the second
    exchange carries partially-merged arrays and sorts per group instead
    of full-partition sorting under WindowExec.

    ``reverse`` runs the join with the sides swapped (top-K kept per
    B-record) and re-orients the output columns — J3 parity with the
    reference's build-side switch (splitters/KNN-Join/splitter.py:54-71,
    179-181, auto when |A| < |B|). Spark picks its own physical build side
    regardless; this only controls which side the K-budget applies to.

    ``direction`` supersedes ``reverse`` when given: ``"fwd"`` (K per
    A-record), ``"rev"`` (K per B-record), or ``"union"`` — K per record on
    BOTH sides, the union of the two candidate sets. Union is pyJedAI's
    actual TopKJoin pruning (it keeps K neighbors per NODE of the bipartite
    similarity graph, both datasets' entities), and it is planned as ONE
    pass: the token join + pair aggregation run once, then two consecutive
    row_number windows (per a_id, per b_id) and a ``rka<=k OR rkb<=k``
    filter — ~one extra exchange+sort over a single-direction join, not a
    second join. Needed where the two schemas disagree on which side is
    informative (d10: A-side fragments rank poorly from B but fine from A).

    ``keep_rare_df`` adds a rare-token PASS-THROUGH keep-rule: any pair
    sharing at least one token with combined document frequency
    df_a + df_b ≤ keep_rare_df is kept regardless of its top-K rank.
    Top-K ranking loses golden pairs whose only shared evidence is a rare
    token when distractor pairs share many common tokens (measured on
    d10_imdb_dbpedia: union k=20 recall 0.664 of golden vs a 0.737
    reachable ceiling). A rare token is cheap by construction — a token
    with df_a+df_b ≤ T contributes at most (T/2)² join-output pairs, so
    the channel's candidate volume is df-bounded the same way
    ``max_token_df`` bounds the head (the two knobs cap opposite tails).
    Fused into the SAME single pass (the r4 union lesson: no second
    branch, no unionByName): the rare flag rides the posting rows through
    the token join, the pair agg picks it up as one extra ``max`` column,
    and the keep filter ORs it in. Supported with ``direction`` and the
    window topk_mode; with ``topk_mode='agg'`` the slice(k) physical form
    cannot express the OR, so the call falls back to the window form.
    Rarity is measured on the posting lists AFTER ``max_token_df`` /
    ``posting_budget`` pruning (identical when those caps are inactive).
    """
    if direction is not None:
        if direction not in ("fwd", "rev", "union"):
            raise ValueError(f"direction must be fwd|rev|union, got {direction!r}")
        reverse = direction == "rev"
    if reverse:
        swapped = top_k_token_join(
            records_b, records_a, k=k, metric=metric, id_col=id_col,
            tokens_col=tokens_col, multiset=multiset, max_token_df=max_token_df,
            posting_budget=posting_budget, min_sim=min_sim, salt=salt,
            salt_hot_product=salt_hot_product, hash_tokens=hash_tokens,
            skinny_postings=skinny_postings, topk_mode=topk_mode, reverse=False,
            keep_rare_df=keep_rare_df,
        )
        return swapped.select(
            F.col("b_id").alias("a_id"),
            F.col("a_id").alias("b_id"),
            "overlap",
            F.col("b_size").alias("a_size"),
            F.col("a_size").alias("b_size"),
            "sim",
        )

    skinny = skinny_postings and not multiset
    if skinny:
        # postings shrink to (token, id); sizes re-attached post-agg
        def _skinny_posts(records: DataFrame, side: str) -> DataFrame:
            posts = records.select(
                F.col(id_col).alias(f"{side}_id"),
                F.explode(F.array_distinct(F.col(tokens_col))).alias("token"),
            )
            if posting_budget:
                w = Window.partitionBy("token").orderBy(F.col(f"{side}_id"))
                posts = posts.withColumn("_rn", F.row_number().over(w)).filter(
                    F.col("_rn") <= posting_budget
                ).drop("_rn")
            return posts

        pa = _skinny_posts(records_a, "a")
        pb = _skinny_posts(records_b, "b")
        sizes_a = records_a.select(
            F.col(id_col).alias("a_id"),
            F.size(F.array_distinct(F.col(tokens_col))).alias("a_size"),
        )
        sizes_b = records_b.select(
            F.col(id_col).alias("b_id"),
            F.size(F.array_distinct(F.col(tokens_col))).alias("b_size"),
        )
    else:
        pa = _postings(records_a, id_col, tokens_col, "a", multiset, posting_budget)
        pb = _postings(records_b, id_col, tokens_col, "b", multiset, posting_budget)

    if hash_tokens:
        # shrink the shuffle: join on xxhash64(token) longs instead of the
        # token strings (~20 bytes → 8). A 64-bit collision would merge two
        # posting lists (P ≈ n²/2⁶⁵ over the distinct-token count) — off by
        # default; enabled on throughput-critical paths where tokens are
        # shingle strings and counts are huge.
        pa = pa.withColumn("token", F.xxhash64("token"))
        pb = pb.withColumn("token", F.xxhash64("token"))

    # ONE df-per-token aggregation per side feeds all three df-derived sets
    # (max_token_df keep, keep_rare_df rare, salt_hot_product hot): their
    # counts are row-identical because token pruning removes WHOLE tokens,
    # never rows within a surviving token, and posting_budget is already
    # applied upstream. Sharing the subplan lets Catalyst reuse the
    # exchange instead of re-scanning + re-exploding the postings per set.
    token_dfs = None
    if max_token_df or keep_rare_df or (salt > 1 and salt_hot_product):
        df_a = pa.groupBy("token").agg(F.count(F.lit(1)).alias("df_a"))
        df_b = pb.groupBy("token").agg(F.count(F.lit(1)).alias("df_b"))
        token_dfs = df_a.join(df_b, "token")  # tokens on BOTH sides

    if max_token_df:
        keep = token_dfs.filter(
            (F.col("df_a") <= max_token_df) & (F.col("df_b") <= max_token_df)
        ).select("token")
        pa = pa.join(F.broadcast(keep), "token")
        pb = pb.join(F.broadcast(keep), "token")

    if keep_rare_df:
        # rare-token pass-through flag: token present on BOTH sides with
        # combined df ≤ keep_rare_df. Rarity is measured on the pruned
        # posting lists: the both-sides-≤-max condition reproduces the
        # max_token_df keep filter, under which per-token counts are
        # unchanged. The rare set is the vocabulary's long tail — NOT
        # broadcastable at scale — so it joins onto the A-side postings by
        # token (sort-merge, co-partitioned with the main join when
        # unsalted); one extra posting-width exchange, opt-in.
        rare_cond = F.col("df_a") + F.col("df_b") <= keep_rare_df
        if max_token_df:
            rare_cond = rare_cond & (
                (F.col("df_a") <= max_token_df)
                & (F.col("df_b") <= max_token_df)
            )
        rare = (
            token_dfs.filter(rare_cond)
            .select("token")
            .withColumn("_rare", F.lit(1))
        )
        pa = pa.join(rare, "token", "left").withColumn(
            "_rare", F.coalesce(F.col("_rare"), F.lit(0))
        )

    if salt > 1 and salt_hot_product:
        # targeted skew split: replicate B postings ONLY for tokens whose
        # join-output product dfa·dfb exceeds the budget. Cold tokens join
        # un-replicated on salt key 0. Tokens dropped by the keep filter
        # may appear hot here — harmless, they are absent from pa/pb.
        hot = (
            token_dfs
            .filter(F.col("df_a") * F.col("df_b") > salt_hot_product)
            .select("token")
            .withColumn("_hot", F.lit(1))
        )
        pa = pa.join(F.broadcast(hot), "token", "left").withColumn(
            "_salt",
            F.when(F.col("_hot").isNotNull(), F.pmod(F.hash("a_id"), F.lit(salt)))
            .otherwise(F.lit(0)),
        ).drop("_hot")
        pb = pb.join(F.broadcast(hot), "token", "left").withColumn(
            "_salt",
            F.explode(
                F.when(
                    F.col("_hot").isNotNull(),
                    F.sequence(F.lit(0), F.lit(salt - 1)),
                ).otherwise(F.array(F.lit(0)))
            ),
        ).drop("_hot")
        joined = pa.join(pb, ["token", "_salt"]).drop("_salt")
    elif salt > 1:
        pa = pa.withColumn("_salt", F.pmod(F.hash("a_id"), F.lit(salt)))
        pb = pb.withColumn(
            "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
        )
        joined = pa.join(pb, ["token", "_salt"]).drop("_salt")
    else:
        joined = pa.join(pb, "token")
    if multiset:
        overlap = F.sum(F.least(F.col("a_cnt"), F.col("b_cnt")))
    else:
        overlap = F.count(F.lit(1))
    rare_agg = [F.max("_rare").alias("_has_rare")] if keep_rare_df else []
    if skinny:
        pairs = joined.groupBy("a_id", "b_id").agg(
            overlap.alias("overlap"), *rare_agg
        )
        pairs = pairs.join(F.broadcast(sizes_a), "a_id").join(
            F.broadcast(sizes_b), "b_id"
        )
    else:
        pairs = joined.groupBy("a_id", "b_id").agg(
            overlap.alias("overlap"),
            F.first("a_size").alias("a_size"),
            F.first("b_size").alias("b_size"),
            *rare_agg,
        )
    sim = overlap_to_sim(metric, F.col("overlap"), F.col("a_size"), F.col("b_size"))
    scored = pairs.withColumn("sim", sim)
    if min_sim > 0.0:
        scored = scored.filter(F.col("sim") >= min_sim)
    out_cols = ["a_id", "b_id", "overlap", "a_size", "b_size", "sim"]

    if direction == "union":
        # ONE pass over the scored pairs: rank per a_id AND per b_id as two
        # consecutive window functions, keep rows in either side's top-K.
        # This is deliberately NOT unionByName(topk_a, topk_b): union
        # re-analysis gives the second branch fresh expression ids, which
        # defeats exchange reuse, so that form re-runs the whole token join
        # + pair agg. Controlled same-process A/B on d10 (k=20, 757k
        # candidate rows, 2 rounds): two-window 39.5-43.8 s vs unionByName
        # 57.5-59.1 s. topk_mode is ignored here — the two-window plan IS
        # the union-mode physical strategy.
        wa = Window.partitionBy("a_id").orderBy(F.desc("sim"), F.asc("b_id"))
        wb = Window.partitionBy("b_id").orderBy(F.desc("sim"), F.asc("a_id"))
        keep = (F.col("_rka") <= k) | (F.col("_rkb") <= k)
        if keep_rare_df:
            keep = keep | (F.col("_has_rare") == 1)
        return (
            scored.withColumn("_rka", F.row_number().over(wa))
            .withColumn("_rkb", F.row_number().over(wb))
            .filter(keep)
            .select(*out_cols)
        )

    def _topk(key: str, other: str) -> DataFrame:
        # K best per `key` record, deterministic tie-break (sim DESC,
        # other-id ASC)
        if keep_rare_df:
            # slice(k) in agg mode cannot express the rare OR — window form
            w = Window.partitionBy(key).orderBy(F.desc("sim"), F.asc(other))
            return (
                scored.withColumn("_rk", F.row_number().over(w))
                .filter((F.col("_rk") <= k) | (F.col("_has_rare") == 1))
                .drop("_rk")
                .select(*out_cols)
            )
        if topk_mode == "agg":
            item = F.struct(
                (-F.col("sim")).alias("_ns"),
                F.col(other).alias(other),
                F.col("overlap").alias("overlap"),
                F.col("a_size").alias("a_size"),
                F.col("b_size").alias("b_size"),
                F.col("sim").alias("sim"),
            )
            topped = scored.groupBy(key).agg(
                F.slice(F.array_sort(F.collect_list(item)), 1, k).alias("_top")
            )
            e = topped.select(key, F.explode("_top").alias("_t"))
            return e.select(
                key,
                F.col(f"_t.{other}").alias(other),
                F.col("_t.overlap").alias("overlap"),
                F.col("_t.a_size").alias("a_size"),
                F.col("_t.b_size").alias("b_size"),
                F.col("_t.sim").alias("sim"),
            ).select(*out_cols)
        w = Window.partitionBy(key).orderBy(F.desc("sim"), F.asc(other))
        return (
            scored.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= k)
            .drop("_rk")
            .select(*out_cols)
        )

    return _topk("a_id", "b_id")


def token_jaccard_join(
    ra: DataFrame,
    rb: DataFrame,
    id_col: str = "id",
    tokens_col: str = "s",
    min_sim: float = 0.05,
    max_token_df: int = 500,
    dense_dict_max: int = 4096,
    rows_per_block: int = 4096,
) -> DataFrame:
    """Threshold Jaccard A/B join over pre-tokenized records →
    (a_id, b_id, overlap, a_size, b_size, sim_r), with an ADAPTIVE physical
    strategy (the A/B twin of ``dedup.shingle_jaccard_pairs``).

    Semantics match the skinny-posting equi-join: candidate tokens are the
    grams present on BOTH sides with per-side df ≤ ``max_token_df`` (the
    two-sided df cap — the quadratic-blowup guard); Jaccard denominators
    use the FULL distinct token-set sizes; output keeps rounded
    sim_r ≥ ``min_sim``.

    Kernel choice from one O(1)-row driver probe of the capped shared
    dictionary size:

    - **sparse** (web-scale default): xxhash64 posting keys, broadcast
      keep-set join, token equi-join, (a_id, b_id) count agg — the
      measured plan used by every prior round.
    - **dense** (shared dictionary ≤ ``dense_dict_max``): a rectangular
      block-matrix sweep (shape of ``simsearch.brute_force_topk``): each
      (A-block, B-block) grid cell computes ALL pairwise overlaps with one
      binary-matrix float32 matmul over a cell-local dictionary. This is
      the regime where every shared gram is hot-but-under-cap and the
      posting join degenerates to near-all-pairs: sum(dfa·dfb) joined rows
      stream through two shuffles, while the matmul emits only the pairs
      that can pass ``min_sim`` (margin prefilter in the kernel; the
      authoritative round(·,6) ≥ min_sim filter runs in Spark expressions
      in BOTH paths, so results — and the SQL oracle — are identical).
    """
    import numpy as np
    import pandas as pd

    def prep(side_df):
        return side_df.select(
            F.col(id_col).cast("long").alias("id"),
            F.expr(
                f"transform(array_distinct({tokens_col}), x -> xxhash64(x))"
            ).alias("hs"),
            F.size(F.array_distinct(F.col(tokens_col))).cast("int").alias("sz"),
        )

    ha, hb = prep(ra), prep(rb)
    pa = ha.select(F.col("id").alias("a_id"), F.explode("hs").alias("g"))
    pb = hb.select(F.col("id").alias("b_id"), F.explode("hs").alias("g"))
    keep = (
        pa.groupBy("g").agg(F.count(F.lit(1)).alias("dfa"))
        .filter(F.col("dfa") <= max_token_df)
        .join(
            pb.groupBy("g").agg(F.count(F.lit(1)).alias("dfb"))
            .filter(F.col("dfb") <= max_token_df),
            "g",
        )
        .select("g")
        .localCheckpoint()  # one pass feeds the dict-size probe AND both joins
    )
    # one bounded collect is both the dictionary-size probe and, in the
    # dense branch, the dictionary itself
    kept = keep.limit(dense_dict_max + 1).collect()
    n_kept = len(kept)

    sim_of = lambda ov, asz, bsz: F.round(ov / (asz + bsz - ov), 6)  # noqa: E731

    if 0 < n_kept <= dense_dict_max:
        # The keep dictionary is ≤ dense_dict_max rows BY BRANCH CONDITION,
        # so it collects to an O(dict) driver array (like IVF centroids) and
        # the kernel restricts each cell-local vocab to it. That lets the
        # grid feed straight off the prepped (id, hs, sz) rows — the old
        # explode → keep-join → collect_list → re-join-prep round trip spent
        # two ~5 s jobs per side at sf0.1 rebuilding arrays prep already had
        # (BENCH.md 2026-08-21 decomposition).
        keep_arr = np.sort(np.asarray([r["g"] for r in kept], dtype=np.int64))

        from ertransfer_spark.operators.gridsweep import grid_blocks

        sa = ha.select("id", F.sort_array("hs").alias("gs"), "sz").localCheckpoint()
        sb = hb.select("id", F.sort_array("hs").alias("gs"), "sz").localCheckpoint()
        par = ra.sparkSession.sparkContext.defaultParallelism
        qb_n = grid_blocks(sa.count(), rows_per_block, par)
        cb_n = grid_blocks(sb.count(), rows_per_block, par)
        a_rep = sa.select(
            F.col("id").alias("rid"), "gs", "sz",
            F.pmod(F.xxhash64("id"), F.lit(qb_n)).alias("qb"),
        ).withColumn("cb", F.explode(F.sequence(F.lit(0), F.lit(cb_n - 1))))
        b_rep = sb.select(
            F.col("id").alias("rid"), "gs", "sz",
            F.pmod(F.xxhash64("id"), F.lit(cb_n)).alias("cb"),
        ).withColumn("qb", F.explode(F.sequence(F.lit(0), F.lit(qb_n - 1))))
        t_eff = min_sim - 1e-6  # margin: Spark's rounded filter is authoritative

        def overlap_cell(key, lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
            empty = pd.DataFrame(
                {"a_id": [], "b_id": [], "overlap": [], "a_sz": [], "b_sz": []}
            ).astype(
                {"a_id": "int64", "b_id": "int64", "overlap": "int64",
                 "a_sz": "int32", "b_sz": "int32"}
            )
            if not len(lpdf) or not len(rpdf):
                return empty
            lg = [np.asarray(v, dtype=np.int64) for v in lpdf["gs"]]
            rg = [np.asarray(v, dtype=np.int64) for v in rpdf["gs"]]
            # gs arrives UNFILTERED; only keep-dictionary grams may witness
            # an overlap (the two-sided df cap), so the cell vocab is the
            # intersection — identical semantics to the old posting-side
            # keep-join, applied O(cell) instead of O(corpus).
            vocab = np.intersect1d(
                np.unique(np.concatenate(lg + rg)), keep_arr, assume_unique=True
            )

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

            O = densify(lg) @ densify(rg).T  # noqa: E741 — exact 0/1 counts in f32
            sa_ = np.asarray(lpdf["sz"], dtype=np.int64)
            sb_ = np.asarray(rpdf["sz"], dtype=np.int64)
            mask = (O > 0) & (
                O * (1.0 + t_eff) >= t_eff * (sa_[:, None] + sb_[None, :]) - 1e-6
            )
            r, c = np.where(mask)
            return pd.DataFrame(
                {
                    "a_id": np.asarray(lpdf["rid"], dtype=np.int64)[r],
                    "b_id": np.asarray(rpdf["rid"], dtype=np.int64)[c],
                    "overlap": O[r, c].astype(np.int64),
                    "a_sz": sa_[r].astype(np.int32),
                    "b_sz": sb_[c].astype(np.int32),
                }
            )

        from ertransfer_spark.operators.gridsweep import grid_cogroup

        pairs = grid_cogroup(
            a_rep, b_rep, ("qb", "cb"), overlap_cell,
            schema="a_id long, b_id long, overlap long, a_sz int, b_sz int",
        )
    else:
        szs_a = ha.select(F.col("id").alias("a_id"), F.col("sz").alias("a_sz"))
        szs_b = hb.select(F.col("id").alias("b_id"), F.col("sz").alias("b_sz"))
        # the keep-set is NOT force-broadcast here: in the sparse regime
        # the shared under-cap dictionary is O(distinct grams) — unbounded
        # at web scale (billions of grams at 10^12 turns would OOM a
        # forced broadcast). AQE broadcasts it dynamically whenever it is
        # actually small; otherwise it stays a shuffled join on g, which
        # the posting join needs anyway. (The dense branch's broadcasts
        # are safe by construction: keep ≤ dense_dict_max rows there.)
        pairs = (
            pa.join(keep, "g")
            .join(pb.join(keep, "g"), "g")
            .groupBy("a_id", "b_id")
            .agg(F.count(F.lit(1)).cast("long").alias("overlap"))
            .join(szs_a, "a_id")
            .join(szs_b, "b_id")
        )
    return (
        pairs.withColumn("sim_r", sim_of(F.col("overlap"), F.col("a_sz"), F.col("b_sz")))
        .filter(F.col("sim_r") >= min_sim)
        .select(
            "a_id", "b_id", "overlap",
            F.col("a_sz").cast("long").alias("a_size"),
            F.col("b_sz").cast("long").alias("b_size"),
            "sim_r",
        )
    )


def block_histogram(records: DataFrame, tokens_col: str = "token_set") -> DataFrame:
    """Token document-frequency histogram: (df_bucket, n_tokens, comparisons).

    ``comparisons`` ~ df² — the per-block cost driver. Used to choose
    shuffle-partition counts and max_token_df (reference analog: the
    blocking stats in split_statistics.txt,
    splitters/KNN-Join/splitter.py:198-207)."""
    df = records.select(F.explode(tokens_col).alias("token")).groupBy("token").agg(
        F.count(F.lit(1)).alias("df")
    )
    bucket = F.pow(F.lit(2.0), F.ceil(F.log2(F.col("df")))).cast("long")
    return (
        df.withColumn("df_bucket", F.when(F.col("df") <= 1, F.lit(1)).otherwise(bucket))
        .groupBy("df_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.col("df") * F.col("df")).alias("comparisons"),
        )
        .orderBy("df_bucket")
    )


# --------------------------------------------------------------------------
# MinHash-LSH blocking (scale path; J2 analog of DeepBlocker's vector top-K)
# --------------------------------------------------------------------------

def minhash_signature(tokens_col, n_hashes: int = 64):
    """Native minhash signature: sig[j] = min over tokens of hash(token, j).

    Uses Spark's murmur3 ``F.hash`` with the permutation index mixed in —
    entirely JVM-side, no UDF, no Spark-ML VectorUDT detour. NOTE: only for
    small/derived columns — the join below uses the columnar-aggregate form
    instead (nested transform trees blow up codegen when a downstream
    posexplode duplicates them per band)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_hashes - 1)),
        lambda j: F.array_min(F.transform(tokens_col, lambda t: F.hash(t, j))),
    )


def minhash_band_keys(
    records: DataFrame,
    id_col: str,
    tokens_col: str,
    n_hashes: int,
    bands: int,
    side: str = "a",
) -> DataFrame:
    """({side}_id, band_idx, band_hash) LSH band keys for each record.

    The columnar-aggregate signature form (explode once, n_hashes
    ``min(hash(tok, j))`` partial-aggregable columns in one groupBy — see
    :func:`minhash_lsh_join`). Standalone so incremental/streaming callers
    can sign ONLY a new batch and bucket-join it against previously
    persisted band keys (cost O(|batch|), never O(corpus))."""
    if n_hashes % bands:
        raise ValueError(
            f"n_hashes={n_hashes} must be divisible by bands={bands}: "
            "a silent remainder would compute hashes that never feed a "
            "band, changing the effective LSH S-curve"
        )
    rows = n_hashes // bands
    posts = records.select(
        F.col(id_col).alias(f"{side}_id"), F.explode(tokens_col).alias("tok")
    )
    sig = posts.groupBy(f"{side}_id").agg(
        *[F.min(F.hash("tok", F.lit(j))).alias(f"h{j}") for j in range(n_hashes)]
    )
    band_cols = [
        F.hash(*[F.col(f"h{b * rows + r}") for r in range(rows)]) for b in range(bands)
    ]
    return sig.select(
        f"{side}_id",
        F.posexplode(F.array(*band_cols)).alias("band_idx", "band_hash"),
    )


def minhash_lsh_join(
    records_a: DataFrame,
    records_b: DataFrame,
    id_col: str = "conv_id",
    tokens_col: str = "token_set",
    n_hashes: int = 96,
    bands: int = 32,
    min_jaccard: float = 0.5,
    self_join: bool = False,
) -> DataFrame:
    """LSH candidate generation + exact-jaccard verification.

    → (a_id, b_id, sim). With bands=32 × rows=3 over 96 hashes the S-curve
    gives ~0.99 collision probability at jaccard 0.5 (and ~0.75 at 0.35 —
    extra candidates are cheap because verification is exact, so precision
    is 1 wrt ``min_jaccard`` and only recall depends on the banding).

    Signature computation is the columnar-aggregate form: explode tokens
    ONCE, then n_hashes partial-aggregable ``min(hash(token, j))`` columns
    in a single groupBy — one pass over postings, map-side combined, no
    nested-lambda expression tree (which codegen would otherwise duplicate
    per band slice).

    Shuffles: one on id (the signature agg), one on (band_idx, band_hash)
    (the bucket join), one on the verify join key. Bucket skew (many
    records sharing a band hash) is the LSH analog of a hot token; AQE
    skew-join splits it. Records with empty token sets produce no
    signature and no candidates.
    """
    ba = minhash_band_keys(records_a, id_col, tokens_col, n_hashes, bands, "a")
    bb = minhash_band_keys(records_b, id_col, tokens_col, n_hashes, bands, "b")
    cand = ba.join(bb, ["band_idx", "band_hash"]).select("a_id", "b_id")
    if self_join:
        cand = cand.filter(F.col("a_id") < F.col("b_id"))
    cand = cand.distinct()

    # verify ships xxhash64(token) long arrays instead of the token strings
    # (~3× smaller join rows, long-vs-string intersect) — sim is a COUNT
    # ratio, so values are identical (64-bit in-doc collision P ≈ n²/2⁶⁵,
    # the same accepted risk as the posting-key hashing elsewhere); the
    # intersection is computed ONCE per row, not once per use
    ht = lambda c: F.transform(F.col(c), lambda t: F.xxhash64(t))  # noqa: E731
    ta = records_a.select(F.col(id_col).alias("a_id"), ht(tokens_col).alias("a_toks"))
    tb = records_b.select(F.col(id_col).alias("b_id"), ht(tokens_col).alias("b_toks"))
    verified = (
        cand.join(ta, "a_id")
        .join(tb, "b_id")
        .withColumn(
            "_inter", F.size(F.array_intersect("a_toks", "b_toks")).cast("double")
        )
        .withColumn(
            "sim",
            F.col("_inter")
            / (F.size("a_toks") + F.size("b_toks") - F.col("_inter")),
        )
        .filter(F.col("sim") >= min_jaccard)
        .select("a_id", "b_id", "sim")
    )
    return verified


# --------------------------------------------------------------------------
# Sorted-neighborhood blocking (cheap complementary blocker)
# --------------------------------------------------------------------------

def sorted_neighborhood(
    records_a: DataFrame,
    records_b: DataFrame,
    key_col: str,
    window: int = 5,
    id_col: str = "conv_id",
) -> DataFrame:
    """Classic SNM over the union of both sides sorted by ``key_col``;
    emits cross-source pairs within ``window`` positions → (a_id, b_id).

    Scale path: the global rank is computed as range-partition offset +
    local row_number (two-phase), NOT a single-partition window; the
    neighbor pairing is an equi-join on exploded rank offsets (factor w),
    not a range join.
    """
    u = records_a.select(F.col(id_col).alias("rid"), F.col(key_col).alias("key")).withColumn(
        "side", F.lit("a")
    ).unionByName(
        records_b.select(F.col(id_col).alias("rid"), F.col(key_col).alias("key")).withColumn(
            "side", F.lit("b")
        )
    )
    n_parts = max(u.sparkSession.sparkContext.defaultParallelism, 4)
    # localCheckpoint FREEZES the range partitioning: the counts collect
    # below and the ranked/join jobs otherwise each re-execute
    # repartitionByRange with a fresh RangePartitioner sample (seeded per
    # job), and on data large enough for partial sampling the boundaries
    # can shift rows between pids — corrupting offset+row_number ranks.
    u = u.repartitionByRange(n_parts, "key", "rid").localCheckpoint()
    u = u.withColumn("pid", F.spark_partition_id())
    # driver collect is O(partitions) — one tiny row per range partition,
    # independent of record count; never a row-scale collect
    counts = {r["pid"]: r["n"] for r in u.groupBy("pid").agg(F.count(F.lit(1)).alias("n")).collect()}
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    w_local = Window.partitionBy("pid").orderBy("key", "rid")
    ranked = u.withColumn("rn", F.row_number().over(w_local) + off[F.col("pid")] - 1)

    left = ranked.select("rid", "side", "rn").withColumn(
        "nbr", F.explode(F.sequence(F.col("rn") + 1, F.col("rn") + window))
    )
    right = ranked.select(
        F.col("rid").alias("rid2"), F.col("side").alias("side2"), F.col("rn").alias("nbr")
    )
    pairs = left.join(right, "nbr").filter(F.col("side") != F.col("side2"))
    a_first = F.col("side") == "a"
    return pairs.select(
        F.when(a_first, F.col("rid")).otherwise(F.col("rid2")).alias("a_id"),
        F.when(a_first, F.col("rid2")).otherwise(F.col("rid")).alias("b_id"),
    ).distinct()
