"""Clustering stage — SURVEY §2.5 W1-W3, §2.8 M4, + connected components.

Reference parity (/root/reference/clustering/Probabilities):
- exact clustering (EC, reciprocal top-1): clustering.py:7-40 → two
  row_number windows + inner join (single pass).
- unique-mapping clustering (UMC, greedy 1-1): clustering.py:42-67 —
  inherently sequential scan in prob-desc order. Exact parallel
  reformulation: **iterated locally-dominant (mutual-best) edge
  selection** under the total edge order (prob DESC, a_id ASC, b_id ASC);
  equals the greedy result because the greedy-accepted edge set is
  exactly the set reachable by repeatedly taking edges that dominate
  both endpoints' remaining candidates. Each round = two windows +
  join + anti-joins, frontier localCheckpoint()ed.
- threshold tuning: grid 0..1 step .01 (clustering.py:70-102) →
  single-pass bucketed sweep (M4): one groupBy over prob buckets, 100
  cumulative sums driver-side — never 100 rescans.
- connected components (transitive clusters; the north rule requirement,
  reference precedent ZeroER run_trans=True methods/zeroer/entrypoint.py:
  65-66): large-star/small-star (Kiveris et al., MR-friendly, O(log n)
  rounds) over accepted pairs; cluster id = min member id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# --------------------------------------------------------------------------
# EC — reciprocal top-limit ("exact clustering")
# --------------------------------------------------------------------------

def exact_clusters(
    predictions: DataFrame,
    threshold: float = 0.5,
    limit: int = 1,
    prob_col: str = "prob_class1",
) -> DataFrame:
    """Mutual top-``limit`` pairs above threshold → (a_id, b_id, prob).

    Parity: clustering/Probabilities/clustering.py:7-40. Deterministic
    tie-break (prob DESC, other-id ASC) on both windows."""
    p = predictions.filter(F.col(prob_col) > threshold)
    wa = Window.partitionBy("a_id").orderBy(F.desc(prob_col), F.asc("b_id"))
    wb = Window.partitionBy("b_id").orderBy(F.desc(prob_col), F.asc("a_id"))
    top_a = p.withColumn("_r", F.row_number().over(wa)).filter(F.col("_r") <= limit).drop("_r")
    top_b = p.withColumn("_r", F.row_number().over(wb)).filter(F.col("_r") <= limit).drop("_r")
    return top_a.join(top_b.select("a_id", "b_id"), ["a_id", "b_id"]).select(
        "a_id", "b_id", F.col(prob_col).alias("prob")
    )


# --------------------------------------------------------------------------
# UMC — greedy 1-1 matching as iterated mutual-best selection
# --------------------------------------------------------------------------

def unique_mapping_clusters(
    predictions: DataFrame,
    threshold: float = 0.5,
    prob_col: str = "prob_class1",
) -> DataFrame:
    """Greedy 1-1 matching (UMC) → (a_id, b_id, prob).

    Exact parallel equivalent of the sequential greedy scan
    (clustering/Probabilities/clustering.py:42-67): repeatedly accept
    edges that are the best remaining edge of BOTH endpoints under the
    total order (prob DESC, a_id ASC, b_id ASC), then drop all edges
    touching matched ids. Converges in O(longest augmenting chain)
    rounds; each frontier is localCheckpoint()ed to cut lineage.

    Threshold boundary is INCLUSIVE: the reference greedy breaks on
    ``prob < threshold`` (clustering/Probabilities/clustering.py:48-49),
    i.e. edges with prob == threshold are still considered.

    Driver round-trips: exactly ONE action per round. Each round computes
    a single flagged frontier (both row_number windows + the mutual-best
    flag), lazily localCheckpoints it, and materializes it through one
    counting agg — the count of mutual-best edges doubles as the stop
    test (a nonempty edge set always has a mutual-best edge: the global
    maximum under the total order dominates both its endpoints), so no
    separate isEmpty probes are needed. The accepted set and the next
    frontier are lazy filters over the CHECKPOINTED frontier, so nothing
    is recomputed and lineage stays flat.

    The loop always converges: every round accepts at least one edge (the
    global maximum is mutual-best), so rounds are bounded by the edge
    count and in practice by the longest preference chain (a chain of N
    strictly-decreasing edges needs ~N/2 rounds).
    """
    remaining = predictions.filter(F.col(prob_col) >= threshold).select(
        "a_id", "b_id", F.col(prob_col).alias("prob")
    )
    accepted_parts: list[DataFrame] = []
    wa = Window.partitionBy("a_id").orderBy(F.desc("prob"), F.asc("a_id"), F.asc("b_id"))
    wb = Window.partitionBy("b_id").orderBy(F.desc("prob"), F.asc("a_id"), F.asc("b_id"))
    while True:
        flags = (
            remaining.withColumn("_ra", F.row_number().over(wa))
            .withColumn("_rb", F.row_number().over(wb))
            .withColumn("_best", (F.col("_ra") == 1) & (F.col("_rb") == 1))
            .select("a_id", "b_id", "prob", "_best")
        )
        # lazy checkpoint: the counting agg below is the one job that
        # materializes the frontier, caches its blocks, and truncates
        # lineage — isEmpty/extra checkpoints would each be another job
        flags = flags.localCheckpoint(eager=False)
        row = flags.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("_best").cast("long")).alias("nb"),
        ).collect()[0]
        n, nb = row["n"], row["nb"] or 0
        if nb == 0:  # implies n == 0 (see docstring)
            break
        best = flags.filter(F.col("_best")).select("a_id", "b_id", "prob")
        accepted_parts.append(best)
        if nb == n:  # every remaining edge was accepted — frontier is empty
            break
        remaining = (
            flags.filter(~F.col("_best"))
            .join(best.select("a_id"), "a_id", "left_anti")
            .join(best.select("b_id"), "b_id", "left_anti")
            .select("a_id", "b_id", "prob")
        )
    if not accepted_parts:
        # schema-stable empty result derived from the input (ids keep
        # their incoming type — string conv_ids or long doc_ids alike)
        return predictions.select(
            "a_id", "b_id", F.col(prob_col).cast("double").alias("prob")
        ).limit(0)
    accepted = accepted_parts[0]
    for part in accepted_parts[1:]:
        accepted = accepted.unionByName(part)
    return accepted


# --------------------------------------------------------------------------
# Threshold sweep — single-pass F1 over the 0..1/0.01 grid
# --------------------------------------------------------------------------

def threshold_sweep(
    predictions: DataFrame,
    label_col: str = "label",
    prob_col: str = "prob_class1",
    grid: int = 100,
) -> list[dict]:
    """F1/P/R for every threshold t = i/grid in ONE pass.

    Parity: clustering/Probabilities/clustering.py:70-102 runs the grid as
    100 full rescans; here one bucketed groupBy (one collect of at most
    ``grid + 1`` rows) + driver-side cumsum over ``grid`` rows.
    Returns one row per grid point i: {threshold, precision, recall, f1,
    n, pred_n, tp}, where ``n`` counts the rows of bucket i (prob in
    (i/grid, (i+1)/grid]), ``pred_n`` the rows predicted positive at the
    threshold and ``tp`` the positives among them. This is the one bucket
    rule and the one cumulative sum: the ``threshold_sweep`` contract query
    calls it.

    Boundary rule: predicted-positive at threshold t means ``prob > t``
    STRICTLY — the comparator the reference's clusterers apply
    (clustering/Probabilities/clustering.py:14 ``prob_class1 >
    sim_threshold``) and that :func:`exact_clusters` /
    ``matcher.evaluate_predictions`` use downstream, so ``best_threshold``'s
    tuned F1 is reproducible by the clusterer. A prob exactly AT a grid
    point i/grid therefore belongs to bucket i-1 (prob == 0.0 → bucket -1:
    counted in ground-truth positives, never predicted positive —
    grid-exact probs are real: the linreg scorer clips to exactly 0.0/1.0).
    """
    bucket_f = F.floor(F.col(prob_col) * grid)
    bucket = F.least(
        F.when(F.col(prob_col) <= bucket_f / F.lit(grid), bucket_f - 1)
        .otherwise(bucket_f),
        F.lit(grid - 1),
    ).cast("int")
    agg = (
        predictions.groupBy(bucket.alias("bkt"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum(label_col).alias("pos"))
        .collect()
    )
    by_bkt = {r["bkt"]: (r["n"], r["pos"] or 0) for r in agg}
    total_pos = sum(p for _, p in by_bkt.values())
    out = []
    # predicted-positive at threshold t=i/grid = rows with prob > t = buckets >= i
    # (exact, not approximate: grid-point probs were shifted to bucket i-1 above)
    pred_n = tp = 0
    for i in range(grid - 1, -1, -1):
        n, p = by_bkt.get(i, (0, 0))
        pred_n += n
        tp += p
        prec = tp / pred_n if pred_n else 0.0
        rec = tp / total_pos if total_pos else 0.0
        f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
        out.append({
            "threshold": i / grid, "precision": prec, "recall": rec, "f1": f1,
            "n": n, "pred_n": pred_n, "tp": tp,
        })
    return out[::-1]


def best_threshold(predictions: DataFrame, **kw) -> float:
    sweep = threshold_sweep(predictions, **kw)
    return max(sweep, key=lambda r: (r["f1"], -r["threshold"]))["threshold"]


def tune_threshold_runs(
    predictions: DataFrame,
    n_runs: int = 10,
    tune_fraction: float = 0.2,
    seed: int = 42,
    label_col: str = "label",
    prob_col: str = "prob_class1",
) -> dict:
    """The reference's full tuning protocol (M4 + A7): ``n_runs`` times,
    pick the argmax-F1 threshold on a ``tune_fraction`` stratified split
    and evaluate on the rest; report mean/std of threshold and holdout F1
    (clustering/Probabilities/clustering.py:70-102, mean/std at :87-91).

    The tune split is EXACTLY label-stratified like the reference's
    ``train_test_split(..., stratify=data['label'])``
    (clustering/Probabilities/clustering.py:77): within each label stratum,
    rows are ranked by a per-run seeded hash and the first
    ``round(frac · n_label)`` go to tune — deterministic,
    order-independent, and per-label fractions exact to ±1 row. The
    per-label window runs over the LABELED pair set (bounded — golden sets
    are dim-sized), so the 2-partition window is not a scale concern.
    Std is the sample std (ddof=1) like the reference's np.std call.
    """
    import statistics

    thresholds, f1s = [], []
    for r in range(n_runs):
        h = F.xxhash64("a_id", "b_id", F.lit(seed + r))
        w_rank = Window.partitionBy(label_col).orderBy(h, "a_id", "b_id")
        w_cnt = Window.partitionBy(label_col)
        ranked = predictions.withColumn("_rn", F.row_number().over(w_rank)).withColumn(
            "_cut", F.round(F.count(F.lit(1)).over(w_cnt) * tune_fraction)
        )
        tune = ranked.filter(F.col("_rn") <= F.col("_cut")).drop("_rn", "_cut")
        rest = ranked.filter(F.col("_rn") > F.col("_cut")).drop("_rn", "_cut")
        t = best_threshold(tune, label_col=label_col, prob_col=prob_col)
        sweep_rest = threshold_sweep(rest, label_col=label_col, prob_col=prob_col)
        f1 = next(
            (row["f1"] for row in sweep_rest if abs(row["threshold"] - t) < 1e-9), 0.0
        )
        thresholds.append(t)
        f1s.append(f1)
    std = statistics.stdev if n_runs > 1 else (lambda _: 0.0)
    return {
        "threshold_mean": statistics.mean(thresholds),
        "threshold_std": std(thresholds),
        "f1_mean": statistics.mean(f1s),
        "f1_std": std(f1s),
        "runs": n_runs,
    }


# --------------------------------------------------------------------------
# Connected components — large-star / small-star (Kiveris et al. 2014)
# --------------------------------------------------------------------------

def _canonical_edges(edges: DataFrame) -> DataFrame:
    u = F.col("u")
    v = F.col("v")
    return (
        edges.select(F.least(u, v).alias("u"), F.greatest(u, v).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _neighbors(edges: DataFrame) -> DataFrame:
    return edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))


def connected_components(edges: DataFrame, max_rounds: int = 30) -> DataFrame:
    """Connected components over an undirected edge list (u,v) →
    (node, cluster_id) with cluster_id = min node id in the component.

    Alternating large-star / small-star rounds; converges in O(log n).
    The fixpoint test is exact and needs no previous round to compare
    with: the alternation has converged iff the canonical edge set is a
    forest of stars centred on their minimum node (every member has one
    edge, to a smaller centre, and no centre is a member). An input that
    is already such a forest — a 1-1 matching, say — runs no round.

    Driver round-trips: ONE action per round, as in
    :func:`unique_mapping_clusters`. Each frontier is lazily
    localCheckpoint()ed, and the fixpoint aggregate is the job that
    materializes it, so the next round reads the cached blocks and the
    iterative plan stays flat.

    Raises RuntimeError when ``max_rounds`` pass without reaching the
    fixpoint: reading cluster ids off a non-star edge set would silently
    assign arbitrary ids.
    """
    def is_star_forest(df: DataFrame) -> bool:
        roles = df.select(
            F.col("u").alias("n"), F.lit(1).alias("centre"), F.lit(0).alias("member")
        ).unionByName(
            df.select(F.col("v").alias("n"), F.lit(0).alias("centre"), F.lit(1).alias("member"))
        )
        per_node = roles.groupBy("n").agg(
            F.max("centre").alias("centre"), F.sum("member").alias("member")
        )
        bad = (F.col("member") > 1) | ((F.col("centre") == 1) & (F.col("member") > 0))
        return per_node.agg(F.count(F.when(bad, 1))).collect()[0][0] == 0

    def large_star(e: DataFrame) -> DataFrame:
        nbrs = _neighbors(e)
        m = nbrs.groupBy("u").agg(F.min("v").alias("mn"))
        m = m.withColumn("mn", F.least(F.col("mn"), F.col("u")))
        return (
            nbrs.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # direct edges high→low: (u=max, v=min)
        directed = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        m = directed.groupBy("u").agg(F.min("v").alias("mn"))
        out = (
            directed.join(m, "u")
            .select(F.col("v").alias("a"), F.col("mn").alias("b"))
            .unionByName(m.select(F.col("u").alias("a"), F.col("mn").alias("b")))
            .select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        return out

    e = _canonical_edges(edges).localCheckpoint(eager=False)
    rounds = 0
    while not is_star_forest(e):
        if rounds == max_rounds:
            raise RuntimeError(
                f"connected_components reached no fixpoint in max_rounds={max_rounds}"
            )
        e = small_star(large_star(e)).localCheckpoint(eager=False)
        rounds += 1

    # e is a star forest in canonical (least, greatest) orientation:
    # u = component-min centre, v = member; every node appears once.
    comp = e.select(F.col("v").alias("node"), F.col("u").alias("cluster_id"))
    roots = e.select(F.col("u").alias("node")).distinct().withColumn(
        "cluster_id", F.col("node")
    )
    return comp.unionByName(roots)


def clusters_from_pairs(pairs: DataFrame, a_col: str = "a_id", b_col: str = "b_id") -> DataFrame:
    """Accepted cross-source pairs → transitive clusters.

    Ids are namespaced ('a#'/'b#') before the CC union since the two
    sources may share raw ids; output (node, side, raw_id, cluster_id)."""
    edges = pairs.select(
        F.concat(F.lit("a#"), F.col(a_col).cast("string")).alias("u"),
        F.concat(F.lit("b#"), F.col(b_col).cast("string")).alias("v"),
    )
    cc = connected_components(edges)
    return cc.select(
        F.col("node"),
        F.substring("node", 1, 1).alias("side"),
        F.expr("substring(node, 3)").alias("raw_id"),
        F.col("cluster_id"),
    )


# --------------------------------------------------------------------------
# Pairwise evaluation (P/R/F1 vs golden matches)
# --------------------------------------------------------------------------

def pairwise_metrics(accepted: DataFrame, golden: DataFrame) -> dict:
    """Pairwise precision/recall/F1 of accepted (a_id,b_id) vs golden —
    parity: clustering/Probabilities/clustering.py:32-37.

    One job: a single aggregate over the full-outer join of the distinct
    accepted and golden pairs counts both sides and their overlap."""
    acc = accepted.select("a_id", "b_id").distinct().withColumn("_acc", F.lit(1))
    g_a = next(c for c in golden.columns if c.startswith("a"))
    g_b = next(c for c in golden.columns if c.startswith("b"))
    gold = (
        golden.select(F.col(g_a).alias("a_id"), F.col(g_b).alias("b_id"))
        .distinct()
        .withColumn("_gold", F.lit(1))
    )
    r = acc.join(gold, ["a_id", "b_id"], "full_outer").agg(
        F.count("_acc").alias("n_acc"),
        F.count("_gold").alias("n_gold"),
        F.count(F.when(F.col("_acc").isNotNull() & F.col("_gold").isNotNull(), 1)).alias("tp"),
    ).collect()[0]
    tp, n_acc, n_gold = r["tp"], r["n_acc"], r["n_gold"]
    prec = tp / n_acc if n_acc else 0.0
    rec = tp / n_gold if n_gold else 0.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    return {"precision": prec, "recall": rec, "f1": f1, "tp": tp, "n_accepted": n_acc, "n_golden": n_gold}
