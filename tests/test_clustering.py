"""Clustering parity: UMC greedy-equivalence, EC, connected components,
threshold sweep — vs hand-built tables and the pandas oracle (FIXTURES.md §3)."""

from __future__ import annotations

import random

import pandas as pd
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from ertransfer_spark.operators.clustering import (
    best_threshold,
    clusters_from_pairs,
    connected_components,
    exact_clusters,
    pairwise_metrics,
    threshold_sweep,
    unique_mapping_clusters,
)
from ertransfer_spark.oracle import pandas_oracle as oracle

PRED_COLS = ["a_id", "b_id", "prob_class1"]


def preds_df(spark, rows):
    return spark.createDataFrame(pd.DataFrame(rows, columns=PRED_COLS))


HAND = [
    # chain: a1 best is b1, but a2 also wants b1 with higher prob
    ("a1", "b1", 0.9),
    ("a2", "b1", 0.95),
    ("a2", "b2", 0.85),
    ("a1", "b2", 0.2),
    # tie on prob — tie-break (a_id, b_id) must pin the winner
    ("a3", "b3", 0.7),
    ("a3", "b4", 0.7),
    ("a4", "b3", 0.7),
    # sub-threshold
    ("a5", "b5", 0.3),
    # EXACTLY at threshold 0.5 — reference greedy breaks on prob < t,
    # so this edge must be accepted (inclusive boundary)
    ("a6", "b6", 0.5),
]


def test_umc_equals_sequential_greedy_hand_case(spark):
    got = unique_mapping_clusters(preds_df(spark, HAND), threshold=0.5).toPandas()
    want = oracle.umc_greedy(
        pd.DataFrame(HAND, columns=["a_id", "b_id", "prob"]), threshold=0.5
    )
    assert set(zip(got["a_id"], got["b_id"])) == set(zip(want["a_id"], want["b_id"]))
    # the equal-to-threshold edge is kept by both engines
    assert ("a6", "b6") in set(zip(got["a_id"], got["b_id"]))


def test_umc_equals_greedy_random(spark):
    rng = random.Random(11)
    rows = []
    for _ in range(400):
        rows.append(
            (f"a{rng.randrange(60)}", f"b{rng.randrange(60)}", round(rng.random(), 6))
        )
    rows = list({(a, b): (a, b, p) for a, b, p in rows}.values())
    got = unique_mapping_clusters(preds_df(spark, rows), threshold=0.4).toPandas()
    want = oracle.umc_greedy(pd.DataFrame(rows, columns=["a_id", "b_id", "prob"]), 0.4)
    assert set(zip(got["a_id"], got["b_id"])) == set(zip(want["a_id"], want["b_id"]))
    # 1-1 property
    assert got["a_id"].is_unique and got["b_id"].is_unique


def test_umc_converges_on_preference_chain(spark):
    """A strictly-decreasing preference chain accepts ONE edge per round
    (each round's mutual-best is only the global head of the remaining
    chain) — the loop must finish it completely."""
    # path graph a0-b0-a1-b1-...: probs strictly decreasing along the path
    rows = []
    for i in range(12):
        rows.append((f"a{i:02d}", f"b{i:02d}", round(0.99 - 0.02 * (2 * i), 6)))
        rows.append((f"a{i + 1:02d}", f"b{i:02d}", round(0.99 - 0.02 * (2 * i + 1), 6)))
    got = unique_mapping_clusters(preds_df(spark, rows), threshold=0.1).toPandas()
    want = oracle.umc_greedy(pd.DataFrame(rows, columns=["a_id", "b_id", "prob"]), 0.1)
    assert set(zip(got["a_id"], got["b_id"])) == set(zip(want["a_id"], want["b_id"]))
    # sequential greedy takes every (a_i, b_i) edge — 12 matches
    assert len(got) == 12


def test_threshold_sweep_strict_gt_boundary(spark):
    """Grid-point-exact probs (linreg clips to exactly 0.0/1.0) are NOT
    predicted-positive at their own threshold — strict > like
    exact_clusters / evaluate_predictions, so the tuned F1 reproduces."""
    rows = [
        ("a1", "b1", 0.5, 1),   # exactly at t=0.50: excluded there
        ("a2", "b2", 0.51, 1),
        ("a3", "b3", 0.0, 1),   # prob 0.0 never predicted positive
        ("a4", "b4", 1.0, 0),   # predicted positive up to t=0.99
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["a_id", "b_id", "prob_class1", "label"])
    )
    sweep = threshold_sweep(df)
    at = {round(r["threshold"], 2): r for r in sweep}
    # t=0.50: only 0.51 and 1.0 are > t → tp=1, pred=2, pos=3
    assert abs(at[0.5]["precision"] - 1 / 2) < 1e-12
    assert abs(at[0.5]["recall"] - 1 / 3) < 1e-12
    # t=0.49: 0.5 joins → tp=2, pred=3
    assert abs(at[0.49]["precision"] - 2 / 3) < 1e-12
    # t=0.0: prob 0.0 excluded even at the lowest threshold
    assert abs(at[0.0]["precision"] - 2 / 3) < 1e-12
    # t=0.99: only the 1.0 row
    assert abs(at[0.99]["precision"] - 0.0) < 1e-12
    assert abs(at[0.99]["recall"] - 0.0) < 1e-12


def test_ec_equals_oracle(spark):
    rng = random.Random(5)
    rows = [
        (f"a{rng.randrange(40)}", f"b{rng.randrange(40)}", round(rng.random(), 6))
        for _ in range(300)
    ]
    rows = list({(a, b): (a, b, p) for a, b, p in rows}.values())
    got = exact_clusters(preds_df(spark, rows), threshold=0.5, limit=1).toPandas()
    want = oracle.ec_reciprocal(pd.DataFrame(rows, columns=["a_id", "b_id", "prob"]), 0.5, 1)
    assert set(zip(got["a_id"], got["b_id"])) == set(zip(want["a_id"], want["b_id"]))


def test_connected_components_vs_unionfind(spark):
    rng = random.Random(3)
    pairs = pd.DataFrame(
        [(f"a{rng.randrange(50)}", f"b{rng.randrange(50)}") for _ in range(120)],
        columns=["a_id", "b_id"],
    ).drop_duplicates()
    got = clusters_from_pairs(spark.createDataFrame(pairs)).toPandas()
    want = oracle.connected_components(pairs)
    got_map = dict(zip(got["node"], got["cluster_id"]))
    assert got_map == want
    # transitivity + min-id label invariant comes from the oracle structure


def test_connected_components_chain(spark):
    # a1-b1, a2-b1, a2-b2 → one cluster labeled min = a#a1
    pairs = spark.createDataFrame(
        pd.DataFrame([("a1", "b1"), ("a2", "b1"), ("a2", "b2")], columns=["a_id", "b_id"])
    )
    got = clusters_from_pairs(pairs).toPandas()
    assert set(got["cluster_id"]) == {"a#a1"}
    assert len(got) == 4


def test_threshold_sweep_single_pass_matches_bruteforce(spark):
    rng = random.Random(9)
    rows = [
        (f"a{i}", f"b{i}", round(rng.random(), 4), rng.randrange(2)) for i in range(500)
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["a_id", "b_id", "prob_class1", "label"])
    )
    sweep = threshold_sweep(df)
    pdf = pd.DataFrame(rows, columns=["a_id", "b_id", "prob", "label"])
    for t_idx in (0, 17, 50, 99):
        t = t_idx / 100
        # STRICT >: the reference clusterers filter prob > t, and the sweep
        # buckets grid-point-exact probs one bucket down to match
        pred = pdf[pdf["prob"] > t]
        tp = int(pred["label"].sum())
        prec = tp / len(pred) if len(pred) else 0.0
        rec = tp / int(pdf["label"].sum())
        assert abs(sweep[t_idx]["precision"] - prec) < 1e-9
        assert abs(sweep[t_idx]["recall"] - rec) < 1e-9
    bt = best_threshold(df)
    assert 0.0 <= bt < 1.0


_prob = st.one_of(st.sampled_from([i / 100 for i in range(101)]), st.floats(0.0, 1.0))


@settings(max_examples=25, deadline=None, derandomize=True)
@given(
    rows=st.lists(st.tuples(_prob, st.integers(0, 1)), min_size=1, max_size=40),
    same=st.sampled_from([None, 0, 1]),
)
@example(rows=[(0.0, 1), (1.0, 0), (0.5, 1)], same=None)
@example(rows=[(0.0, 0), (0.01, 0), (1.0, 0)], same=0)
def test_threshold_sweep_equals_bruteforce_strict_count(spark, rows, same):
    """Every grid point of the sweep equals a brute-force strict prob > t
    count: grid-exact probs, 0.0 and 1.0 included, and inputs where every
    row has one label (``same``)."""
    if same is not None:
        rows = [(p, same) for p, _ in rows]
    df = spark.createDataFrame(rows, "prob_class1 double, label int")
    sweep = threshold_sweep(df)
    assert len(sweep) == 100
    total_pos = sum(lab for _, lab in rows)
    prev_pred_n = 0
    for i in range(99, -1, -1):
        t = i / 100
        pred = [lab for p, lab in rows if p > t]
        tp, pred_n = sum(pred), len(pred)
        prec = tp / pred_n if pred_n else 0.0
        rec = tp / total_pos if total_pos else 0.0
        f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
        want = {"threshold": t, "precision": prec, "recall": rec, "f1": f1,
                "n": pred_n - prev_pred_n, "pred_n": pred_n, "tp": tp}
        assert sweep[i] == want, (i, sweep[i], want)
        prev_pred_n = pred_n


def test_pairwise_metrics(spark):
    acc = spark.createDataFrame(pd.DataFrame([("a1", "b1"), ("a2", "b9")], columns=["a_id", "b_id"]))
    gold = spark.createDataFrame(pd.DataFrame([("a1", "b1"), ("a3", "b3")], columns=["a_conv_id", "b_conv_id"]))
    m = pairwise_metrics(acc, gold)
    assert m["precision"] == 0.5 and m["recall"] == 0.5 and abs(m["f1"] - 0.5) < 1e-12


def _path_pairs(n, seed):
    """A bipartite path a-b-a-b-... over 2n nodes whose ids are shuffled,
    so the component minimum sits anywhere along it."""
    rng = random.Random(seed)
    a_ids = [f"a{i:04d}" for i in range(n)]
    b_ids = [f"b{i:04d}" for i in range(n)]
    rng.shuffle(a_ids)
    rng.shuffle(b_ids)
    rows = []
    for i in range(n):
        rows.append((a_ids[i], b_ids[i]))
        if i + 1 < n:
            rows.append((a_ids[i + 1], b_ids[i]))
    return rows


def test_connected_components_raises_without_fixpoint(spark):
    """A long path needs O(log n) rounds; exhausting max_rounds first must
    raise instead of returning arbitrary cluster ids."""
    edges = spark.createDataFrame(
        pd.DataFrame(
            [(f"a#{a}", f"b#{b}") for a, b in _path_pairs(100, seed=1)],
            columns=["u", "v"],
        )
    )
    with pytest.raises(RuntimeError, match="max_rounds=2"):
        connected_components(edges, max_rounds=2)


def test_connected_components_high_diameter_vs_unionfind(spark):
    """Long shuffled paths plus random chords and a few small random
    components equal the union-find oracle."""
    rng = random.Random(17)
    rows = _path_pairs(80, seed=2)
    rows += [(f"a{rng.randrange(80):04d}", f"b{rng.randrange(80):04d}") for _ in range(3)]
    rows += [(f"a9{rng.randrange(30)}", f"b9{rng.randrange(30)}") for _ in range(25)]
    pairs = pd.DataFrame(rows, columns=["a_id", "b_id"]).drop_duplicates()
    got = clusters_from_pairs(spark.createDataFrame(pairs)).toPandas()
    assert dict(zip(got["node"], got["cluster_id"])) == oracle.connected_components(pairs)


_pair = st.tuples(st.sampled_from(["a1", "a2", "a3", "a4"]), st.sampled_from(["b1", "b2", "b3"]))


@settings(max_examples=25, deadline=None)
@given(acc=st.lists(_pair, max_size=12), gold=st.lists(_pair, max_size=12))
def test_pairwise_metrics_equals_set_arithmetic(spark, acc, gold):
    """pairwise_metrics equals pandas set arithmetic on the distinct pairs,
    with duplicate rows and empty accepted or golden sets."""
    acc_pd = pd.DataFrame(acc, columns=["a_id", "b_id"])
    gold_pd = pd.DataFrame(gold, columns=["a_conv_id", "b_conv_id"])
    m = pairwise_metrics(
        spark.createDataFrame(acc_pd, "a_id string, b_id string"),
        spark.createDataFrame(gold_pd, "a_conv_id string, b_conv_id string"),
    )
    a = acc_pd.drop_duplicates()
    g = gold_pd.drop_duplicates().set_axis(["a_id", "b_id"], axis=1)
    tp = len(a.merge(g, on=["a_id", "b_id"]))
    prec = tp / len(a) if len(a) else 0.0
    rec = tp / len(g) if len(g) else 0.0
    f1 = 2 * prec * rec / (prec + rec) if prec + rec else 0.0
    assert (m["tp"], m["n_accepted"], m["n_golden"]) == (tp, len(a), len(g))
    assert (m["precision"], m["recall"], m["f1"]) == (prec, rec, f1)
