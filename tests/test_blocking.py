"""Blocking parity vs the pandas oracle + structural invariants."""

from __future__ import annotations

import pandas as pd
import pytest

from ertransfer_spark.operators.blocking import (
    block_histogram,
    minhash_lsh_join,
    sorted_neighborhood,
    top_k_token_join,
)
from ertransfer_spark.operators.canonicalize import canonicalize
from ertransfer_spark.oracle import pandas_oracle as oracle


@pytest.fixture(scope="module")
def records(spark_corpora):
    ta, tb, _ = spark_corpora
    ra = canonicalize(ta).cache()
    rb = canonicalize(tb).cache()
    return ra, rb


@pytest.fixture(scope="module")
def oracle_records(corpora):
    ta, tb, _ = corpora
    return oracle.canonicalize(ta), oracle.canonicalize(tb)


def test_topk_join_matches_bruteforce_oracle(records, oracle_records):
    k = 5
    got = top_k_token_join(records[0], records[1], k=k, metric="jaccard").toPandas()
    want = oracle.top_k_join(oracle_records[0], oracle_records[1], k=k)
    got_pairs = set(zip(got["a_id"], got["b_id"]))
    want_pairs = set(zip(want["a_id"], want["b_id"]))
    assert got_pairs == want_pairs
    # similarity values match to float precision
    gm = {(r.a_id, r.b_id): r.sim for r in got.itertuples(index=False)}
    for r in want.itertuples(index=False):
        assert abs(gm[(r.a_id, r.b_id)] - r.sim) < 1e-12


def test_topk_join_no_duplicates_and_k_respected(records):
    got = top_k_token_join(records[0], records[1], k=3).toPandas()
    assert not got.duplicated(["a_id", "b_id"]).any()
    assert got.groupby("a_id").size().max() <= 3


def test_blocking_recall_on_golden(records, spark_corpora):
    """Candidates must cover (nearly) all golden matches — recall target 0.9
    like the reference settings grid (splitters/KNN-Join/settings.py)."""
    _, _, matches = spark_corpora
    cand = top_k_token_join(records[0], records[1], k=5)
    m = matches.count()
    hit = (
        cand.join(
            matches.withColumnRenamed("a_conv_id", "a_id").withColumnRenamed("b_conv_id", "b_id"),
            ["a_id", "b_id"],
            "left_semi",
        ).count()
    )
    assert hit / m >= 0.9


def test_posting_budget_caps_block_size(records):
    capped = top_k_token_join(records[0], records[1], k=5, posting_budget=3)
    assert capped.count() > 0  # still produces candidates


def test_minhash_lsh_finds_high_jaccard_pairs(records, oracle_records):
    got = minhash_lsh_join(records[0], records[1], min_jaccard=0.5).toPandas()
    # exact verification inside the operator → precision 1.0 by construction
    want = oracle.top_k_join(oracle_records[0], oracle_records[1], k=10**6, min_sim=0.5)
    want_pairs = set(zip(want["a_id"], want["b_id"]))
    got_pairs = set(zip(got["a_id"], got["b_id"]))
    assert got_pairs <= want_pairs
    # banded S-curve at 16 bands × 4 rows: ≥0.5-jaccard pairs ~always collide
    assert len(got_pairs) >= 0.9 * len(want_pairs)


def test_sorted_neighborhood_pairs(records):
    import pyspark.sql.functions as F

    ra = records[0].withColumn("snkey", F.substring("agValue", 1, 8))
    rb = records[1].withColumn("snkey", F.substring("agValue", 1, 8))
    pairs = sorted_neighborhood(ra, rb, key_col="snkey", window=4).toPandas()
    assert not pairs.duplicated(["a_id", "b_id"]).any()
    assert (pairs["a_id"].str.startswith("a_")).all()
    assert (pairs["b_id"].str.startswith("b_")).all()


def test_block_histogram_counts(records):
    h = block_histogram(records[0]).toPandas()
    assert (h["n_tokens"] > 0).all()
    assert (h["comparisons"] >= h["n_tokens"]).all()


def test_reverse_join_orientation(records):
    from pyspark.sql import functions as F

    fwd = top_k_token_join(records[0], records[1], k=3)
    rev = top_k_token_join(records[1], records[0], k=3, direction="rev")
    # rev swaps which side the K-budget applies to, but output columns
    # keep the caller's (a, b) orientation: here both calls budget per
    # original-A record, so the pair sets coincide
    f = {(r["a_id"], r["b_id"]) for r in fwd.collect()}
    r = {(r["b_id"], r["a_id"]) for r in rev.collect()}
    assert f == r


def test_union_direction_is_fwd_union_rev(records):
    """direction='union' = K per node on BOTH sides (pyJedAI TopKJoin's
    actual graph pruning): pair set must equal fwd ∪ rev exactly, with
    per-pair sims unchanged."""
    kw = dict(k=3, metric="cosine")
    fwd = top_k_token_join(records[0], records[1], **kw).toPandas()
    rev = top_k_token_join(
        records[0], records[1], direction="rev", **kw
    ).toPandas()
    want = set(zip(fwd["a_id"], fwd["b_id"])) | set(zip(rev["a_id"], rev["b_id"]))
    uni = top_k_token_join(records[0], records[1], direction="union", **kw).toPandas()
    assert not uni.duplicated(["a_id", "b_id"]).any()
    assert set(zip(uni["a_id"], uni["b_id"])) == want
    sims = {(r.a_id, r.b_id): r.sim for r in fwd.itertuples(index=False)}
    for r in uni.itertuples(index=False):
        if (r.a_id, r.b_id) in sims:
            assert abs(r.sim - sims[(r.a_id, r.b_id)]) < 1e-12


def test_pair_serialization_templates(spark):
    from ertransfer_spark.functions.text import instruction_template, serialize_pair

    df = spark.createDataFrame([("alpha", "beta")], "a string, b string")
    row = df.select(
        serialize_pair("a", "b").alias("p"),
        instruction_template("a", "b").alias("i"),
    ).collect()[0]
    assert row["p"] == "alpha [SEP] beta"
    assert row["i"] == "does alpha [SEP] matches with beta"


def test_keep_rare_df_passthrough(spark):
    """Rare-token pass-through (r5): a pair whose only shared evidence is a
    rare token must survive even when it loses the top-K rank; the base
    top-K set stays a subset; reverse orientation carries the rule."""
    ra = spark.createDataFrame(
        [("a1", ["x", "y", "zq"]), ("a2", ["x", "y"])],
        "conv_id string, token_set array<string>",
    )
    rb = spark.createDataFrame(
        [("b1", ["x", "y"]), ("b2", ["x", "y"]),
         ("b9", ["x", "zq", "w", "v", "u"])],
        "conv_id string, token_set array<string>",
    )
    for direction in ("fwd", "union"):
        kw = dict(k=1, metric="jaccard", direction=direction)
        base = {(r.a_id, r.b_id)
                for r in top_k_token_join(ra, rb, **kw).collect()}
        rare = {(r.a_id, r.b_id)
                for r in top_k_token_join(ra, rb, keep_rare_df=2, **kw).collect()}
        # 'zq' has df_a=1, df_b=1 → df_sum=2 ≤ 2: (a1,b9) passes through
        assert ("a1", "b9") in rare
        assert base <= rare
        # common-token pairs (x,y: df_sum 4-5 > 2) are NOT passed through:
        # in fwd k=1, a2's only kept pair stays the rank-1 tie-break b1
        if direction == "fwd":
            assert ("a2", "b2") not in rare
    rev = {(r.a_id, r.b_id)
           for r in top_k_token_join(ra, rb, k=1, metric="jaccard",
                                     direction="rev", keep_rare_df=2).collect()}
    assert ("a1", "b9") in rev


def test_topk_ranks_on_the_rounded_sim(spark):
    """Two candidates whose Jaccard values differ only past the sixth
    decimal tie on round(sim, 6), so the lower id wins, in the
    collect_list form and the window form (a rare-token call, whose
    threshold no shared token meets) alike."""
    a = [f"t{i}" for i in range(2000)]
    ra = spark.createDataFrame([("a1", a)], "conv_id string, token_set array<string>")
    rb = spark.createDataFrame(
        [
            # 999/2998 = 0.33322215 → 0.333222
            ("b1", a[:999] + [f"u{i}" for i in range(998)]),
            # 1000/3001 = 0.33322226 → 0.333222: higher unrounded, higher id
            ("b2", a[:1000] + [f"v{i}" for i in range(1001)]),
        ],
        "conv_id string, token_set array<string>",
    )
    for kw in ({}, {"keep_rare_df": 1}):
        got = top_k_token_join(ra, rb, k=1, metric="jaccard", **kw).collect()
        assert [(r.a_id, r.b_id) for r in got] == [("a1", "b1")], kw
        assert got[0].sim == 999 / 2998


def test_token_jaccard_join_dense_equals_sparse(spark):
    """token_jaccard_join's two kernels (rectangular dense block-matmul vs
    the sparse posting equi-join) must return the IDENTICAL scored pair
    set — two-sided df-cap, full-size Jaccard denominators, min_sim
    filter — with the dense path forced through multiple grid cells
    (rows_per_block=7) and a hot-on-one-side-only gram in play."""
    from pyspark.sql import functions as F

    from ertransfer_spark.operators.blocking import token_jaccard_join

    rows_a, rows_b = [], []
    for i in range(30):
        # "hub" is hot on the A side only (df=30 > cap) — the two-sided
        # cap must drop it even though its B-side df is tiny
        toks = ["hub", f"tok{i % 5}", f"pair{i % 11}", f"rare{i}"]
        rows_a.append((i, toks))
    for j in range(25):
        toks = ["hub" if j == 0 else f"b{j}", f"tok{j % 5}", f"pair{j % 11}"]
        rows_b.append((1000 + j, toks))
    ra = spark.createDataFrame(rows_a, "id long, s array<string>")
    rb = spark.createDataFrame(rows_b, "id long, s array<string>")

    kw = dict(id_col="id", tokens_col="s", min_sim=0.1, max_token_df=20)
    dense = token_jaccard_join(ra, rb, dense_dict_max=100000, rows_per_block=7, **kw)
    sparse = token_jaccard_join(ra, rb, dense_dict_max=0, **kw)
    ds = sorted(tuple(r) for r in dense.collect())
    sp = sorted(tuple(r) for r in sparse.collect())
    assert ds == sp and len(ds) > 0
    # "hub" never witnesses an overlap: doc 0 vs 1000 share only tok0/pair0
    hub_pair = [r for r in ds if r[0] == 0 and r[1] == 1000]
    assert hub_pair and hub_pair[0][2] == 2  # overlap counts kept grams only


def _topk_spec(recs_a, recs_b, k, metric, multiset, per="a"):
    """Brute-force top-K spec: overlap is the shared-token count (set) or
    the sum of min per-token counts (multiset); sizes are distinct-token
    counts (set) or raw token counts (multiset); K best per ``per``-side
    record, tie-break (sim DESC, other id ASC)."""
    import math
    from collections import Counter

    def bag(toks):
        return Counter(toks) if multiset else Counter(set(toks))

    sims = []
    for a_id, ta in recs_a:
        for b_id, tb in recs_b:
            ca, cb = bag(ta), bag(tb)
            o = sum(min(n, cb[t]) for t, n in ca.items() if t in cb)
            if not o:
                continue
            sa, sb = float(sum(ca.values())), float(sum(cb.values()))
            sim = {
                "jaccard": o / (sa + sb - o),
                "dice": 2.0 * o / (sa + sb),
                "cosine": o / math.sqrt(sa * sb),
            }[metric]
            sims.append((a_id, b_id, o, sim))
    key, other = (0, 1) if per == "a" else (1, 0)
    out = {}
    for rec in sorted(sims, key=lambda r: (r[key], -r[3], r[other])):
        kept = out.setdefault(rec[key], [])
        if len(kept) < k:
            kept.append(rec)
    return {(r[0], r[1]): (r[2], r[3]) for v in out.values() for r in v}


def test_multiset_and_metrics_match_bruteforce_spec(spark):
    """Multiset overlap (sum of min counts) and the dice/cosine metrics,
    set and multiset, forward and reverse budgets, against a brute-force
    spec on a corpus with repeated tokens and many tied similarities."""
    import random

    rng = random.Random(5)
    vocab = ["p", "q", "r", "s", "t", "u"]

    def corpus(n, prefix):
        return [(f"{prefix}{i}", [rng.choice(vocab) for _ in range(rng.randint(1, 7))])
                for i in range(n)]

    recs_a, recs_b = corpus(12, "a"), corpus(10, "b")
    schema = "conv_id string, token_set array<string>"
    ra = spark.createDataFrame(recs_a, schema)
    rb = spark.createDataFrame(recs_b, schema)
    for case in ((True, "jaccard", "fwd"), (True, "dice", "rev"), (True, "cosine", "rev"),
                 (False, "dice", "fwd"), (False, "cosine", "rev")):
        multiset, metric, direction = case
        got = {
            (r.a_id, r.b_id): (r.overlap, r.sim)
            for r in top_k_token_join(
                ra, rb, k=2, metric=metric, multiset=multiset, direction=direction,
            ).collect()
        }
        want = _topk_spec(recs_a, recs_b, 2, metric, multiset,
                          per="a" if direction == "fwd" else "b")
        assert set(got) == set(want), case
        for pair, (o, sim) in want.items():
            assert got[pair][0] == o, case
            assert abs(got[pair][1] - sim) < 1e-12, case


def _plan_nodes(node):
    yield node
    kids = node.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


def test_df_cap_broadcasts_only_the_hot_set(records):
    """The two-sided max_token_df cap broadcasts the HOT set: tokens whose
    df is ABOVE a bound, at most |postings|/bound rows at any corpus size.
    No broadcast hint may sit on the kept-token relation (df at or below
    the cap), which grows with the vocabulary."""
    cand = top_k_token_join(records[0], records[1], k=3, max_token_df=5)
    hinted = [
        n for n in _plan_nodes(cand._jdf.queryExecution().analyzed())
        if n.nodeName() == "ResolvedHint" and "broadcast" in n.hints().toString()
    ]
    assert hinted, "the df cap should broadcast its hot set"
    for hint in hinted:
        filters = [n for n in _plan_nodes(hint) if n.nodeName() == "Filter"]
        assert filters, hint.toString()
        cond = filters[0].condition().sql()
        assert ">" in cond and "<=" not in cond, cond


def test_scored_pairs_does_not_force_broadcast_doc_dims(spark, tmp_path):
    """The contract's scored pairs re-attach the per-document (id, lang)
    table after the join. It has one row per document, so no broadcast
    hint may sit on it; the planner still broadcasts it while it is small."""
    import __spark_entry__ as entry

    docs = pd.DataFrame({
        "doc_id": list(range(8)),
        "lang": ["en", "de"] * 4,
        "text": ["the quick brown fox jumps over the lazy dog"] * 4
        + ["a slow green turtle crawls under the lazy dog"] * 4,
    })
    docs.to_parquet(tmp_path / "documents.parquet", index=False)
    pairs = entry._scored_pairs(spark, str(tmp_path))
    for hint in _plan_nodes(pairs._jdf.queryExecution().analyzed()):
        if hint.nodeName() == "ResolvedHint" and "broadcast" in hint.hints().toString():
            out = hint.output()
            names = {out.apply(i).name() for i in range(out.size())}
            assert not names & {"lang", "a_lang", "b_lang"}, names
    executed = pairs._jdf.queryExecution().executedPlan().toString()
    assert executed.count("BroadcastHashJoin") >= 2, executed
    assert pairs.count() > 0
