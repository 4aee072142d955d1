"""Property tests (SURVEY §5e): permutation invariance of input row order,
determinism of every seeded operator, the word-shingle templates and the
train/valid/test split against their DuckDB twins and a Python spec, the set-overlap kernel's
dense-equals-sparse and top-K-equals-oracle invariants, MinHash-LSH
against the exact-Jaccard spec, the MinHash and hyperplane-LSH key
kernels against their pure-Python specs, and the exact vector sweeps
against a numpy spec, on generated inputs."""

from __future__ import annotations

import math
import re
from decimal import ROUND_HALF_UP, Decimal

import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ertransfer_spark.oracle.pandas_oracle import round6


def _pairs(df):
    return sorted((r["a_id"], r["b_id"], r["sim"]) for r in df.collect())


def test_blocking_permutation_invariance(spark, spark_corpora):
    """Shuffling the input rows (repartition + random sort) must not change
    the blocking join output — no operator may depend on row order."""
    from ertransfer_spark.operators.blocking import top_k_token_join
    from ertransfer_spark.operators.canonicalize import canonicalize

    ta, tb, _ = spark_corpora
    ra, rb = canonicalize(ta), canonicalize(tb)
    base = _pairs(top_k_token_join(ra, rb, k=3))

    ta_shuf = ta.repartition(7).orderBy(F.rand(99))
    tb_shuf = tb.repartition(3).orderBy(F.rand(17))
    shuf = _pairs(top_k_token_join(canonicalize(ta_shuf), canonicalize(tb_shuf), k=3))
    assert base == shuf


def _split_spec(a, b, seed=42, weights=(0.6, 0.2, 0.2)) -> str:
    """The split rule from the pinned polynomial hash's Python spec."""
    from ertransfer_spark.functions.text import poly_hash

    bucket = poly_hash(f"{a}|{b}|{seed}") % 100
    t1 = int(weights[0] * 100)
    return "train" if bucket < t1 else "valid" if bucket < t1 + int(weights[1] * 100) else "test"


def test_split_permutation_invariance(spark, spark_corpora):
    """Every partitioning and row order of the candidates gives the same
    three disjoint splits, and each pair sits where the spec puts it."""
    from ertransfer_spark.operators.blocking import top_k_token_join
    from ertransfer_spark.operators.canonicalize import canonicalize
    from ertransfer_spark.operators.labeling import stratified_split

    ta, tb, m = spark_corpora
    cand = top_k_token_join(canonicalize(ta), canonicalize(tb), k=3).withColumn(
        "label", F.lit(0)
    ).localCheckpoint()
    want = {}
    for r in cand.collect():
        want.setdefault(_split_spec(r["a_id"], r["b_id"]), []).append((r["a_id"], r["b_id"]))
    for shuffled in (cand, cand.repartition(11).orderBy(F.rand(5)), cand.coalesce(1)):
        split = stratified_split(shuffled)
        for name in ("train", "valid", "test"):
            got = sorted((r["a_id"], r["b_id"]) for r in split[name].collect())
            assert got == sorted(want.get(name, [])), name


_bigint_id = st.one_of(
    st.sampled_from([0, -1, 2**63 - 1, -(2**63)]), st.integers(-(2**63), 2**63 - 1)
)
_string_id = st.text(st.characters(blacklist_categories=("Cs", "Cc")), max_size=10)


@settings(max_examples=10, deadline=None, derandomize=True)
@given(
    ids=st.one_of(
        st.lists(st.tuples(_bigint_id, _bigint_id), min_size=1, max_size=30),
        st.lists(st.tuples(_string_id, _string_id), min_size=1, max_size=30),
    ),
    seed=st.integers(0, 10**6),
    weights=st.sampled_from([(0.6, 0.2, 0.2), (0.75, 0.25, 0.0)]),
)
@example(ids=[(0, 0), (-5, 2**63 - 1), (2**63 - 1, -(2**63))], seed=42, weights=(0.6, 0.2, 0.2))
def test_split_column_equals_spec_and_duckdb(spark, ids, seed, weights):
    """labeling.split_column equals its poly_hash spec and its DuckDB twin
    on BIGINT ids (0, negative, 2^63-1) and on unicode string ids."""
    import duckdb
    import pandas as pd

    from ertransfer_spark.operators.labeling import duckdb_split_sql, split_column

    kind = "bigint" if isinstance(ids[0][0], int) else "string"
    rows = [(i, a, b) for i, (a, b) in enumerate(ids)]
    df = spark.createDataFrame(rows, f"i int, a_id {kind}, b_id {kind}")
    got = [r[0] for r in df.orderBy("i").select(split_column(weights, seed)).collect()]
    want = [_split_spec(a, b, seed, weights) for a, b in ids]
    assert got == want
    pdf = pd.DataFrame(rows, columns=["i", "a_id", "b_id"])
    duck = duckdb.sql(f"SELECT {duckdb_split_sql(weights, seed)} FROM pdf ORDER BY i").fetchall()
    assert [r[0] for r in duck] == want


def test_umc_deterministic_across_runs(spark, spark_corpora):
    from ertransfer_spark.operators.blocking import top_k_token_join
    from ertransfer_spark.operators.canonicalize import canonicalize
    from ertransfer_spark.operators.clustering import unique_mapping_clusters

    ta, tb, _ = spark_corpora
    preds = top_k_token_join(canonicalize(ta), canonicalize(tb), k=3).select(
        "a_id", "b_id", F.col("sim").alias("prob_class1")
    )
    r1 = sorted((r["a_id"], r["b_id"]) for r in unique_mapping_clusters(preds, 0.1).collect())
    r2 = sorted(
        (r["a_id"], r["b_id"])
        for r in unique_mapping_clusters(preds.repartition(13), 0.1).collect()
    )
    assert r1 == r2 and len(r1) > 0


def test_synth_deterministic(spark):
    from ertransfer_spark.synth import SynthConfig, generate

    a1, b1, m1 = generate(SynthConfig(n_conversations=40, seed=5))
    a2, b2, m2 = generate(SynthConfig(n_conversations=40, seed=5))
    assert a1.equals(a2) and b1.equals(b2) and m1.equals(m2)


def test_negative_sampling_marginals(spark, spark_corpora):
    """sample_negative_pairs distribution parity with the reference's
    rejection sampler (splitters/random-split/splitter.py:35-49): pairs
    are uniform over A×B minus matches — never a golden match, never a
    duplicate, exactly n, deterministic under seed, and the per-id
    marginals are near-uniform across seeds (every id reachable, no id
    favored). Deliberate deviation, documented in the docstring: ids are
    drawn without replacement WITHIN one sample (the reference can repeat
    an id across pairs); at n ≪ |A| the two are indistinguishable and the
    cross-seed marginal check below is the property that matters."""
    from collections import Counter

    from ertransfer_spark.operators.canonicalize import canonicalize
    from ertransfer_spark.operators.labeling import sample_negative_pairs

    ta, tb, matches = spark_corpora
    ra, rb = canonicalize(ta).localCheckpoint(), canonicalize(tb).localCheckpoint()
    golden = {(r["a_conv_id"], r["b_conv_id"]) for r in matches.collect()}
    n_a = ra.count()

    freq: Counter = Counter()
    n = 12
    seeds = range(30)
    for s in seeds:
        rows = sample_negative_pairs(ra, rb, matches, n=n, seed=100 + s).collect()
        pairs = [(r["a_id"], r["b_id"]) for r in rows]
        assert len(pairs) == n
        assert len(set(pairs)) == n                      # no duplicates
        assert not (set(pairs) & golden)                 # never a match
        freq.update(p[0] for p in pairs)
    # determinism under seed
    again = sample_negative_pairs(ra, rb, matches, n=n, seed=100).collect()
    assert [(r["a_id"], r["b_id"]) for r in again] == [
        (r["a_id"], r["b_id"])
        for r in sample_negative_pairs(ra, rb, matches, n=n, seed=100).collect()
    ]
    # marginal near-uniformity: expected picks per a_id = n*|seeds|/|A| = 6;
    # a uniform sampler concentrates well inside [1, 18] at these counts
    # (p(miss-every-seed) ≈ (1-0.2)^30 < 0.2% per id), while any
    # hash-bias toward a fixed subset would zero-out the rest
    assert len(freq) >= int(0.8 * n_a)
    assert max(freq.values()) <= 6 * 3


# Texts over ASCII words, digits, punctuation, whitespace and non-ASCII
# characters (accented, CJK, emoji, and letters whose lower case is or
# holds ASCII: Kelvin sign, dotted capital I); plus word streams with
# repeats, and NULL.
_CHARS = list("abcXYZ019") + [" ", "  ", ".", ",", "-", "!", "\t", "é", "ß", "Σ", "日", "😀", "K", "İ"]
_text = st.one_of(
    st.none(),
    st.lists(st.sampled_from(_CHARS), max_size=25).map("".join),
    st.lists(st.sampled_from(["a", "b", "the", "B"]), max_size=8).map(" ".join),
)


def _spec_tokens(text: str | None) -> list[str]:
    return [t for t in re.split("[^a-z0-9]+", (text or "").lower()) if t]


def _spec_shingles(ts: list[str], n: int) -> set[str]:
    return {" ".join(ts[i:i + n]) for i in range(len(ts) - n + 1)}


@settings(max_examples=12, deadline=None, derandomize=True)
@given(texts=st.lists(_text, min_size=1, max_size=8))
@example(texts=["", "word", "a a a a b a", "...!! -- ,", "café naïve 日本 ok", None])
def test_shingle_templates_equal_duckdb_twins_and_spec(spark, texts):
    """SPARK_BIGRAMS_SQL / SPARK_TRIGRAMS_SQL equal DUCKDB_BIGRAMS_SQL /
    DUCKDB_TRIGRAMS_SQL and the Python spec on the same token arrays, and
    ``word_shingles`` (Spark tokenizer + template) equals the spec on the
    raw texts. All compared as sets."""
    import duckdb
    import pyarrow as pa

    from ertransfer_spark.functions.text import (
        DUCKDB_BIGRAMS_SQL,
        DUCKDB_TRIGRAMS_SQL,
        SPARK_BIGRAMS_SQL,
        SPARK_TRIGRAMS_SQL,
        word_shingles,
    )

    toks = [_spec_tokens(t) for t in texts]
    rows = spark.createDataFrame(
        list(zip(range(len(texts)), texts, toks)), "id long, text string, ts array<string>"
    ).select(
        "id",
        F.expr(SPARK_BIGRAMS_SQL.format(ts="ts")).alias("b"),
        F.expr(SPARK_TRIGRAMS_SQL.format(ts="ts")).alias("t"),
        word_shingles("text", n=2).alias("wb"),
        word_shingles("text", n=3).alias("wt"),
    ).collect()
    spark_out = {r["id"]: r for r in rows}

    with duckdb.connect() as con:
        con.register("docs", pa.table({
            "id": pa.array(range(len(texts)), pa.int64()),
            "ts": pa.array(toks, pa.list_(pa.string())),
        }))
        duck_out = {
            i: (b, t) for i, b, t in con.execute(
                f"SELECT id, {DUCKDB_BIGRAMS_SQL.format(ts='ts')}, "
                f"{DUCKDB_TRIGRAMS_SQL.format(ts='ts')} FROM docs"
            ).fetchall()
        }
    for i, ts in enumerate(toks):
        big, tri = _spec_shingles(ts, 2), _spec_shingles(ts, 3)
        r = spark_out[i]
        assert set(r["b"]) == set(duck_out[i][0]) == big, (texts[i], ts)
        assert set(r["t"]) == set(duck_out[i][1]) == tri, (texts[i], ts)
        assert set(r["wb"]) == big and set(r["wt"]) == tri, texts[i]
        assert len(r["b"]) == len(big) and len(r["t"]) == len(tri)  # distinct


# Small integer set sizes put many pairs EXACTLY on round(J,6) threshold
# grid points (J = 1/8, 1/5, 1/3, ...): the regime where the dense kernel's
# float32 margin prefilter could in principle diverge from the sparse
# path's exact integer agg.
_VOCAB = [f"t{v}" for v in range(12)]
_token_set = st.lists(st.sampled_from(_VOCAB), min_size=1, max_size=8, unique=True)
_corpus = st.lists(_token_set, min_size=1, max_size=20)
_threshold = st.sampled_from([1 / 8, 1 / 5, 1 / 4, 1 / 3, 1 / 2, 2 / 3])
# the overlap kernel's side sizes come from its probe, which must count
# records with an empty token array too
_overlap_corpus = st.lists(st.lists(st.sampled_from(_VOCAB), max_size=8, unique=True), min_size=1, max_size=20)


def _kernel_rows(ra, rb, t, cap, dense_dict_max):
    from ertransfer_spark.operators.overlap import jaccard_at_least, overlap_pairs

    pairs = overlap_pairs(
        ra, rb, "id", "s", max_token_df=cap, min_jaccard=t,
        dense_dict_max=dense_dict_max, rows_per_block=7,
    )
    return sorted(tuple(r) for r in jaccard_at_least(pairs, t).collect())


@settings(max_examples=6, deadline=None, derandomize=True)
@given(a=_overlap_corpus, b=_overlap_corpus, t=_threshold, cap=st.integers(1, 20))
@example(a=[[], ["t0", "t1"], [], ["t1"]], b=[["t1", "t2"], []], t=1 / 3, cap=20)
@example(a=[["t0", "t1"], ["t1"]], b=[[], []], t=1 / 8, cap=20)
@example(a=[["t0"], ["t0", "t1"]], b=[["t2"], ["t3", "t4"]], t=1 / 8, cap=20)
@example(a=[["t0"], ["t0", "t1"], ["t0"]], b=[["t0"], ["t0", "t1"]], t=1 / 8, cap=1)
def test_overlap_kernel_dense_equals_sparse_rectangular(spark, a, b, t, cap):
    """The set-overlap kernel's rectangular dense grid (several cells at
    rows_per_block=7) returns the sparse posting join's rows exactly, also
    with empty token arrays and with a side that keeps no token (all
    empty, none shared, or all over the cap)."""
    schema = "id long, s array<string>"
    ra = spark.createDataFrame(list(enumerate(a)), schema)
    rb = spark.createDataFrame([(1000 + i, s) for i, s in enumerate(b)], schema)
    assert _kernel_rows(ra, rb, t, cap, 100000) == _kernel_rows(ra, rb, t, cap, 0)


@settings(max_examples=6, deadline=None, derandomize=True)
@given(docs=_overlap_corpus, t=_threshold, cap=st.integers(1, 20))
@example(docs=[[], ["t0"], [], ["t0", "t1"], ["t1"]], t=1 / 2, cap=20)
@example(docs=[[], []], t=1 / 8, cap=20)
def test_overlap_kernel_dense_equals_sparse_triangular(spark, docs, t, cap):
    """The triangular self-join: dense grid rows equal the sparse posting
    self-join's, all with a_id < b_id, also with empty token arrays."""
    d = spark.createDataFrame(list(enumerate(docs)), "id long, s array<string>")
    dense = _kernel_rows(d, None, t, cap, 100000)
    assert dense == _kernel_rows(d, None, t, cap, 0)
    assert all(r[0] < r[1] for r in dense)


@settings(max_examples=5, deadline=None, derandomize=True)
@given(
    docs=_corpus,
    t=_threshold,
    banding=st.sampled_from([(4, 2), (6, 3), (8, 8), (12, 4)]),
)
def test_minhash_pairs_equal_exact_jaccard_spec(spark, docs, t, banding):
    """For any banding, the MinHash self-join's rows are exact-Jaccard rows
    (round(J, 6) ≥ t, with J's value), come once each with a_id < b_id,
    and include every pair of identical sets (whose min-hashes all agree,
    so every band collides)."""
    from ertransfer_spark.operators.minhash import minhash_pairs

    docs = docs + [docs[0]]
    d = spark.createDataFrame(list(enumerate(docs)), "id long, s array<string>")
    n_hashes, bands = banding
    rows = [tuple(r) for r in minhash_pairs(d, None, "id", "s", n_hashes, bands, t).collect()]
    ids = [(a, b) for a, b, _ in rows]
    assert len(ids) == len(set(ids))
    for a, b, sim in rows:
        assert a < b
        sa, sb = set(docs[a]), set(docs[b])
        j = len(sa & sb) / len(sa | sb)
        assert round6(j) >= t and abs(sim - j) < 1e-12, (a, b, sim, j)
    same = {(a, b) for a in range(len(docs)) for b in range(a + 1, len(docs))
            if set(docs[a]) == set(docs[b])}
    assert same <= set(ids)


def _band_keys_spec(tokens: list[str], n_hashes: int, bands: int) -> list[int]:
    """The pinned MinHash band keys of one token array, from ``poly_hash``."""
    from ertransfer_spark.functions.text import POLY_HASH_MOD, poly_hash
    from ertransfer_spark.operators.minhash import BAND_MUL, MH_MUL

    if not tokens:
        return []
    th = [poly_hash(t) for t in tokens]
    sig = [min((h * (2 * j + 1) + j * MH_MUL) % POLY_HASH_MOD for h in th) for j in range(n_hashes)]
    rows = n_hashes // bands
    keys = []
    for b in range(bands):
        acc = 0
        for r in range(rows):
            acc = (acc * BAND_MUL + sig[b * rows + r]) % POLY_HASH_MOD
        keys.append(acc)
    return keys


_token = st.text(alphabet=st.sampled_from(list("ab0") + ["é", "ß", "Σ", "日", "本", "😀", "𝄞"]), max_size=5)


@settings(max_examples=6, deadline=None, derandomize=True)
@given(
    docs=st.lists(st.lists(_token, max_size=6), min_size=1, max_size=12),
    banding=st.sampled_from([(4, 2), (6, 3), (8, 8)]),
)
@example(docs=[[], ["", "é"], ["日本", "😀𝄞", ""], ["ab", "ab"]], banding=(4, 2))
def test_band_keys_equal_poly_hash_spec(spark, docs, banding):
    """The Arrow band-key kernel equals the pure-Python spec on accented,
    CJK and non-BMP tokens and on '' tokens; an empty token array gets
    no band-key rows."""
    from ertransfer_spark.operators.minhash import band_keys

    n_hashes, bands = banding
    d = spark.createDataFrame(list(enumerate(docs)), "id long, s array<string>")
    got = sorted(tuple(r) for r in band_keys(d, "id", "s", n_hashes, bands).collect())
    want = sorted(
        (i, b, key) for i, ts in enumerate(docs) for b, key in enumerate(_band_keys_spec(ts, n_hashes, bands))
    )
    assert got == want


def _plane_keys_spec(vec: list, n_planes: int, n_tables: int) -> list[int]:
    """The pinned hyperplane-LSH bucket keys of one vector: Spark's
    round(v * 1e6) (HALF_UP on the double's shortest decimal), exact
    integer plane dots, bits first plane first."""
    from ertransfer_spark.functions.text import poly_hash

    q = [0 if v is None else int(Decimal(repr(v * 1e6)).quantize(Decimal(1), rounding=ROUND_HALF_UP)) for v in vec]
    keys = []
    for t in range(n_tables):
        key = 0
        for p in range(t * n_planes, (t + 1) * n_planes):
            dot = sum(x * (poly_hash(f"pl:{p}:{i}") % 2001 - 1000) for i, x in enumerate(q))
            key = 2 * key + (dot > 0)
        keys.append(key)
    return keys


_tie = st.integers(-10**6, 10**6).map(lambda k: (k + 0.5) / 1e6)  # v * 1e6 = k + 0.5
_component = st.one_of(st.floats(-1, 1, allow_nan=False), _tie, st.none())


@settings(max_examples=12, deadline=None, derandomize=True)
@given(
    vecs=st.lists(st.one_of(st.none(), st.lists(_component, max_size=6)), min_size=1, max_size=10),
    shape=st.sampled_from([(2, 2), (4, 3), (8, 1)]),
)
# plane 0 weighs components 0 and 1 by 158 and 159: the tie -158.5 must
# round to -159 (dot 0, bit 0); to even it gives -158 (dot 158, bit 1)
@example(vecs=[[-158.5e-6, 158e-6], [2.5e-6], [], None], shape=(2, 2))
def test_plane_keys_equal_spec(vecs, shape):
    """The LSH bucket-key kernel equals the Python spec, ties on a .5
    boundary of v * 1e6 included; a null vector counts as empty."""
    import pyarrow as pa

    from ertransfer_spark.operators.simsearch import plane_keys

    n_planes, n_tables = shape
    got = plane_keys(pa.array(vecs, pa.list_(pa.float64())), n_planes, n_tables).to_pylist()
    assert got == [_plane_keys_spec(v or [], n_planes, n_tables) for v in vecs]


def test_plane_keys_raise_past_the_overflow_bound():
    """A quantized vector whose plane dot can reach 2^62 raises instead of
    wrapping; one just inside the bound does not."""
    import pyarrow as pa

    from ertransfer_spark.operators.simsearch import plane_keys

    def keys(v):
        return plane_keys(pa.array([v], pa.list_(pa.float64())), 4, 2)

    keys([4.0e9])  # |q| · max|w| = 4e15 · 961 ≈ 3.8e18 < 2^62 ≈ 4.61e18
    with pytest.raises(ValueError, match="2\\^62"):
        keys([5.0e9])


@settings(max_examples=6, deadline=None, derandomize=True)
@given(a=_corpus, b=_corpus, k=st.integers(1, 4))
def test_top_k_equals_bruteforce_oracle(spark, a, b, k):
    """top_k_token_join equals the brute-force jaccard top-K oracle (pairs,
    tie-break sim DESC then b_id ASC, and similarity values)."""
    import pandas as pd

    from ertransfer_spark.operators.blocking import top_k_token_join
    from ertransfer_spark.oracle.pandas_oracle import top_k_join

    rows_a = [(f"a{i}", s) for i, s in enumerate(a)]
    rows_b = [(f"b{i}", s) for i, s in enumerate(b)]
    schema = "conv_id string, token_set array<string>"
    got = {
        (r.a_id, r.b_id): r.sim
        for r in top_k_token_join(
            spark.createDataFrame(rows_a, schema), spark.createDataFrame(rows_b, schema), k=k
        ).collect()
    }

    def frame(rows):
        return pd.DataFrame([(i, frozenset(s)) for i, s in rows], columns=["conv_id", "token_set"])

    want = top_k_join(frame(rows_a), frame(rows_b), k=k)
    assert set(got) == set(zip(want["a_id"], want["b_id"]))
    for r in want.itertuples(index=False):
        assert abs(got[(r.a_id, r.b_id)] - r.sim) < 1e-12


# Small-integer vectors: cosines are m/sqrt(N) with N <= 144, never on a
# 4-dp rounding boundary, so the spec's rounding equals Spark's for any
# float summation order. Each case also carries a zero-norm vector, an
# exact duplicate and a scaled copy of its first vector: equal sims up to
# float noise, so the nbr_id tie-break and the cells' rounding-step margin
# are exercised on every case.
_vectors = st.lists(st.lists(st.integers(-2, 2), min_size=3, max_size=3), min_size=1, max_size=14)
# 5 directions x 4 members (the `vectors` fixture of test_dedup_textstats)
_DIRECTION_GROUPS = [
    [math.cos((i % 5) * 0.5), math.sin((i % 5) * 0.5), (i % 5) * 0.01] for i in range(20)
]


def _round_dp4(x: float) -> float:
    """Spark's round(x, 4) for a double: HALF_UP on its shortest decimal."""
    return float(Decimal(repr(float(x))).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP))


def _cosine_spec(vecs):
    import numpy as np

    M = np.asarray(vecs, dtype=np.float64)
    norm = np.sqrt((M * M).sum(axis=1))
    U = M / np.where(norm > 0, norm, 1.0)[:, None]
    S = U @ U.T
    return [[_round_dp4(x) for x in row] for row in S]


@settings(max_examples=6, deadline=None, derandomize=True)
@given(
    vecs=_vectors,
    k=st.integers(1, 4),
    threshold=st.sampled_from([0.0, 0.25, 0.5, 0.7071, 0.9]),
    rows_per_block=st.sampled_from([1, 2, 3, 4096]),
)
@example(vecs=_DIRECTION_GROUPS, k=3, threshold=0.8, rows_per_block=4096)
@example(vecs=_DIRECTION_GROUPS, k=3, threshold=0.8, rows_per_block=3)
def test_vector_sweeps_equal_numpy_spec(spark, vecs, k, threshold, rows_per_block):
    """brute_force_topk (rectangular grid: even-id queries x all vectors)
    and cosine_neardup_pairs (triangular self-grid) equal a brute-force
    numpy spec — the same rows for one block or many, including the
    rounded similarities, the nbr_id tie-break and zero-norm vectors."""
    from ertransfer_spark.operators.simsearch import brute_force_topk, cosine_neardup_pairs

    vecs = [list(map(float, v)) for v in vecs]
    vecs = vecs + [vecs[0], [2.0 * x for x in vecs[0]], [0.0, 0.0, 0.0]]
    S = _cosine_spec(vecs)
    n = len(vecs)
    df = spark.createDataFrame(list(enumerate(vecs)), "vec_id long, embedding array<double>")

    got = sorted(map(tuple, brute_force_topk(
        df.filter(F.col("vec_id") % 2 == 0), df, k=k, rows_per_block=rows_per_block
    ).collect()))
    want = sorted(
        (q, j, S[q][j])
        for q in range(0, n, 2)
        for j in sorted((j for j in range(n) if j != q), key=lambda j: (-S[q][j], j))[:k]
    )
    assert got == want

    got = sorted(map(tuple, cosine_neardup_pairs(
        df, threshold=threshold, rows_per_block=rows_per_block
    ).collect()))
    want = [(i, j, S[i][j]) for i in range(n) for j in range(i + 1, n) if S[i][j] >= threshold]
    assert got == want
