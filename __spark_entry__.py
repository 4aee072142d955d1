"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an operator (or operator composition) from
SURVEY.md §2 / the training-data-pipeline extension, run over the driver's
parquet tables; ``oracle_sql()`` carries the exact DuckDB twin. Parity
rules shared by both sides (kept in ertransfer_spark.functions.text /
textstats / operators.dedup):

- pinned tokenization: lower + split on ``[^a-z0-9]+``, drop empties;
- word-bigram shingles (distinct) are the blocking tokens for the
  document ER flow (A = even doc_id, B = odd doc_id);
- every float column is rounded (6 dp; 4 dp for embedding cosines) and
  ranking happens on the ROUNDED value with id tie-breaks, so windowed
  top-k is reproducible across engines and float-summation orders;
- integer outputs are explicitly cast to BIGINT on both sides;
- portable hashes (polynomial mod 2^31-1) wherever a fingerprint must
  match across engines: MinHash-LSH, hyperplane LSH, SimHash, document
  fingerprints and the IVF seeds all hash with it, so every query has an
  exact DuckDB twin.

Iterative operators (greedy UMC, large-star/small-star connected
components) are not ANSI-SQL-expressible as single queries; both get
recursive-CTE oracles (CC: reachability closure; UMC: the iterated
mutual-best rounds carried through the recursive working table).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# shared helpers / parity constants
# ---------------------------------------------------------------------------

from ertransfer_spark.functions.text import (  # noqa: E402
    DUCKDB_BIGRAMS_SQL,
    DUCKDB_TOKENS_SQL,
    SPARK_BIGRAMS_SQL,
    SPARK_TOKENS_SQL,
)

TOKS_SPARK = SPARK_TOKENS_SQL.format(col="text")
TOKS_DUCK = DUCKDB_TOKENS_SQL.format(col="text")
BIGRAMS_SPARK = SPARK_BIGRAMS_SQL.format(ts="ts")
BIGRAMS_DUCK = DUCKDB_BIGRAMS_SQL.format(ts="ts")

MIN_SIM = 0.05       # scored-pair floor (keeps the pair table sparse)
MAX_GRAM_DF = 500    # per-side df cap on blocking shingles (skew control;
                     # inactive at the sf0.01 correctness scale, bounds the
                     # hot-gram quadratic blow-up at bench scale — mirrored
                     # exactly in the SQL oracles)
EC_THRESHOLD = 0.1   # reciprocal-top-1 acceptance
CC_THRESHOLD = 0.3   # edge threshold for transitive clustering
LABEL_EXPR = "a_lang = b_lang"  # proxy golden label for sweep/split parity


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, lang, s = distinct word-bigram shingles, sz)."""
    return (
        _t(spark, sf_dir, "documents")
        .select(
            F.col("doc_id").cast("long").alias("id"),
            "lang",
            F.expr(TOKS_SPARK).alias("ts"),
        )
        .withColumn("s", F.expr(BIGRAMS_SPARK))
        .select("id", "lang", "s", F.size("s").alias("sz"))
    )


def _scored_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The blocking join (SURVEY J1): explode shingles → equi-join on
    shingle → pair agg → jaccard. A = even ids, B = odd ids.
    Columns: a_id b_id overlap a_size b_size a_lang b_lang sim_r."""
    # Delegates to blocking.token_jaccard_join — ADAPTIVE: the sparse form
    # (xxhash64 posting keys, skinny (g, id) postings, two-sided df cap as
    # a broadcast hot-set join, equi-join + pair agg) is the web-scale
    # default; when the capped shared dictionary
    # is small (runtime probe ≤ 4096, true for this corpus where the
    # posting join degenerates to near-all-pairs) a rectangular
    # block-matmul sweep computes the identical overlaps in one BLAS pass
    # per grid cell. Output identical either way (the rounded ≥ MIN_SIM
    # filter runs in Spark expressions in both paths); the SQL oracle
    # keeps the string keys — the OUTPUT is key-agnostic.
    from ertransfer_spark.operators.blocking import token_jaccard_join

    d = _doc_shingles(spark, sf_dir)
    dims = d.select("id", "lang")
    pairs = token_jaccard_join(
        d.filter(F.col("id") % 2 == 0),
        d.filter(F.col("id") % 2 == 1),
        id_col="id", tokens_col="s",
        min_sim=MIN_SIM, max_token_df=MAX_GRAM_DF,
    )
    # per-doc lang dims re-attach post-agg (skinny-posting discipline,
    # BENCH.md variant table). No broadcast hint: the dims table has one
    # row per document; the planner broadcasts it while it is small.
    return (
        pairs
        .join(dims.select(F.col("id").alias("a_id"), F.col("lang").alias("a_lang")), "a_id")
        .join(dims.select(F.col("id").alias("b_id"), F.col("lang").alias("b_lang")), "b_id")
        .select(
            "a_id", "b_id", "overlap", "a_size", "b_size",
            "a_lang", "b_lang", "sim_r",
        )
    )


# DuckDB twin of _scored_pairs, used as the WITH-prefix of several oracles.
SQL_SCORED = f"""
WITH tk AS (
  SELECT CAST(doc_id AS BIGINT) AS id, lang, {TOKS_DUCK} AS ts
  FROM documents
), shd AS (
  SELECT id, lang, {BIGRAMS_DUCK} AS s FROM tk
), sa0 AS (
  SELECT id AS a_id, lang AS a_lang, len(s) AS a_sz, unnest(s) AS g
  FROM shd WHERE id % 2 = 0
), sb0 AS (
  SELECT id AS b_id, lang AS b_lang, len(s) AS b_sz, unnest(s) AS g
  FROM shd WHERE id % 2 = 1
), keepg AS (
  SELECT da.g
  FROM (SELECT g, count(*) AS dfa FROM sa0 GROUP BY g) da
  JOIN (SELECT g, count(*) AS dfb FROM sb0 GROUP BY g) db USING (g)
  WHERE da.dfa <= {MAX_GRAM_DF} AND db.dfb <= {MAX_GRAM_DF}
), sa AS (
  SELECT sa0.* FROM sa0 JOIN keepg USING (g)
), sb AS (
  SELECT sb0.* FROM sb0 JOIN keepg USING (g)
), pr AS (
  SELECT a_id, b_id, CAST(count(*) AS BIGINT) AS overlap,
         any_value(a_sz) AS a_sz, any_value(b_sz) AS b_sz,
         any_value(a_lang) AS a_lang, any_value(b_lang) AS b_lang
  FROM sa JOIN sb USING (g) GROUP BY a_id, b_id
), scored AS (
  SELECT a_id, b_id, overlap,
         CAST(a_sz AS BIGINT) AS a_size, CAST(b_sz AS BIGINT) AS b_size,
         a_lang, b_lang,
         round(overlap / (a_sz + b_sz - overlap), 6) AS sim_r
  FROM pr WHERE round(overlap / (a_sz + b_sz - overlap), 6) >= {MIN_SIM}
)
"""


# ---------------------------------------------------------------------------
# ER flow queries (SURVEY §2)
# ---------------------------------------------------------------------------

def q_tokenize_stats(spark, sf_dir):
    """F1-F3: pinned tokenization + normalization digest."""
    from ertransfer_spark.functions.text import normalize, tokens

    return _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(tokens("text")).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(tokens("text"))).cast("long").alias("n_distinct_tokens"),
        F.md5(normalize("text")).alias("norm_md5"),
    )


def q_qgram_profile(spark, sf_dir):
    """F4: char q-gram generation (q=3, set semantics)."""
    from ertransfer_spark.functions.text import qgrams

    g = qgrams(F.col("text"), q=3)
    return _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(g).cast("long").alias("n_q3"),
        F.array_min(g).alias("min_q3"),
    )


def q_topk_token_join(spark, sf_dir):
    """J1/J3/W4/F5: top-5-per-A-record similarity join on bigram shingles,
    ranked on rounded jaccard with b_id tie-break."""
    s = _scored_pairs(spark, sf_dir)
    w = Window.partitionBy("a_id").orderBy(F.desc("sim_r"), F.asc("b_id"))
    return (
        s.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("a_id", "b_id", "overlap", "a_size", "b_size", "sim_r")
    )


def q_topk_union_join(spark, sf_dir):
    """J1/J3 union direction (top_k_token_join(direction='union')): top-3
    per A-record ∪ top-3 per B-record — pyJedAI TopKJoin's per-node graph
    pruning, both sides budgeted. Ranked on rounded jaccard, id tie-breaks;
    duplicate (a,b) rows from the two passes are identical, so the distinct
    is a pure set union."""
    s = _scored_pairs(spark, sf_dir)
    wa = Window.partitionBy("a_id").orderBy(F.desc("sim_r"), F.asc("b_id"))
    wb = Window.partitionBy("b_id").orderBy(F.desc("sim_r"), F.asc("a_id"))
    ta = s.withColumn("rk", F.row_number().over(wa)).filter(F.col("rk") <= 3)
    tb = s.withColumn("rk", F.row_number().over(wb)).filter(F.col("rk") <= 3)
    cols = ["a_id", "b_id", "overlap", "a_size", "b_size", "sim_r"]
    return ta.select(*cols).unionByName(tb.select(*cols)).dropDuplicates(
        ["a_id", "b_id"]
    )


def q_topk_rare_union(spark, sf_dir):
    """J1 + rare-token pass-through (r5): union top-3 per node PLUS any
    pair sharing a shingle with combined df_a+df_b ≤ 20 — the
    ``keep_rare_df`` keep-rule that recovers rank-dropped rare-evidence
    pairs (lifted d10_imdb_dbpedia blocking recall 0.664 → 0.721 of a
    0.737 content ceiling). Unlike the other blocking oracles this one
    calls the REAL operator (``top_k_token_join``) end-to-end — skinny
    xxhash64 postings, the hot-set df cap, hot-token salting, union
    windows, rare flag — so the DuckDB oracle checks the operator itself,
    not an inline re-expression."""
    from ertransfer_spark.operators.blocking import top_k_token_join

    d = _doc_shingles(spark, sf_dir)
    ra = d.filter(F.col("id") % 2 == 0)
    rb = d.filter(F.col("id") % 2 == 1)
    out = top_k_token_join(
        ra, rb, k=3, metric="jaccard", id_col="id", tokens_col="s",
        direction="union", max_token_df=MAX_GRAM_DF, keep_rare_df=20,
    )
    return out.select(
        "a_id", "b_id",
        F.col("overlap").cast("long").alias("overlap"),
        F.col("a_size").cast("long").alias("a_size"),
        F.col("b_size").cast("long").alias("b_size"),
        F.round("sim", 6).alias("sim_r"),
    )


def q_reciprocal_top1(spark, sf_dir):
    """W3/A3/A4 (exact clustering): mutual-best pairs above threshold,
    through the real operator (``clustering.exact_clusters``), so the
    DuckDB oracle checks it."""
    from ertransfer_spark.operators.clustering import exact_clusters

    out = exact_clusters(
        _scored_pairs(spark, sf_dir), threshold=EC_THRESHOLD, limit=1, prob_col="sim_r"
    )
    return out.withColumnRenamed("prob", "sim_r")


def q_snm_blocking(spark, sf_dir):
    """Sorted-neighborhood blocking (SURVEY J1-adjacent cheap blocker):
    union both sides sorted by token count, emit cross-side pairs within
    a window of 5 positions. The global rank is two-phase (range-partition
    offsets + local row_number), never a single-partition sort."""
    from ertransfer_spark.operators.blocking import sorted_neighborhood

    d = _doc_shingles(spark, sf_dir).withColumn("n_tok", F.size("s"))
    a = d.filter(F.col("id") % 2 == 0).select(F.col("id").alias("conv_id"), F.col("n_tok"))
    b = d.filter(F.col("id") % 2 == 1).select(F.col("id").alias("conv_id"), F.col("n_tok"))
    out = sorted_neighborhood(a, b, key_col="n_tok", window=5)
    return out.select(
        F.col("a_id").cast("long").alias("a_id"), F.col("b_id").cast("long").alias("b_id")
    )


def q_threshold_sweep(spark, sf_dir):
    """M4: single-pass F1 sweep over prob buckets (label = same lang),
    through the real operator (``clustering.threshold_sweep``): one row
    per non-empty bucket, built from the operator's returned rows."""
    from ertransfer_spark.operators.clustering import threshold_sweep

    s = _scored_pairs(spark, sf_dir).select(
        F.expr(f"CASE WHEN {LABEL_EXPR} THEN 1 ELSE 0 END").alias("label"), "sim_r"
    )
    rows = [
        (i, r["pred_n"], r["tp"], r["precision"], r["recall"], r["f1"])
        for i, r in enumerate(threshold_sweep(s, prob_col="sim_r")) if r["n"]
    ]
    out = spark.createDataFrame(
        rows, "bkt bigint, pred_n bigint, tp bigint, prec double, rec double, f1 double"
    )
    return out.select(
        "bkt", "pred_n", "tp",
        *[F.round(c, 6).alias(f"{c}_r") for c in ("prec", "rec", "f1")],
    )


def q_stratified_split(spark, sf_dir):
    """M3: the seeded 60/20/20 split (``labeling.split_column``, the rule
    ``stratified_split`` filters on) — counts per (split, label)."""
    from ertransfer_spark.operators.labeling import split_column

    s = _scored_pairs(spark, sf_dir).select(
        split_column().alias("split"),
        F.expr(f"CASE WHEN {LABEL_EXPR} THEN 1 ELSE 0 END").cast("long").alias("label"),
    )
    return s.groupBy("split", "label").agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))


def q_umc_greedy(spark, sf_dir):
    """W2: greedy 1-1 matching via iterated mutual-best rounds. The DuckDB
    oracle replays the same rounds in a recursive CTE: each step flags the
    mutual-best edges of the previous frontier, emits them as accepted,
    and carries forward only edges whose endpoints stayed unmatched —
    value-verified (rows+schema+hash), not rows-only."""
    from ertransfer_spark.operators.clustering import unique_mapping_clusters

    preds = _scored_pairs(spark, sf_dir).select(
        "a_id", "b_id", F.col("sim_r").alias("prob_class1")
    )
    out = unique_mapping_clusters(preds, threshold=CC_THRESHOLD)
    return out.select("a_id", "b_id", F.round("prob", 6).alias("prob_r"))


def q_connected_components(spark, sf_dir):
    """North-rule transitive clustering: large-star/small-star CC over
    pairs with sim ≥ threshold; cluster id = min member id. The A/B parity
    id split makes the two sides disjoint, so raw ids are the nodes."""
    from ertransfer_spark.operators.clustering import connected_components

    edges = (
        _scored_pairs(spark, sf_dir)
        .filter(F.col("sim_r") >= CC_THRESHOLD)
        .select(F.col("a_id").alias("u"), F.col("b_id").alias("v"))
    )
    cc = connected_components(edges)
    return cc.select(
        F.col("node").cast("long").alias("node"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


# ---------------------------------------------------------------------------
# transcript-shaped ops on events (A1/W7, windows)
# ---------------------------------------------------------------------------

def q_canonicalize_events(spark, sf_dir):
    """A1/W7: ordered turn aggregation — collect, sort by event_id, join;
    digest so the hash compare is robust."""
    e = _t(spark, sf_dir, "events")
    agg = e.groupBy(F.col("user_id").cast("long").alias("user_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("event_id", "props"))),
                    lambda s: s["props"],
                ),
                " ",
            )
        ).alias("agvalue_md5"),
        F.floor(F.unix_timestamp(F.min("ts"))).cast("long").alias("first_ts_epoch"),
    )
    return agg


def q_sessionize_events(spark, sf_dir):
    """Window/lag sessionization (30-min gap) → per-user session stats."""
    e = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("long").alias("user_id"),
        F.col("event_id").cast("long").alias("event_id"),
        F.unix_timestamp("ts").cast("long").alias("ts_s"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    gap = F.col("ts_s") - F.lag("ts_s").over(w)
    flagged = e.withColumn(
        "is_new", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    ).withColumn(
        "sess", F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    )
    per_sess = flagged.groupBy("user_id", "sess").agg(F.count(F.lit(1)).alias("n"))
    return per_sess.groupBy("user_id").agg(
        F.max("sess").cast("long").alias("n_sessions"),
        F.max("n").cast("long").alias("max_session_events"),
    )


# ---------------------------------------------------------------------------
# dedup suite
# ---------------------------------------------------------------------------

def q_dedup_exact_groups(spark, sf_dir):
    from ertransfer_spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


def q_dedup_exact_stats(spark, sf_dir):
    from ertransfer_spark.operators.dedup import exact_dedup_stats

    return exact_dedup_stats(_t(spark, sf_dir, "documents"))


def q_dedup_shingle_jaccard(spark, sf_dir):
    """n-gram (word-bigram shingle) jaccard near-dup pairs, self-join.

    Adaptive kernel (operators/dedup.shingle_jaccard_pairs): the sparse
    xxhash64 posting self-join is the web-scale default; when the
    df-capped gram dictionary is small (runtime probe ≤ 4096 — true for
    this corpus: the posting join degenerates to near-all-pairs there),
    a triangular block-matmul sweep computes the same exact overlaps in
    one BLAS pass per cell. Output identical either way (the rounded
    Jaccard filter runs in Spark expressions in both paths; the SQL
    oracle is unchanged)."""
    from ertransfer_spark.operators.dedup import shingle_jaccard_pairs

    d = _doc_shingles(spark, sf_dir)
    return shingle_jaccard_pairs(
        d, gram_col="s", id_col="id",
        threshold=0.6, max_gram_df=MAX_GRAM_DF,
    )


def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup with portable polynomial hashes — the full
    banding + exact-verify pipeline is oracle-checked hash-for-hash."""
    from ertransfer_spark.operators.dedup import minhash_dedup

    return minhash_dedup(_t(spark, sf_dir, "documents"), min_jaccard=0.5)


def q_dedup_minhash_fast(spark, sf_dir):
    """The same MinHash+LSH near-dup query under the name the bench's
    headline set times; same twin."""
    return q_dedup_minhash_lsh(spark, sf_dir)


def q_simhash(spark, sf_dir):
    from ertransfer_spark.operators.dedup import simhash

    return simhash(_t(spark, sf_dir, "documents"))


def q_doc_fingerprints(spark, sf_dir):
    from ertransfer_spark.functions.textstats import doc_fingerprint

    return _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        doc_fingerprint("text").cast("long").alias("fp"),
    )


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

def q_ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-5 per vector (exact ANN baseline)."""
    from ertransfer_spark.operators.simsearch import brute_force_topk

    e = _t(spark, sf_dir, "embeddings")
    return brute_force_topk(e, e, k=5, id_col="vec_id", vec_col="embedding")


def q_ann_lsh_topk(spark, sf_dir):
    """Random-hyperplane LSH ANN with the pinned portable plane spec
    (integer plane dots over 6-dp-quantized components), value-verified
    against its DuckDB twin."""
    from ertransfer_spark.operators.simsearch import lsh_topk

    e = _t(spark, sf_dir, "embeddings")
    return lsh_topk(e, e, k=5, id_col="vec_id", vec_col="embedding", n_planes=8, n_tables=4)


def q_ann_lsh_portable(spark, sf_dir):
    """The same LSH ANN query under its older name; same twin."""
    return q_ann_lsh_topk(spark, sf_dir)


def q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN: cells from portable id-hash seeds + n_probe nearest-cell
    search — every step has a DuckDB twin, so this ANN operator is fully
    value-verified."""
    from ertransfer_spark.operators.simsearch import ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    return ivf_topk(e, e, k=5, n_lists=8, n_probe=3)


def q_embedding_neardup(spark, sf_dir):
    from ertransfer_spark.operators.simsearch import cosine_neardup_pairs

    return cosine_neardup_pairs(_t(spark, sf_dir, "embeddings"), threshold=0.3)


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

def q_lang_id(spark, sf_dir):
    from ertransfer_spark.functions.textstats import lang_id

    return _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        lang_id("text").alias("pred_lang"),
    )


def q_quality_scores(spark, sf_dir):
    from ertransfer_spark.functions.textstats import quality_features

    qf = quality_features("text")
    return _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        qf["n_chars"].alias("n_chars_q"),
        qf["n_tokens"].alias("n_tokens_q"),
        F.round(qf["mean_tok_len"], 6).alias("mean_tok_len_r"),
        F.round(qf["alnum_ratio"], 6).alias("alnum_ratio_r"),
    )


def q_token_counts(spark, sf_dir):
    from ertransfer_spark.functions.textstats import token_counts

    tc = token_counts("text")
    return _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        tc["n_ws_tokens"].alias("n_ws_tokens"),
        tc["n_bpe_tokens"].alias("n_bpe_tokens"),
    )


def q_binary_meta(spark, sf_dir):
    """Multimodal plumbing: Arrow-batched mapInPandas over binary payloads."""
    from ertransfer_spark.operators.multimodal import binary_meta

    return binary_meta(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# relational / aggregation / set ops (SURVEY A2-A10, SO1-3, P*, J4)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    """A2 analog (TPC-H Q1 shape): filter pushdown + grouped agg.
    Money sums go through DECIMAL so they are exact (order-independent)."""
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= F.lit("1998-12-01"))
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc_r"),
        F.count(F.lit(1)).cast("long").alias("count_order"),
    )


def q_top_customers_per_nation(spark, sf_dir):
    """J4 + W4: 3-way dim join + per-group top-3 by exact revenue."""
    rev = _t(spark, sf_dir, "orders").groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    j = rev.join(c, rev.o_custkey == c.c_custkey).join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    )
    w = Window.partitionBy("n_name").orderBy(F.desc("revenue"), F.asc("c_custkey"))
    return (
        j.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "n_name",
            F.col("c_custkey").cast("long").alias("c_custkey"),
            "revenue",
            "n_orders",
            F.col("rk").cast("long").alias("rk"),
        )
    )


def q_customers_without_orders(spark, sf_dir):
    """SO3/P4: anti-join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return c.join(o, "c_custkey", "left_anti").select(
        F.col("c_custkey").cast("long").alias("c_custkey")
    )


def q_set_ops_users(spark, sf_dir):
    """SO2: users with both purchase AND error events (intersect)."""
    e = _t(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").cast("long").alias("user_id")
    ).distinct()
    r = e.filter(F.col("event_type") == "error").select(
        F.col("user_id").cast("long").alias("user_id")
    ).distinct()
    return p.intersect(r)


def q_value_histogram(spark, sf_dir):
    """A5: bucketed histogram of event values."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy(
        F.floor(F.col("value") / 10).cast("long").alias("bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )


def q_kl_association(spark, sf_dir):
    """A6 FULL protocol (dataset association for transfer ER): each a-side
    lang is a candidate 'labeled dataset'; the target is the whole scored
    pair set. Per candidate: shared-range 100-bin histograms, LS
    smoothing, KL(target ‖ candidate); rk=1 is the dataset whose matcher
    the target would reuse (methods/embeddings/entrypoint.py:234-268)."""
    from ertransfer_spark.operators.transfer import kl_association

    s = _scored_pairs(spark, sf_dir)
    cand = s.select(F.col("a_lang").alias("dataset"), F.col("sim_r").alias("sim"))
    target = s.select(F.col("sim_r").alias("sim"))
    return kl_association(cand, target)


def q_kl_divergence(spark, sf_dir):
    """A6: Laplace-smoothed KL divergence between the value distributions
    of purchase vs click events over a fixed 20-bucket grid."""
    e = _t(spark, sf_dir, "events")
    bkt = F.least(F.floor(F.col("value") / 20), F.lit(19)).cast("long")
    counts = (
        e.filter(F.col("event_type").isin("purchase", "click"))
        .groupBy(bkt.alias("bucket"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    grid = spark.range(20).select(F.col("id").alias("bucket"))
    p = grid.join(
        counts.filter(F.col("event_type") == "purchase").select("bucket", F.col("cnt").alias("pc")),
        "bucket", "left",
    ).join(
        counts.filter(F.col("event_type") == "click").select("bucket", F.col("cnt").alias("qc")),
        "bucket", "left",
    ).fillna({"pc": 0, "qc": 0})
    tot = p.agg(F.sum("pc").alias("np"), F.sum("qc").alias("nq")).collect()[0]
    n_p, n_q = int(tot["np"]), int(tot["nq"])
    pi = (F.col("pc") + 1) / F.lit(float(n_p + 20))
    qi = (F.col("qc") + 1) / F.lit(float(n_q + 20))
    return p.agg(
        F.round(F.sum(pi * F.log(pi / qi)), 6).alias("kl_r"),
        F.lit(n_p).cast("long").alias("n_p"),
        F.lit(n_q).cast("long").alias("n_q"),
    )


def q_attr_pair_features(spark, sf_dir):
    """M1 (Magellan per-attribute auto-features): attr_features over a
    deterministic adjacent-partkey pair set on part — presence flag +
    Levenshtein sim + token Jaccard per attribute, all native exprs
    (operators/matcher.attr_features; the em.get_features_for_matching
    analog). Floats rounded 6 dp per the contract."""
    from ertransfer_spark.operators.matcher import attr_features

    attrs = ["p_name", "p_brand", "p_type"]
    c = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("long").alias("id"), *attrs
    )
    pairs = (
        c.select(F.col("id").alias("a_id"))
        .withColumn("b_id", F.col("a_id") + 1)
        .join(c.select(F.col("id").alias("b_id")), "b_id", "left_semi")
    )
    out, names = attr_features(pairs, c, c, attrs)
    return out.select(
        F.col("a_id").cast("long").alias("a_id"),
        F.col("b_id").cast("long").alias("b_id"),
        *[F.round(F.col(n), 6).alias(n) for n in names],
    )


def _attr_features_oracle_sql() -> str:
    """DuckDB twin of q_attr_pair_features: same normalize / levenshtein /
    token-jaccard formulas (functions/similarity.py), generated per
    attribute so the three blocks cannot drift apart."""
    attrs = ["p_name", "p_brand", "p_type"]
    norm = "trim(regexp_replace(lower(coalesce(CAST({col} AS VARCHAR), '')), '[^a-z0-9]+', ' ', 'g'))"
    c_cols = ",\n                     ".join(
        f"{norm.format(col=a)} AS n_{a}" for a in attrs
    )
    p_cols = ",\n                     ".join(
        f"a.n_{x} AS a_{x}, b.n_{x} AS b_{x}" for x in attrs
    )
    feat_cols = []
    for x in attrs:
        both = f"(length(a_{x}) > 0 AND length(b_{x}) > 0)"
        lev = (
            f"1.0 - CAST(levenshtein(a_{x}, b_{x}) AS DOUBLE)"
            f" / greatest(length(a_{x}), length(b_{x}))"
        )
        toks = "list_distinct(list_filter(regexp_split_to_array({s}, '[^a-z0-9]+'), t -> t <> ''))"
        ta, tb = toks.format(s=f"a_{x}"), toks.format(s=f"b_{x}")
        o = f"len(list_intersect({ta}, {tb}))"
        denom = f"(len({ta}) + len({tb}) - {o})"
        jac = f"CASE WHEN {denom} > 0 THEN CAST({o} AS DOUBLE) / {denom} ELSE 0.0 END"
        feat_cols += [
            f"round(CASE WHEN {both} THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END, 6) AS {x}_present",
            f"round(CASE WHEN {both} THEN {lev} ELSE 0.0 END, 6) AS {x}_lev",
            f"round(CASE WHEN {both} THEN {jac} ELSE 0.0 END, 6) AS {x}_jac",
        ]
    sel = ",\n                   ".join(feat_cols)
    return f"""
            WITH c AS (
              SELECT CAST(p_partkey AS BIGINT) AS id,
                     {c_cols}
              FROM part
            ), p AS (
              SELECT a.id AS a_id, b.id AS b_id,
                     {p_cols}
              FROM c a JOIN c b ON b.id = a.id + 1
            )
            SELECT a_id, b_id,
                   {sel}
            FROM p
        """


def q_tfidf_pair_cosine(spark, sf_dir):
    """F5/M1 (TF-IDF-cosine pair feature, named in the north rule's
    feature vector): corpus-IDF-weighted token cosine over a
    deterministic adjacent-partkey pair set on part
    (operators/matcher.tfidf_cosine — explode/equi-join/partial-agg, no
    UDF). idf = ln(n_docs/df) over the union corpus; cosine rounded 6 dp
    per the contract."""
    from ertransfer_spark.functions.text import distinct_tokens
    from ertransfer_spark.operators.matcher import tfidf_cosine

    c = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("long").alias("id"),
        distinct_tokens("p_name").alias("token_set"),
    )
    pairs = (
        c.select(F.col("id").alias("a_id"))
        .withColumn("b_id", F.col("a_id") + 1)
        .join(c.select(F.col("id").alias("b_id")), "b_id", "left_semi")
    )
    out = tfidf_cosine(pairs, c, c, id_col="id")
    return out.select(
        F.col("a_id").cast("long").alias("a_id"),
        F.col("b_id").cast("long").alias("b_id"),
        F.round("tfidf_cos", 6).alias("tfidf_cos"),
    )


def _tfidf_cosine_oracle_sql() -> str:
    """DuckDB twin of q_tfidf_pair_cosine. Both sides of the pair corpus
    are the SAME part table, so the doubled n_docs and doubled df cancel
    (ln(2N/2df) = ln(N/df)) — the SQL computes the single-copy form; the
    Spark operator computes the union form; values are identical."""
    toks = (
        "list_distinct(list_filter(regexp_split_to_array(lower(coalesce(p_name, '')),"
        " '[^a-z0-9]+'), t -> t <> ''))"
    )
    return f"""
            WITH c AS (
              SELECT CAST(p_partkey AS BIGINT) AS id, {toks} AS toks
              FROM part
            ), n AS (
              SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM c
            ), posting AS (
              SELECT id, unnest(toks) AS tok FROM c
            ), w AS (
              SELECT p.id, p.tok, ln(n.n_docs / d.df) AS idf
              FROM posting p
              JOIN (SELECT tok, COUNT(*) AS df FROM posting GROUP BY tok) d USING (tok)
              CROSS JOIN n
            ), nrm AS (
              SELECT id, sqrt(sum(idf * idf)) AS nrm FROM w GROUP BY id
            ), pr AS (
              SELECT a.id AS a_id, b.id AS b_id
              FROM c a JOIN c b ON b.id = a.id + 1
            ), dt AS (
              SELECT pr.a_id, pr.b_id, sum(wa.idf * wb.idf) AS dot
              FROM pr
              JOIN w wa ON wa.id = pr.a_id
              JOIN w wb ON wb.id = pr.b_id AND wb.tok = wa.tok
              GROUP BY pr.a_id, pr.b_id
            )
            SELECT pr.a_id, pr.b_id,
                   round(CASE WHEN na.nrm > 0 AND nb.nrm > 0
                              THEN coalesce(dt.dot / (na.nrm * nb.nrm), 0.0)
                              ELSE 0.0 END, 6) AS tfidf_cos
            FROM pr
            LEFT JOIN dt ON dt.a_id = pr.a_id AND dt.b_id = pr.b_id
            LEFT JOIN nrm na ON na.id = pr.a_id
            LEFT JOIN nrm nb ON nb.id = pr.b_id
        """


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the blocking join + reciprocal-top-1 matching (the ER core)
    on sf0.001."""
    return q_reciprocal_top1(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # ER flow (SURVEY §2)
        "tokenize_stats": q_tokenize_stats,
        "qgram_profile": q_qgram_profile,
        "topk_token_join": q_topk_token_join,
        "topk_union_join": q_topk_union_join,
        "topk_rare_union": q_topk_rare_union,
        "snm_blocking": q_snm_blocking,
        "reciprocal_top1": q_reciprocal_top1,
        "threshold_sweep": q_threshold_sweep,
        "stratified_split": q_stratified_split,
        "attr_pair_features": q_attr_pair_features,
        "tfidf_pair_cosine": q_tfidf_pair_cosine,
        "umc_greedy": q_umc_greedy,
        "connected_components": q_connected_components,
        # transcript-shaped ops
        "canonicalize_events": q_canonicalize_events,
        "sessionize_events": q_sessionize_events,
        # dedup suite
        "dedup_exact_groups": q_dedup_exact_groups,
        "dedup_exact_stats": q_dedup_exact_stats,
        "dedup_shingle_jaccard": q_dedup_shingle_jaccard,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_minhash_fast": q_dedup_minhash_fast,
        "simhash": q_simhash,
        "doc_fingerprints": q_doc_fingerprints,
        # similarity search
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_lsh_portable": q_ann_lsh_portable,
        "ann_ivf_topk": q_ann_ivf_topk,
        "embedding_neardup": q_embedding_neardup,
        # text analysis
        "lang_id": q_lang_id,
        "quality_scores": q_quality_scores,
        "token_counts": q_token_counts,
        "binary_meta": q_binary_meta,
        # relational / agg / set ops
        "pricing_summary": q_pricing_summary,
        "top_customers_per_nation": q_top_customers_per_nation,
        "customers_without_orders": q_customers_without_orders,
        "set_ops_users": q_set_ops_users,
        "value_histogram": q_value_histogram,
        "kl_divergence": q_kl_divergence,
        "kl_association": q_kl_association,
    }


def oracle_sql() -> dict[str, str]:
    from ertransfer_spark.functions.text import DUCKDB_NORM, duckdb_qgrams_sql
    from ertransfer_spark.functions.textstats import (
        QUALITY_DUCKDB,
        TOKEN_COUNTS_DUCKDB,
        doc_fingerprint_duckdb,
        lang_id_duckdb,
    )
    from ertransfer_spark.operators.dedup import (
        minhash_portable_duckdb_sql,
        simhash_duckdb_sql,
    )
    from ertransfer_spark.operators.labeling import duckdb_split_sql
    from ertransfer_spark.operators.simsearch import (
        ivf_seeded_duckdb_sql,
        lsh_portable_duckdb_sql,
    )

    norm = DUCKDB_NORM.format(col="text")
    label_int = f"CAST(CASE WHEN {LABEL_EXPR} THEN 1 ELSE 0 END AS BIGINT)"
    return {
        "tokenize_stats": f"""
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(len({TOKS_DUCK}) AS BIGINT) AS n_tokens,
                   CAST(len(list_distinct({TOKS_DUCK})) AS BIGINT) AS n_distinct_tokens,
                   md5({norm}) AS norm_md5
            FROM documents
        """,
        "qgram_profile": f"""
            WITH g AS (
              SELECT CAST(doc_id AS BIGINT) AS doc_id, {duckdb_qgrams_sql("text", q=3)} AS q3
              FROM documents
            )
            SELECT doc_id, CAST(len(q3) AS BIGINT) AS n_q3,
                   list_aggregate(q3, 'min') AS min_q3
            FROM g
        """,
        "topk_token_join": SQL_SCORED + """
            SELECT a_id, b_id, overlap, a_size, b_size, sim_r FROM (
              SELECT *, row_number() OVER (PARTITION BY a_id ORDER BY sim_r DESC, b_id) AS rk
              FROM scored
            ) WHERE rk <= 5
        """,
        "topk_union_join": SQL_SCORED + """
            SELECT DISTINCT a_id, b_id, overlap, a_size, b_size, sim_r FROM (
              SELECT *,
                row_number() OVER (PARTITION BY a_id ORDER BY sim_r DESC, b_id) AS rka,
                row_number() OVER (PARTITION BY b_id ORDER BY sim_r DESC, a_id) AS rkb
              FROM scored
            ) WHERE rka <= 3 OR rkb <= 3
        """,
        "topk_rare_union": f"""
            WITH tk AS (
              SELECT CAST(doc_id AS BIGINT) AS id, {TOKS_DUCK} AS ts FROM documents
            ), shd AS (
              SELECT id, {BIGRAMS_DUCK} AS s FROM tk
            ), sa0 AS (
              SELECT id AS a_id, len(s) AS a_sz, unnest(s) AS g FROM shd WHERE id % 2 = 0
            ), sb0 AS (
              SELECT id AS b_id, len(s) AS b_sz, unnest(s) AS g FROM shd WHERE id % 2 = 1
            ), dfx AS (
              SELECT da.g, da.dfa, db.dfb
              FROM (SELECT g, count(*) AS dfa FROM sa0 GROUP BY g) da
              JOIN (SELECT g, count(*) AS dfb FROM sb0 GROUP BY g) db USING (g)
              WHERE da.dfa <= {MAX_GRAM_DF} AND db.dfb <= {MAX_GRAM_DF}
            ), sa AS (
              SELECT sa0.*, (dfx.dfa + dfx.dfb <= 20) AS rare
              FROM sa0 JOIN dfx USING (g)
            ), sb AS (
              SELECT sb0.* FROM sb0 JOIN dfx USING (g)
            ), pr AS (
              SELECT a_id, b_id, CAST(count(*) AS BIGINT) AS overlap,
                     any_value(a_sz) AS a_sz, any_value(b_sz) AS b_sz,
                     max(CASE WHEN rare THEN 1 ELSE 0 END) AS has_rare
              FROM sa JOIN sb USING (g) GROUP BY a_id, b_id
            ), rk AS (
              SELECT *, round(overlap / (a_sz + b_sz - overlap), 6) AS sim_r,
                row_number() OVER (PARTITION BY a_id ORDER BY round(overlap/(a_sz+b_sz-overlap), 6) DESC, b_id) AS rka,
                row_number() OVER (PARTITION BY b_id ORDER BY round(overlap/(a_sz+b_sz-overlap), 6) DESC, a_id) AS rkb
              FROM pr
            )
            SELECT a_id, b_id, overlap,
                   CAST(a_sz AS BIGINT) AS a_size, CAST(b_sz AS BIGINT) AS b_size, sim_r
            FROM rk WHERE rka <= 3 OR rkb <= 3 OR has_rare = 1
        """,
        "snm_blocking": f"""
            WITH tk AS (
              SELECT CAST(doc_id AS BIGINT) AS id, {TOKS_DUCK} AS ts FROM documents
            ), shd AS (
              SELECT id, {BIGRAMS_DUCK} AS s FROM tk
            ), u AS (
              SELECT id AS rid, len(s) AS key,
                     CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS side
              FROM shd
            ), ranked AS (
              SELECT rid, side, row_number() OVER (ORDER BY key, rid) AS rn FROM u
            )
            SELECT DISTINCT
                   CASE WHEN x.side = 'a' THEN x.rid ELSE y.rid END AS a_id,
                   CASE WHEN x.side = 'a' THEN y.rid ELSE x.rid END AS b_id
            FROM ranked x JOIN ranked y
              ON y.rn BETWEEN x.rn + 1 AND x.rn + 5 AND x.side <> y.side
        """,
        "reciprocal_top1": SQL_SCORED + f"""
            , filt AS (SELECT * FROM scored WHERE sim_r > {EC_THRESHOLD})
            , ta AS (SELECT a_id, b_id, sim_r FROM (
                SELECT *, row_number() OVER (PARTITION BY a_id ORDER BY sim_r DESC, b_id) AS r
                FROM filt) WHERE r = 1)
            , tb AS (SELECT a_id, b_id FROM (
                SELECT *, row_number() OVER (PARTITION BY b_id ORDER BY sim_r DESC, a_id) AS r
                FROM filt) WHERE r = 1)
            SELECT ta.a_id, ta.b_id, ta.sim_r FROM ta JOIN tb USING (a_id, b_id)
        """,
        "threshold_sweep": SQL_SCORED + f"""
            , lab AS (
              -- strict-> boundary parity: sim_r exactly at grid point
              -- i/100 buckets to i-1 (mirrors q_threshold_sweep)
              SELECT CAST(least(CASE WHEN sim_r <= floor(sim_r * 100) / 100
                                     THEN floor(sim_r * 100) - 1
                                     ELSE floor(sim_r * 100) END,
                                99) AS BIGINT) AS bkt,
                     {label_int} AS label
              FROM scored
            ), agg AS (
              SELECT bkt, CAST(count(*) AS BIGINT) AS n, CAST(sum(label) AS BIGINT) AS pos
              FROM lab GROUP BY bkt
            )
            SELECT bkt,
                   CAST(sum(n) OVER (ORDER BY bkt DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pred_n,
                   CAST(sum(pos) OVER (ORDER BY bkt DESC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
                   round((sum(pos) OVER (ORDER BY bkt DESC ROWS UNBOUNDED PRECEDING))
                         / (sum(n) OVER (ORDER BY bkt DESC ROWS UNBOUNDED PRECEDING)), 6) AS prec_r,
                   round((sum(pos) OVER (ORDER BY bkt DESC ROWS UNBOUNDED PRECEDING))
                         / (sum(pos) OVER ()), 6) AS rec_r,
                   round(CASE WHEN (sum(pos) OVER (ORDER BY bkt DESC ROWS UNBOUNDED PRECEDING))
                                   / (sum(n) OVER (ORDER BY bkt DESC ROWS UNBOUNDED PRECEDING))
                                 + (sum(pos) OVER (ORDER BY bkt DESC ROWS UNBOUNDED PRECEDING))
                                   / (sum(pos) OVER ()) > 0
                         THEN 2 * ((sum(pos) OVER (ORDER BY bkt DESC ROWS UNBOUNDED PRECEDING))
                                   / (sum(n) OVER (ORDER BY bkt DESC ROWS UNBOUNDED PRECEDING)))
                                * ((sum(pos) OVER (ORDER BY bkt DESC ROWS UNBOUNDED PRECEDING))
                                   / (sum(pos) OVER ()))
                              / (((sum(pos) OVER (ORDER BY bkt DESC ROWS UNBOUNDED PRECEDING))
                                   / (sum(n) OVER (ORDER BY bkt DESC ROWS UNBOUNDED PRECEDING)))
                                 + ((sum(pos) OVER (ORDER BY bkt DESC ROWS UNBOUNDED PRECEDING))
                                   / (sum(pos) OVER ())))
                         ELSE 0.0 END, 6) AS f1_r
            FROM agg
        """,
        "stratified_split": SQL_SCORED + f"""
            , lab AS (
              SELECT {duckdb_split_sql()} AS split, {label_int} AS label
              FROM scored
            )
            SELECT split, label, CAST(count(*) AS BIGINT) AS n_pairs
            FROM lab GROUP BY split, label
        """,
        "attr_pair_features": _attr_features_oracle_sql(),
        "tfidf_pair_cosine": _tfidf_cosine_oracle_sql(),
        "umc_greedy": SQL_SCORED.replace("WITH tk AS", "WITH RECURSIVE tk AS", 1) + f"""
            , filt AS (
              SELECT a_id, b_id, sim_r AS prob FROM scored WHERE sim_r >= {CC_THRESHOLD}
            ), rec(a_id, b_id, prob, accepted) AS (
              -- round 0: the full frontier, nothing accepted yet
              SELECT a_id, b_id, prob, FALSE FROM filt
              UNION ALL
              -- each round: flag mutual-best edges of the previous
              -- frontier (same total order as the Spark windows:
              -- prob DESC, a_id, b_id), emit them as accepted, and carry
              -- forward only edges whose endpoints stayed unmatched
              SELECT a_id, b_id, prob, is_best FROM (
                SELECT a_id, b_id, prob, is_best,
                       max(CASE WHEN is_best THEN 1 ELSE 0 END)
                         OVER (PARTITION BY a_id) AS a_hit,
                       max(CASE WHEN is_best THEN 1 ELSE 0 END)
                         OVER (PARTITION BY b_id) AS b_hit
                FROM (
                  SELECT a_id, b_id, prob,
                         (row_number() OVER (PARTITION BY a_id
                            ORDER BY prob DESC, a_id, b_id) = 1)
                         AND (row_number() OVER (PARTITION BY b_id
                            ORDER BY prob DESC, a_id, b_id) = 1) AS is_best
                  FROM rec WHERE NOT accepted
                )
              ) WHERE is_best OR (a_hit = 0 AND b_hit = 0)
            )
            SELECT a_id, b_id, round(prob, 6) AS prob_r FROM rec WHERE accepted
        """,
        "connected_components": SQL_SCORED.replace("WITH tk AS", "WITH RECURSIVE tk AS", 1) + f"""
            , edges AS (
              SELECT a_id AS u, b_id AS v FROM scored WHERE sim_r >= {CC_THRESHOLD}
            ), sym AS (
              SELECT u, v FROM edges UNION SELECT v, u FROM edges
            ), nodes AS (
              SELECT DISTINCT u AS node FROM sym
            ), reach(node, r) AS (
              SELECT node, node FROM nodes
              UNION
              SELECT s.v, reach.r FROM reach JOIN sym s ON s.u = reach.node
            )
            SELECT CAST(node AS BIGINT) AS node, CAST(min(r) AS BIGINT) AS cluster_id
            FROM reach GROUP BY node
        """,
        "canonicalize_events": """
            SELECT CAST(user_id AS BIGINT) AS user_id,
                   CAST(count(*) AS BIGINT) AS n_events,
                   md5(string_agg(props, ' ' ORDER BY event_id)) AS agvalue_md5,
                   CAST(floor(epoch(min(ts))) AS BIGINT) AS first_ts_epoch
            FROM events GROUP BY user_id
        """,
        "sessionize_events": """
            WITH e AS (
              SELECT CAST(user_id AS BIGINT) AS user_id,
                     CAST(event_id AS BIGINT) AS event_id,
                     CAST(floor(epoch(ts)) AS BIGINT) AS ts_s
              FROM events
            ), flagged AS (
              SELECT user_id, event_id, ts_s,
                     CASE WHEN lag(ts_s) OVER w IS NULL
                               OR ts_s - lag(ts_s) OVER w > 1800 THEN 1 ELSE 0 END AS is_new
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_s, event_id)
            ), sess AS (
              SELECT user_id,
                     sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_s, event_id
                                       ROWS UNBOUNDED PRECEDING) AS s
              FROM flagged
            ), per AS (
              SELECT user_id, s, count(*) AS n FROM sess GROUP BY user_id, s
            )
            SELECT user_id, CAST(max(s) AS BIGINT) AS n_sessions,
                   CAST(max(n) AS BIGINT) AS max_session_events
            FROM per GROUP BY user_id
        """,
        "dedup_exact_groups": """
            SELECT md5(text) AS text_md5,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(min(doc_id) AS BIGINT) AS canonical_id
            FROM documents GROUP BY md5(text) HAVING count(*) > 1
        """,
        "dedup_exact_stats": """
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct,
                   CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_dup_docs
            FROM documents
        """,
        "dedup_shingle_jaccard": f"""
            WITH tk AS (
              SELECT CAST(doc_id AS BIGINT) AS id, {TOKS_DUCK} AS ts FROM documents
            ), shd AS (
              SELECT id, {BIGRAMS_DUCK} AS s FROM tk
            ), p0 AS (
              SELECT id, len(s) AS sz, unnest(s) AS g FROM shd
            ), keepg AS (
              SELECT g FROM (SELECT g, count(*) AS df FROM p0 GROUP BY g)
              WHERE df <= {MAX_GRAM_DF}
            ), p AS (
              SELECT p0.* FROM p0 JOIN keepg USING (g)
            ), pr AS (
              SELECT pa.id AS a_id, pb.id AS b_id,
                     CAST(count(*) AS BIGINT) AS overlap,
                     any_value(pa.sz) AS a_sz, any_value(pb.sz) AS b_sz
              FROM p pa JOIN p pb ON pa.g = pb.g AND pa.id < pb.id
              GROUP BY pa.id, pb.id
            )
            SELECT a_id, b_id, round(overlap / (a_sz + b_sz - overlap), 6) AS sim_r
            FROM pr WHERE round(overlap / (a_sz + b_sz - overlap), 6) >= 0.6
        """,
        "dedup_minhash_lsh": minhash_portable_duckdb_sql(),
        "dedup_minhash_fast": minhash_portable_duckdb_sql(),
        "ann_ivf_topk": ivf_seeded_duckdb_sql(k=5, n_lists=8, n_probe=3),
        "ann_lsh_topk": lsh_portable_duckdb_sql(k=5, n_planes=8, n_tables=4),
        "ann_lsh_portable": lsh_portable_duckdb_sql(k=5, n_planes=8, n_tables=4),
        "simhash": simhash_duckdb_sql("text"),
        "doc_fingerprints": f"""
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST({doc_fingerprint_duckdb('text')} AS BIGINT) AS fp
            FROM documents
        """,
        "ann_cosine_topk": """
            WITH e AS (
              SELECT CAST(vec_id AS BIGINT) AS id, embedding::DOUBLE[] AS v FROM embeddings
            ), scored AS (
              SELECT q.id AS query_id, c.id AS nbr_id,
                     round(CASE WHEN list_dot_product(q.v, q.v) > 0
                                     AND list_dot_product(c.v, c.v) > 0
                                THEN list_cosine_similarity(q.v, c.v) ELSE 0.0 END, 4) AS sim_r
              FROM e q JOIN e c ON q.id <> c.id
            )
            SELECT query_id, nbr_id, sim_r FROM (
              SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY sim_r DESC, nbr_id) AS rk
              FROM scored
            ) WHERE rk <= 5
        """,
        "embedding_neardup": """
            WITH e AS (
              SELECT CAST(vec_id AS BIGINT) AS id, embedding::DOUBLE[] AS v FROM embeddings
            )
            SELECT a.id AS a_id, b.id AS b_id,
                   round(list_cosine_similarity(a.v, b.v), 4) AS sim_r
            FROM e a JOIN e b ON a.id < b.id
            WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.3
        """,
        "lang_id": f"""
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   {lang_id_duckdb('text')} AS pred_lang
            FROM documents
        """,
        "quality_scores": f"""
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   {QUALITY_DUCKDB['n_chars'].format(c='text')} AS n_chars_q,
                   {QUALITY_DUCKDB['n_tokens'].format(c='text')} AS n_tokens_q,
                   round({QUALITY_DUCKDB['mean_tok_len'].format(c='text')}, 6) AS mean_tok_len_r,
                   round({QUALITY_DUCKDB['alnum_ratio'].format(c='text')}, 6) AS alnum_ratio_r
            FROM documents
        """,
        "token_counts": f"""
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   {TOKEN_COUNTS_DUCKDB['n_ws_tokens'].format(c='text')} AS n_ws_tokens,
                   {TOKEN_COUNTS_DUCKDB['n_bpe_tokens'].format(c='text')} AS n_bpe_tokens
            FROM documents
        """,
        "binary_meta": """
            -- byte_sum is over the UTF-8 ENCODED payload (hex-pair
            -- decode of encode(text)), matching the Spark side exactly
            -- for non-ASCII text too.
            SELECT CAST(doc_id AS BIGINT) AS doc_id,
                   CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT) AS n_bytes,
                   CAST(CASE WHEN octet_length(encode(coalesce(text, ''))) = 0 THEN 0
                        ELSE list_sum(list_transform(range(1, 1 + octet_length(encode(coalesce(text, '')))),
                                i -> 16 * (strpos('0123456789ABCDEF', substr(hex(encode(coalesce(text, ''))), 2*i-1, 1)) - 1)
                                     + (strpos('0123456789ABCDEF', substr(hex(encode(coalesce(text, ''))), 2*i, 1)) - 1)))
                        END AS BIGINT) AS byte_sum,
                   CASE WHEN octet_length(encode(coalesce(text, ''))) = 0 THEN 'empty'
                        WHEN octet_length(encode(coalesce(text, ''))) < 256 THEN 'small'
                        ELSE 'large' END AS content_tag
            FROM documents
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
                   round(avg(l_discount), 6) AS avg_disc_r,
                   CAST(count(*) AS BIGINT) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-12-01'
            GROUP BY l_returnflag, l_linestatus
        """,
        "top_customers_per_nation": """
            WITH rev AS (
              SELECT o_custkey,
                     CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
                     CAST(count(*) AS BIGINT) AS n_orders
              FROM orders GROUP BY o_custkey
            ), j AS (
              SELECT n.n_name, c.c_custkey, rev.revenue, rev.n_orders
              FROM rev JOIN customer c ON rev.o_custkey = c.c_custkey
                       JOIN nation n ON c.c_nationkey = n.n_nationkey
            )
            SELECT n_name, CAST(c_custkey AS BIGINT) AS c_custkey, revenue, n_orders,
                   CAST(rk AS BIGINT) AS rk
            FROM (
              SELECT *, row_number() OVER (PARTITION BY n_name ORDER BY revenue DESC, c_custkey) AS rk
              FROM j
            ) WHERE rk <= 3
        """,
        "customers_without_orders": """
            SELECT CAST(c_custkey AS BIGINT) AS c_custkey
            FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        """,
        "set_ops_users": """
            SELECT CAST(user_id AS BIGINT) AS user_id FROM events WHERE event_type = 'purchase'
            INTERSECT
            SELECT CAST(user_id AS BIGINT) AS user_id FROM events WHERE event_type = 'error'
        """,
        "value_histogram": """
            SELECT CAST(floor(value / 10) AS BIGINT) AS bucket,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1
        """,
        "kl_association": SQL_SCORED + """
            , tstats AS (
              SELECT min(sim_r) AS mn, max(sim_r) AS mx,
                     CAST(count(*) AS DOUBLE) AS tn
              FROM scored
            ), ranges AS (
              SELECT a_lang AS dataset,
                     least(min(sim_r), (SELECT mn FROM tstats)) AS lo,
                     greatest(max(sim_r), (SELECT mx FROM tstats)) AS hi,
                     count(*) AS n_pairs
              FROM scored GROUP BY a_lang
            ), cb AS (
              SELECT r.dataset,
                     CAST(least(CASE WHEN r.hi > r.lo
                                THEN floor((s.sim_r - r.lo) * 100 / (r.hi - r.lo))
                                ELSE 0 END, 99) AS BIGINT) AS b,
                     count(*) AS qc
              FROM scored s JOIN ranges r ON s.a_lang = r.dataset
              GROUP BY 1, 2
            ), tb AS (
              SELECT r.dataset,
                     CAST(least(CASE WHEN r.hi > r.lo
                                THEN floor((s.sim_r - r.lo) * 100 / (r.hi - r.lo))
                                ELSE 0 END, 99) AS BIGINT) AS b,
                     count(*) AS pc
              FROM scored s CROSS JOIN ranges r
              GROUP BY 1, 2
            ), grid AS (
              SELECT dataset, n_pairs, unnest(range(0, 100)) AS b FROM ranges
            ), joined AS (
              SELECT g.dataset, g.n_pairs, g.b,
                     coalesce(tb.pc, 0) AS pc, coalesce(cb.qc, 0) AS qc
              FROM grid g
              LEFT JOIN tb ON tb.dataset = g.dataset AND tb.b = g.b
              LEFT JOIN cb ON cb.dataset = g.dataset AND cb.b = g.b
            ), kl AS (
              SELECT dataset, n_pairs,
                     round(sum(
                       ((pc + (0.005 * (SELECT tn FROM tstats) / 100))
                          / ((SELECT tn FROM tstats) * (1.0 + 0.005)))
                       * ln(((pc + (0.005 * (SELECT tn FROM tstats) / 100))
                              / ((SELECT tn FROM tstats) * (1.0 + 0.005)))
                            / ((qc + n_pairs * (0.005 / 100))
                               / (n_pairs * (1.0 + 0.005))))
                     ), 6) AS kl_r
              FROM joined GROUP BY dataset, n_pairs
            )
            SELECT dataset, CAST(n_pairs AS BIGINT) AS n_pairs, kl_r,
                   CAST(row_number() OVER (ORDER BY kl_r, dataset) AS BIGINT) AS rk
            FROM kl
        """,
        "kl_divergence": """
            WITH cnts AS (
              SELECT CAST(least(floor(value / 20), 19) AS BIGINT) AS bucket, event_type,
                     count(*) AS cnt
              FROM events WHERE event_type IN ('purchase', 'click')
              GROUP BY 1, 2
            ), grid AS (
              SELECT unnest(range(0, 20)) AS bucket
            ), joined AS (
              SELECT g.bucket,
                     coalesce((SELECT cnt FROM cnts WHERE cnts.bucket = g.bucket AND event_type = 'purchase'), 0) AS pc,
                     coalesce((SELECT cnt FROM cnts WHERE cnts.bucket = g.bucket AND event_type = 'click'), 0) AS qc
              FROM grid g
            ), tot AS (
              SELECT sum(pc) AS np, sum(qc) AS nq FROM joined
            )
            SELECT round(sum(((pc + 1) / CAST(np + 20 AS DOUBLE))
                             * ln(((pc + 1) / CAST(np + 20 AS DOUBLE))
                                  / ((qc + 1) / CAST(nq + 20 AS DOUBLE)))), 6) AS kl_r,
                   CAST(any_value(np) AS BIGINT) AS n_p,
                   CAST(any_value(nq) AS BIGINT) AS n_q
            FROM joined, tot
        """,
    }
