"""Label attachment + referential filters + deterministic stratified split.

Reference parity:
- golden-set membership label (J5): ``label = (a,b) ∈ matches`` via
  row-wise set test, splitters/KNN-Join/splitter.py:88-91 → left join +
  null test (never a driver-side set()).
- referential-integrity filter (P4): drop matches whose ids vanished,
  splitters/KNN-Join/splitter.py:167-170 → two left-semi joins.
- seeded 60/20/20 split (M3): splitters/KNN-Join/splitter.py:118-132 →
  a deterministic hash bucket per pair (no sampleBy: reproducible and
  order-independent). The bucket is the pinned polynomial hash
  (``functions.text.poly_hash``) of the pair's string form, so the split
  has an exact DuckDB twin (:func:`duckdb_split_sql`).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ertransfer_spark.functions.text import DUCKDB_POLY_HASH_SQL, SPARK_POLY_HASH_SQL


def attach_labels(
    candidates: DataFrame,
    matches: DataFrame,
    a_col: str | None = None,
    b_col: str | None = None,
) -> DataFrame:
    """candidates(a_id,b_id,...) × matches(a_col,b_col) → +label.

    Side columns resolved by name (a*/b* prefix convention), never by
    position — join outputs reorder columns."""
    a_col = a_col or next(c for c in matches.columns if c.startswith("a"))
    b_col = b_col or next(c for c in matches.columns if c.startswith("b"))
    m = matches.select(
        F.col(a_col).alias("a_id"),
        F.col(b_col).alias("b_id"),
        F.lit(1).alias("label"),
    ).dropDuplicates(["a_id", "b_id"])
    # matches tables are dim-sized in every reference dataset (69-22k rows)
    out = candidates.join(F.broadcast(m), ["a_id", "b_id"], "left")
    return out.fillna({"label": 0})


def referential_filter(matches: DataFrame, records_a: DataFrame, records_b: DataFrame,
                       id_col: str = "conv_id") -> DataFrame:
    a_col, b_col = matches.columns[0], matches.columns[1]
    a_ids = records_a.select(F.col(id_col).alias(a_col))
    b_ids = records_b.select(F.col(id_col).alias(b_col))
    filtered = matches.join(a_ids, a_col, "left_semi").join(b_ids, b_col, "left_semi")
    # joins move the key column to the front — restore the (a, b) contract
    return filtered.select(*matches.columns)


def _split_case(bucket: str, weights: tuple) -> str:
    t1 = int(weights[0] * 100)
    t2 = t1 + int(weights[1] * 100)
    return (
        f"CASE WHEN {bucket} < {t1} THEN 'train' "
        f"WHEN {bucket} < {t2} THEN 'valid' ELSE 'test' END"
    )


def split_column(weights: tuple = (0.6, 0.2, 0.2), seed: int = 42) -> Column:
    """The split name (``train``/``valid``/``test``) of each ``(a_id, b_id)``
    pair.

    Bucket = poly_hash(``"{a_id}|{b_id}|{seed}"``) mod 100 over the ids'
    string form, so string and integer ids split alike and
    :func:`duckdb_split_sql` is its exact DuckDB twin. The key string is
    let-bound (one-element ``transform``) so the per-character hash fold
    does not rebuild it per character. The fold is an interpreted lambda:
    per pair it costs several times the native ``xxhash64``, which DuckDB
    lacks."""
    key = f"concat_ws('|', CAST(a_id AS STRING), CAST(b_id AS STRING), '{int(seed)}')"
    h = SPARK_POLY_HASH_SQL.format(s="_k")
    return F.expr(_split_case(f"transform(array({key}), _k -> {h})[0] % 100", weights))


def duckdb_split_sql(weights: tuple = (0.6, 0.2, 0.2), seed: int = 42) -> str:
    """DuckDB twin of :func:`split_column`."""
    key = f"concat_ws('|', CAST(a_id AS VARCHAR), CAST(b_id AS VARCHAR), '{int(seed)}')"
    return _split_case(f"({DUCKDB_POLY_HASH_SQL.format(s=key)}) % 100", weights)


def stratified_split(
    labeled: DataFrame,
    weights: tuple = (0.6, 0.2, 0.2),
    seed: int = 42,
) -> dict[str, DataFrame]:
    """Deterministic split → {'train','valid','test'}, filtered on
    :func:`split_column`.

    The same rows land in each split every run, regardless of partitioning
    or input order (unlike randomSplit), and the splits are disjoint by
    construction. The split ignores labels: per-label fractions match the
    weights only in expectation. For an exactly label-stratified split
    (the reference's train_test_split(stratify=...)) see
    clustering.tune_threshold_runs, which ranks within each label stratum.
    """
    with_split = labeled.withColumn("_split", split_column(weights, seed))
    return {
        name: with_split.filter(F.col("_split") == name).drop("_split")
        for name in ("train", "valid", "test")
    }


def all_negative_pairs(
    records_a: DataFrame,
    records_b: DataFrame,
    matches: DataFrame,
    id_col: str = "conv_id",
) -> DataFrame:
    """J6: exhaustive negatives — full cross product minus golden matches
    (splitters/random-split/splitter.py:30-33, neg_pairs_limit == -1).
    Cross join: tiny fixtures only; the scale path is :func:`sample_negative_pairs`."""
    a = records_a.select(F.col(id_col).alias("a_id"))
    b = records_b.select(F.col(id_col).alias("b_id"))
    m = matches.select(
        F.col(matches.columns[0]).alias("a_id"), F.col(matches.columns[1]).alias("b_id")
    )
    return a.crossJoin(b).join(m, ["a_id", "b_id"], "left_anti")


def sample_negative_pairs(
    records_a: DataFrame,
    records_b: DataFrame,
    matches: DataFrame,
    n: int,
    seed: int = 42,
    id_col: str = "conv_id",
) -> DataFrame:
    """J7: random negative sampling as a loop-free anti-join
    (splitters/random-split/splitter.py:35-49 rejection-samples one pair at
    a time; here: oversample both sides by a seeded hash order, zip by
    row_number, anti-join the golden set, limit(n)). Deterministic under a
    fixed seed and input set (order-independence comes from sorting by a
    seeded hash, not by input row position).

    Distribution vs the reference: pairs are uniform over A×B minus
    matches with per-id marginals uniform across seeds (property-tested in
    tests/test_properties.py). Deliberate deviation: ids are drawn without
    replacement WITHIN one sample (the reference's rejection loop can
    repeat an id across pairs); at n ≪ |A| the two are indistinguishable.

    The zip row_number windows run over the limit(over) sample
    (≤ 1.5n+16 rows), so the single-partition sort is bounded by
    construction. The partitionBy(lit(1)) key is documentation-only:
    Catalyst prunes foldable partition keys, so the WindowExec
    no-partition warning still fires for these tiny windows."""
    over = int(n * 1.5) + 16
    w_zip = Window.partitionBy(F.lit(1))
    a = (
        records_a.select(F.col(id_col).alias("a_id"))
        .orderBy(F.xxhash64(id_col, F.lit(seed)))
        .limit(over)
        .withColumn("_r", F.row_number().over(w_zip.orderBy(F.xxhash64("a_id", F.lit(seed)))))
    )
    b = (
        records_b.select(F.col(id_col).alias("b_id"))
        .orderBy(F.xxhash64(id_col, F.lit(seed + 1)))
        .limit(over)
        .withColumn("_r", F.row_number().over(w_zip.orderBy(F.xxhash64("b_id", F.lit(seed + 1)))))
    )
    m = matches.select(
        F.col(matches.columns[0]).alias("a_id"), F.col(matches.columns[1]).alias("b_id")
    )
    return (
        a.join(b, "_r").drop("_r").join(m, ["a_id", "b_id"], "left_anti").limit(n)
    )


def split_statistics(splits: dict[str, DataFrame], n_golden: int) -> DataFrame:
    """Per-split counts / positives / precision / recall — the
    split_statistics.txt analog (splitters/KNN-Join/splitter.py:105-110,
    198-207), as a DataFrame destined for the metrics table."""
    stats = None
    for name, df in splits.items():
        s = df.agg(
            F.lit(name).alias("split"),
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("label").alias("n_matches"),
        )
        stats = s if stats is None else stats.unionByName(s)
    return stats.withColumn(
        "precision", F.col("n_matches") / F.col("n_pairs")
    ).withColumn("recall", F.col("n_matches") / F.lit(float(n_golden)))
