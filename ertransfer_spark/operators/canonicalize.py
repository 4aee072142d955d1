"""Canonicalization: transcripts → one resolvable record per conversation.

The reference's ``agValue`` serialization joins every non-id attribute of a
record with spaces (splitters/KNN-Join/splitter.py:45-52,
methods/emtransformer/transform.py:8-26). Our entity is a *conversation*,
so the analog is **ordered turn aggregation**: collect the turns of each
conv_id, sort by turn_idx (the stable turn ordering of the input_hint
invariant), and join the cleaned texts with ' '.

Scale notes: one groupBy(conv_id) shuffle — unavoidable and key-balanced
(conv_id is high-cardinality); the sort happens *inside* each group via
array_sort on collected structs, not a global orderBy. Everything is a
native Column expression (whole-stage codegen); no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ertransfer_spark.functions.text import clean_text, distinct_tokens, tokens


def canonicalize(
    transcripts: DataFrame,
    id_col: str = "conv_id",
    keep_turns: bool = False,
) -> DataFrame:
    """Returns (conv_id, agValue, tokens, token_set, n_turns, n_tokens
    [, turns]).

    - ``agValue``: cleaned turn texts joined in turn_idx order (A1 + W7).
    - ``tokens``/``token_set``: pinned tokenization of agValue (F1-F4 input).
    - ``turns``: the ordered struct array, kept only for the round-trip
      invariant test (per-turn text equality under stable turn ordering).
    """
    turns = F.array_sort(
        F.collect_list(F.struct(F.col("turn_idx"), F.col("role"), F.col("text"), F.col("tool")))
    )
    agg = transcripts.groupBy(id_col).agg(
        turns.alias("turns"),
        F.count(F.lit(1)).alias("n_turns"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )
    # Turns whose text cleans to '' (whitespace-only, literal 'nan') are
    # dropped BEFORE the join: clean_text already collapses internal
    # whitespace per turn, so joining only non-empty cleaned texts with ' '
    # yields a string with no repeated spaces — the same value the pandas
    # oracle's join-then-collapse produces and the streaming stateful path
    # emits (byte-parity across all three, tested with an empty-cleaning
    # turn in tests/test_canonicalize.py).
    rec = agg.withColumn(
        "agValue",
        F.array_join(
            F.filter(
                F.transform(F.col("turns"), lambda t: clean_text(t["text"])),
                lambda s: s != F.lit(""),
            ),
            " ",
        ),
    )
    from ertransfer_spark.functions.text import SPARK_BIGRAMS_SQL

    rec = (
        rec.withColumn("tokens", tokens(F.col("agValue")))
        .withColumn("token_set", distinct_tokens(F.col("agValue")))
        # word-bigram shingles: the selective blocking token for
        # small-vocabulary corpora (transcripts/logs) where unigram sets
        # are near-identical across conversations
        .withColumn("shingle_set", F.expr(SPARK_BIGRAMS_SQL.format(ts="tokens")))
        .withColumn("n_tokens", F.size(F.col("tokens")))
    )
    if not keep_turns:
        rec = rec.drop("turns")
    return rec


def canonicalize_table(
    records: DataFrame,
    id_col: str = "id",
    attr_cols: list[str] | None = None,
    clean: bool = False,
) -> DataFrame:
    """Flat string-attribute tables → the same canonical record contract
    as :func:`canonicalize` (id, agValue, tokens, token_set, shingle_set,
    n_tokens).

    This is the reference's own domain shape (tableA/tableB CSVs,
    datasets/README.md:5-12): agValue = all non-id attributes joined with
    ' ' after the clean-text contract (splitters/KNN-Join/
    splitter.py:45-52). Makes the engine payload-agnostic — the blocking /
    matching / clustering stages downstream are identical for transcripts
    and tabular records.

    ``clean=True`` is the reference's per-dataset ``clean`` switch
    (splitters/KNN-Join/splitter.py:16-19,40-43): stopword removal +
    Snowball English stemming (the vendored Porter2, the reference-parity
    stemmer) applied to the token stream, with agValue/token_set/
    shingle_set rebuilt from the cleaned tokens.
    """
    from ertransfer_spark.functions.text import SPARK_BIGRAMS_SQL

    attrs = attr_cols or [c for c in records.columns if c != id_col]
    # same empty-value filter as canonicalize(): attributes cleaning to ''
    # (NaN cells → 'nan' → '') don't leave double spaces in agValue
    ag = F.array_join(
        F.filter(
            F.array(*[clean_text(F.col(c).cast("string")) for c in attrs]),
            lambda s: s != F.lit(""),
        ),
        " ",
    )
    rec = records.select(
        F.col(id_col).alias("conv_id"), ag.alias("agValue")
    ).withColumn("tokens", tokens(F.col("agValue")))
    if clean:
        from ertransfer_spark.functions.porter2 import snowball_stem_tokens
        from ertransfer_spark.functions.text import remove_stopwords

        rec = rec.withColumn(
            "tokens", snowball_stem_tokens(remove_stopwords(F.col("tokens")))
        ).withColumn("agValue", F.array_join(F.col("tokens"), " "))
    rec = (
        rec.withColumn("token_set", F.array_distinct(F.col("tokens")))
        .withColumn("shingle_set", F.expr(SPARK_BIGRAMS_SQL.format(ts="tokens")))
        .withColumn("n_tokens", F.size(F.col("tokens")))
    )
    return rec


def explode_turns(records: DataFrame, id_col: str = "conv_id") -> DataFrame:
    """Inverse of canonicalize (for the invariant test): records built with
    keep_turns=True back to (conv_id, turn_idx, role, text, tool) rows in
    stable order."""
    return records.select(
        id_col, F.posexplode("turns").alias("pos", "turn")
    ).select(
        id_col,
        F.col("turn.turn_idx").alias("turn_idx"),
        F.col("turn.role").alias("role"),
        F.col("turn.text").alias("text"),
        F.col("turn.tool").alias("tool"),
    )
