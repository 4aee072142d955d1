"""Text-analysis functions for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

These extend the reference's text handling (agValue cleanup + tokenize,
/root/reference/splitters/KNN-Join/splitter.py:16-52) into the corpus-QA
operators a 100 TB data pipeline needs. Everything is a native Column
expression (whole-stage codegen); each has an exact DuckDB-SQL twin kept
in this module so the oracle can verify values bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ertransfer_spark.functions.text import (
    DUCKDB_NORM,
    DUCKDB_POLY_HASH_SQL,
    DUCKDB_TOKENS,
    SPARK_POLY_HASH_SQL,
    normalize,
    tokens,
)

# Pinned per-language function-word lists (tiny, public, deterministic).
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "for", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "auf"],
    "fr": ["le", "la", "les", "et", "est", "une", "dans", "pour", "que", "pas"],
    "es": ["el", "la", "los", "y", "es", "una", "en", "por", "que", "no"],
}
LANG_ORDER = ["en", "de", "fr", "es"]  # deterministic tie order


def _marker_hits(toks: Column, markers: list[str]) -> Column:
    lits = F.array(*[F.lit(m) for m in markers])
    return F.size(F.filter(toks, lambda t: F.array_contains(lits, t)))


def lang_id(text_col: Column | str) -> Column:
    """Heuristic language ID: argmax marker-hit count, 'und' if all zero.

    Ties resolve in LANG_ORDER (en > de > fr > es) — pinned so any engine
    reproduces the same labels.

    Both the token array and the per-language hit counts are LET-BOUND
    (1-element-array transform): the when-fold references each hit count
    ~2^k times and each count re-tokenizes, so the direct form re-ran the
    split/filter tokenization dozens of times per row (no lambda-body CSE
    in Catalyst). Values identical — same fold, same tie order.
    """
    def fold(hs: Column) -> Column:
        # left-to-right fold with strict ">": the earliest language in
        # LANG_ORDER wins ties (same fold as lang_id_duckdb). hs[i] is a
        # cheap ref into the bound hit-count array.
        best = F.lit("und")
        best_n = F.lit(0)
        for i, lang in enumerate(LANG_ORDER):
            cond = hs[i] > best_n
            best = F.when(cond, F.lit(lang)).otherwise(best)
            best_n = F.when(cond, hs[i]).otherwise(best_n)
        return best

    def hits(ts: Column) -> Column:
        return F.array(*[_marker_hits(ts, LANG_MARKERS[lang]) for lang in LANG_ORDER])

    return F.transform(
        F.array(tokens(text_col)),
        lambda ts: F.transform(F.array(hits(ts)), fold)[0],
    )[0]


def lang_id_duckdb(col: str) -> str:
    """DuckDB expression mirroring :func:`lang_id` exactly (same fold)."""
    toks = DUCKDB_TOKENS.format(col=col)
    hit = {
        lang: (
            f"len(list_filter({toks}, t -> list_contains("
            + "["
            + ",".join(f"'{m}'" for m in LANG_MARKERS[lang])
            + "], t)))"
        )
        for lang in LANG_ORDER
    }
    expr = "'und'"
    best_n = "0"
    for lang in LANG_ORDER:
        h = hit[lang]
        expr = f"CASE WHEN {h} > {best_n} THEN '{lang}' ELSE {expr} END"
        best_n = f"greatest({h}, {best_n})"
    return expr


def quality_features(text_col: Column | str) -> dict[str, Column]:
    """Deterministic quality signals: n_chars, n_tokens, mean token length,
    alnum ratio, stopword('the'-list) ratio. All double, rounded by caller."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    c = F.coalesce(c, F.lit(""))
    toks = tokens(c)
    n_tok = F.size(toks)
    norm = normalize(c)
    alnum = F.length(F.regexp_replace(c, "[^a-zA-Z0-9]", ""))
    return {
        "n_chars": F.length(c).cast("long"),
        "n_tokens": n_tok.cast("long"),
        "mean_tok_len": F.when(
            n_tok > 0, F.length(F.regexp_replace(norm, " ", "")) / n_tok.cast("double")
        ).otherwise(F.lit(0.0)),
        "alnum_ratio": F.when(
            F.length(c) > 0, alnum / F.length(c).cast("double")
        ).otherwise(F.lit(0.0)),
    }


QUALITY_DUCKDB = {
    "n_chars": "CAST(length({c}) AS BIGINT)",
    "n_tokens": "CAST(len(" + DUCKDB_TOKENS.format(col="{c}") + ") AS BIGINT)",
    "mean_tok_len": (
        "CASE WHEN len(" + DUCKDB_TOKENS.format(col="{c}") + ") > 0 THEN "
        "length(replace(" + DUCKDB_NORM.format(col="{c}") + ", ' ', '')) "
        "/ CAST(len(" + DUCKDB_TOKENS.format(col="{c}") + ") AS DOUBLE) ELSE 0.0 END"
    ),
    "alnum_ratio": (
        "CASE WHEN length({c}) > 0 THEN "
        "CAST(length(regexp_replace({c}, '[^a-zA-Z0-9]', '', 'g')) AS DOUBLE) "
        "/ length({c}) ELSE 0.0 END"
    ),
}

# BPE-ish token pattern: alnum runs OR single non-alnum-non-space chars.
BPE_PATTERN = "[a-z0-9]+|[^a-z0-9 ]"


def token_counts(text_col: Column | str) -> dict[str, Column]:
    """Whitespace token count + BPE-ish regex token count (both over
    lower()). Cheap proxies for tokenizer budgeting at corpus scale."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    low = F.lower(F.coalesce(c, F.lit("")))
    ws = F.size(F.filter(F.split(F.trim(low), r"\s+"), lambda t: t != F.lit("")))
    bpe = F.size(F.expr(f"regexp_extract_all(lower(coalesce({_sql_name(text_col)}, '')), '{BPE_PATTERN}', 0)"))
    return {"n_ws_tokens": ws.cast("long"), "n_bpe_tokens": bpe.cast("long")}


def _sql_name(col: Column | str) -> str:
    if isinstance(col, str):
        return col
    raise ValueError("token_counts needs a column NAME for the regexp_extract_all expr")


TOKEN_COUNTS_DUCKDB = {
    "n_ws_tokens": (
        "CAST(len(list_filter(regexp_split_to_array(trim(lower(coalesce({c}, ''))), '\\s+'), "
        "t -> t <> '')) AS BIGINT)"
    ),
    "n_bpe_tokens": (
        "CAST(len(regexp_extract_all(lower(coalesce({c}, '')), '" + BPE_PATTERN + "')) AS BIGINT)"
    ),
}


def doc_fingerprint(text_col: str) -> Column:
    """Pinned polynomial hash (``functions.text.SPARK_POLY_HASH_SQL``) of
    the normalized text (document fingerprint). Empty text → 7."""
    norm_sql = (
        f"trim(regexp_replace(lower(coalesce({text_col}, '')), '[^a-z0-9]+', ' '))"
    )
    # LET-BIND the normalized string (1-element-array transform): Catalyst
    # does no CSE inside lambda bodies, so substituting {norm_sql} into the
    # fold re-runs the regex normalization once PER CHARACTER (O(len²)/row).
    # Values identical; normalization evaluates once per row.
    return F.expr(f"transform(array({norm_sql}), s -> {SPARK_POLY_HASH_SQL.format(s='s')})[0]")


def doc_fingerprint_duckdb(col: str) -> str:
    return DUCKDB_POLY_HASH_SQL.format(s=DUCKDB_NORM.format(col=col))
