"""Text normalization / tokenization Column expressions (SURVEY §2.7 F1-F4).

Reference semantics being reproduced (citations into /root/reference):
- char cleanup: tab→space and literal 'nan' stripping,
  splitters/KNN-Join/splitter.py:30-33,46-50  → :func:`clean_text`
- tokenize (nltk word_tokenize analog), splitters/KNN-Join/splitter.py:17
  → :func:`tokens` — we pin a deterministic regex tokenizer (lower +
  split on non-alphanumeric) so the Spark plan, the pandas oracle, and
  the DuckDB oracle SQL byte-match.
- stopword removal + stemming, splitters/KNN-Join/splitter.py:16-19,40-43
  → :func:`remove_stopwords`, :func:`stem_tokens` (suffix-stripper; nltk
  is not in the image so the stemmer is our own pinned spec).
- q-gram generation (q∈2..5, set or multiset),
  splitters/KNN-Join/splitter.py:72-78, settings.py:2-11 → :func:`qgrams`.

Everything here is a native Column expression (whole-stage codegen);
the only Python is the stemmer's pandas UDF, Arrow-batched, and
:func:`poly_hash_np`, the numpy twin of the pinned polynomial hash that
the MinHash kernel calls per Arrow batch.

The module also exports the DuckDB-SQL equivalents used by
``__spark_entry__.oracle_sql`` so tokenization parity is kept in ONE place.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- the pinned tokenization spec ------------------------------------------
# lower() then split on runs of non-alphanumeric, drop empties.
TOKEN_SPLIT_RE = "[^a-z0-9]+"

# DuckDB expression templates ({col} is substituted). Keeping them beside the
# Spark expressions is what guarantees oracle parity.
DUCKDB_TOKENS = (
    "list_filter(regexp_split_to_array(lower({col}), '[^a-z0-9]+'), t -> t <> '')"
)
DUCKDB_NORM = "trim(regexp_replace(lower({col}), '[^a-z0-9]+', ' ', 'g'))"

# Small pinned English stopword list (public, the usual top function words).
STOPWORDS = [
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "from",
    "has", "he", "in", "is", "it", "its", "of", "on", "or", "that", "the",
    "to", "was", "were", "will", "with", "this", "i", "you", "not", "they",
]


def clean_text(col: Column | str) -> Column:
    """Tab→space, strip literal 'nan', collapse whitespace, trim.

    Parity: splitters/KNN-Join/splitter.py:30-33 (tab replace) and :46-50
    ('nan' strip after str-cast of NaN cells).
    """
    c = F.col(col) if isinstance(col, str) else col
    c = F.coalesce(c, F.lit(""))
    c = F.regexp_replace(c, "\t", " ")
    c = F.regexp_replace(c, r"\bnan\b", "")
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return c


def normalize(col: Column | str) -> Column:
    """lower + non-alphanumeric→space + collapse + trim. The canonical
    string every similarity/tokenization derives from (mirrors
    DUCKDB_NORM exactly)."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.lower(F.coalesce(c, F.lit("")))
    c = F.regexp_replace(c, "[^a-z0-9]+", " ")
    return F.trim(c)


def tokens(col: Column | str) -> Column:
    """Array of word tokens per the pinned spec (mirrors DUCKDB_TOKENS)."""
    c = F.col(col) if isinstance(col, str) else col
    arr = F.split(F.lower(F.coalesce(c, F.lit(""))), TOKEN_SPLIT_RE)
    return F.filter(arr, lambda t: t != F.lit(""))


def distinct_tokens(col: Column | str) -> Column:
    return F.array_distinct(tokens(col))


def remove_stopwords(tokens_col: Column, stopwords: list[str] | None = None) -> Column:
    """Drop stopwords from a token array (parity: splitter.py:16-19,40-43).

    Uses array_except against a literal array — stays JVM-side; at scale the
    literal is embedded in the plan (tiny), no broadcast needed.
    """
    sw = F.array(*[F.lit(s) for s in (stopwords or STOPWORDS)])
    return F.array_except(tokens_col, sw)


def stem_tokens(tokens_col: Column) -> Column:
    """Pinned light suffix-stripper over a token array, JVM-side.

    The reference uses nltk Snowball (splitters/KNN-Join/splitter.py:16-19);
    nltk is not in this image so the *spec* here is our own, shared verbatim
    with the pandas oracle (oracle/pandas_oracle.py:stem). Rules applied
    longest-first, once: sses→ss, ies→i, ing→'', ed→'', s→'' (len guards).
    """
    def rules(t: Column) -> Column:
        n = F.length(t)
        return (
            F.when((n > 4) & t.endswith("sses"), t.substr(F.lit(1), n - 2))
            .when((n > 4) & t.endswith("ies"), t.substr(F.lit(1), n - 2))
            .when((n > 5) & t.endswith("ing"), t.substr(F.lit(1), n - 3))
            .when((n > 4) & t.endswith("ed"), t.substr(F.lit(1), n - 2))
            .when((n > 3) & t.endswith("s") & ~t.endswith("ss"), t.substr(F.lit(1), n - 1))
            .otherwise(t)
        )

    return F.transform(tokens_col, rules)


def qgrams(col: Column | str, q: int = 3, multiset: bool = False) -> Column:
    """Character q-grams of the normalized string (F4).

    Parity: pyJedAI tokenization='qgrams'[,'_multiset'] with q∈{2..5}
    (splitters/KNN-Join/splitter.py:72-78, settings.py:2-11). Set semantics
    unless ``multiset``. Pure Column expr — sequence + substr transform —
    so it codegens; no UDF.

    The normalized string is LET-BOUND via a 1-element-array transform:
    Catalyst has no common-subexpression elimination inside lambda bodies,
    so referencing ``normalize(col)`` directly from the per-gram lambda
    would re-run the regexp normalization once PER GRAM (O(len²) per row —
    measured ~10× wall on prose columns). Binding it to a lambda variable
    evaluates it exactly once per row; output values are identical.
    """
    def body(s: Column) -> Column:
        n = F.length(s)
        return F.when(
            n < q, F.when(n > 0, F.array(s)).otherwise(F.array().cast("array<string>"))
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), n - F.lit(q - 1)),
                lambda i: s.substr(i, F.lit(q)),
            )
        )

    grams = F.transform(F.array(normalize(col)), body)[0]
    return grams if multiset else F.array_distinct(grams)


# --- word n-gram shingles (the blocking token for repetitive corpora) ------
# Spark SQL array indexing is 0-based; DuckDB list indexing is 1-based —
# both expressions below emit exactly size-1 bigrams / size-2 trigrams.
# The Spark templates LET-BIND their token array ({ts} appears once, in
# ``transform(array({ts}), _ts -> …)[0]``): Catalyst has no common-
# subexpression elimination inside lambda bodies, and when the shingles feed
# an ``explode`` the inferred ``size(…) > 0`` filter is pushed below the
# projection that names the tokens, which substitutes the whole tokenizer
# into the per-shingle lambda — ~2·n_tokens tokenizations per row. Bound to
# a lambda variable, the tokens are computed once per row, whatever {ts} is.
SPARK_TOKENS_SQL = "filter(split(lower(coalesce({col}, '')), '[^a-z0-9]+'), t -> t != '')"
DUCKDB_TOKENS_SQL = (
    "list_filter(regexp_split_to_array(lower(coalesce({col}, '')), '[^a-z0-9]+'), t -> t <> '')"
)
SPARK_BIGRAMS_SQL = (
    "transform(array({ts}), _ts -> array_distinct(if(size(_ts) < 2, slice(_ts, 1, 0), "
    "transform(sequence(1, size(_ts) - 1), i -> concat(_ts[i-1], ' ', _ts[i])))))[0]"
)
DUCKDB_BIGRAMS_SQL = (
    "list_distinct(list_transform(range(1, greatest(len({ts}), 1)), "
    "i -> {ts}[i] || ' ' || {ts}[i+1]))"
)
SPARK_TRIGRAMS_SQL = (
    "transform(array({ts}), _ts -> array_distinct(if(size(_ts) < 3, slice(_ts, 1, 0), "
    "transform(sequence(1, size(_ts) - 2), i -> concat(_ts[i-1], ' ', _ts[i], ' ', _ts[i+1])))))[0]"
)
DUCKDB_TRIGRAMS_SQL = (
    "list_distinct(list_transform(range(1, greatest(len({ts}) - 1, 1)), "
    "i -> {ts}[i] || ' ' || {ts}[i+1] || ' ' || {ts}[i+2]))"
)


# --- the pinned polynomial string hash --------------------------------------
# th(s) = fold over the chars of s of (h*31 + ascii(c)) mod 2^31-1, seed 7.
# Integer arithmetic only, so Spark, DuckDB and Python agree bit-for-bit:
# the portable MinHash, SimHash, document fingerprints, the seeded IVF cells
# and the portable LSH planes all hash with it, and so does the train/valid/
# test split. Spark folds over split(s, ''), one element per code point (a
# third cheaper than indexing each one with substring); split('', '') is
# [''], so its template guards '' (→ 7, as DuckDB's empty fold gives).
POLY_HASH_MOD = 2147483647
SPARK_POLY_HASH_SQL = (
    "case when length({s}) = 0 then 7L else "
    f"aggregate(split({{s}}, ''), 7L, (h, c) -> (h * 31 + ascii(c)) % {POLY_HASH_MOD}L) end"
)
DUCKDB_POLY_HASH_SQL = (
    "list_reduce(list_prepend(CAST(7 AS BIGINT), "
    "list_transform(range(1, 1 + length({s})), i -> CAST(ascii(substr({s}, i, 1)) AS BIGINT))), "
    f"(h, c) -> (h * 31 + c) % {POLY_HASH_MOD})"
)


def poly_hash(s: str) -> int:
    """Python twin of ``SPARK_POLY_HASH_SQL`` / ``DUCKDB_POLY_HASH_SQL``."""
    h = 7
    for ch in s:
        h = (h * 31 + ord(ch)) % POLY_HASH_MOD
    return h


def poly_hash_np(strings):
    """:func:`poly_hash` of every string of a null-free ``pyarrow`` string
    array → int64 ndarray, vectorized over the array by character position.

    The strings' UTF-8 bytes are decoded once into one code-point array;
    strings are visited longest first, so step p updates the prefix of
    strings longer than p and the whole loop costs one pass over the
    characters. h < 2^31 keeps h·31 + code point far inside int64."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(strings)
    if n == 0:
        return np.empty(0, np.int64)
    lens = pc.utf8_length(strings).to_numpy(zero_copy_only=False).astype(np.int64)
    wide = pa.types.is_large_string(strings.type)
    offs = np.frombuffer(
        strings.buffers()[1], np.int64 if wide else np.int32, n + 1, strings.offset * (8 if wide else 4)
    )
    data = strings.buffers()[2]
    text = str(memoryview(data)[offs[0]:offs[-1]], "utf-8") if data is not None else ""
    cps = np.frombuffer(text.encode("utf-32-le"), np.uint32).astype(np.int64)
    order = np.argsort(-lens, kind="stable")
    starts = (np.cumsum(lens) - lens)[order]
    asc = lens[order][::-1]
    h = np.full(n, 7, np.int64)
    for p in range(int(asc[-1])):
        k = n - int(np.searchsorted(asc, p, side="right"))  # strings longer than p
        h[:k] = (h[:k] * 31 + cps[starts[:k] + p]) % POLY_HASH_MOD
    out = np.empty(n, np.int64)
    out[order] = h
    return out


def word_shingles(text_col: str, n: int = 2) -> Column:
    """Distinct word n-gram shingles of a text column (n ∈ {2, 3}).

    The standard MinHash shingling unit: for corpora with small
    vocabularies (agent transcripts, log-like text) unigram token sets are
    near-identical across documents, so blocking/dedup tokens must be
    shingles to stay selective.

    The tokenize expression is substituted into the shingle template
    directly: the template let-binds its token array itself, so the
    tokenization runs once per row."""
    toks = SPARK_TOKENS_SQL.format(col=text_col)
    tpl = {2: SPARK_BIGRAMS_SQL, 3: SPARK_TRIGRAMS_SQL}[n]
    return F.expr(tpl.format(ts=toks))


def serialize_pair(a: Column | str, b: Column | str, sep: str = " [SEP] ") -> Column:
    """F9 (string part): one-string pair serialization — dader/unicorn join
    the two records' agValues with ``' [SEP] '`` into a single ``pairs``
    column (methods/dader/transform.py:24-26, methods/unicorn/
    transform.py:26-31). The wordpiece encode itself is the (out-of-scope)
    transformer path; this is the seam a fine-tuned LM would consume."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.concat_ws(sep, F.coalesce(ca, F.lit("")), F.coalesce(cb, F.lit("")))


def instruction_template(a: Column | str, b: Column | str) -> Column:
    """F12: unicorn's instruction templating —
    ``"does X [SEP] matches with Y"`` (methods/unicorn/transform.py:26-28)."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.format_string("does %s [SEP] matches with %s", ca, cb)


def duckdb_qgrams_sql(col: str, q: int = 3, multiset: bool = False) -> str:
    """DuckDB expression mirroring :func:`qgrams` (for oracle_sql)."""
    norm = DUCKDB_NORM.format(col=col)
    grams = (
        f"CASE WHEN length({norm}) < {q} THEN "
        f"  CASE WHEN length({norm}) > 0 THEN [{norm}] ELSE []::VARCHAR[] END "
        f"ELSE list_transform(range(1, length({norm}) - {q - 2}), i -> substr({norm}, i, {q})) END"
    )
    if not multiset:
        grams = f"list_distinct({grams})"
    return grams
