"""Deterministic synthetic transcript corpora (FIXTURES.md §1).

Two corpora A/B of multi-turn transcripts (conv_id, turn_idx, role, text,
tool, ts) generated from a shared pool of "true" conversations; a known
subset of A is duplicated into B under controlled perturbations (token
dropout, synonym swap, turn truncation, whitespace noise) so the golden
``matches(a_conv_id, b_conv_id)`` is exact — the datasets/*/matches.csv
analog (/root/reference/datasets/README.md:10-12).

Everything is seeded stdlib ``random`` — no external data, stable across
runs and machines. Skew knobs (hot token, mega-conversations) exercise
salting and per-block budgets.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from datetime import datetime, timedelta

import pandas as pd

VOCAB = [
    "deploy", "rollback", "cluster", "pipeline", "query", "schema", "token",
    "spark", "shuffle", "partition", "join", "index", "cache", "stream",
    "batch", "vector", "model", "train", "score", "label", "bucket", "merge",
    "commit", "snapshot", "lineage", "metric", "latency", "throughput",
    "error", "retry", "timeout", "config", "driver", "executor", "memory",
    "disk", "network", "parquet", "iceberg", "table", "column", "filter",
    "window", "aggregate", "broadcast", "salt", "skew", "budget", "checkpoint",
]
SYNONYMS = {
    "error": "failure", "retry": "reattempt", "query": "request",
    "deploy": "release", "cluster": "fleet", "latency": "delay",
    "model": "estimator", "train": "fit", "merge": "combine",
}

# Content-word tail: 2048 deterministic pseudo-words. Real transcripts have
# thousands of distinct content tokens; a head-only vocabulary makes every
# record share every blocking token (all-pairs blow-up), which is neither
# realistic nor scalable to measure against. Word draws mix ~35% head
# (stop-word-like, exercises hot-token df-pruning) with 65% tail
# (selective content words that make blocking sub-quadratic).
_SYLLABLES = [
    "ka", "to", "mi", "ra", "ne", "su", "lo", "ve",
    "da", "pi", "zu", "fe", "go", "ri", "ta", "mo",
]
TAIL_VOCAB = [
    a + b + c for a in _SYLLABLES for b in _SYLLABLES for c in _SYLLABLES[:8]
]
ROLES = ["user", "assistant", "tool"]
TOOLS = [None, "search", "bash", "python", "browser"]
EPOCH = datetime(2026, 1, 1)


@dataclass
class SynthConfig:
    n_conversations: int = 200
    match_fraction: float = 0.4      # fraction of A duplicated into B
    extra_b_fraction: float = 0.3    # B-only conversations, relative to A
    min_turns: int = 3
    max_turns: int = 8
    turn_len: tuple = (4, 12)        # words per turn
    dropout: float = 0.08            # per-token dropout in perturbed copies
    synonym_p: float = 0.15
    truncate_p: float = 0.25         # chance of dropping the last turn
    hot_token: str | None = None     # injected into this fraction of convs...
    hot_token_frac: float = 0.0      # ...to create a mega-block
    mega_conv_turns: int = 0         # if >0, make conv 0 this many turns
    head_fraction: float = 0.35      # P(word drawn from the hot head vocab)
    seed: int = 42


def _make_conv(rng: random.Random, conv_id: str, cfg: SynthConfig, hot: bool) -> list[dict]:
    n_turns = rng.randint(cfg.min_turns, cfg.max_turns)
    if cfg.mega_conv_turns and conv_id.endswith("_0"):
        n_turns = cfg.mega_conv_turns
    rows = []
    ts = EPOCH + timedelta(seconds=rng.randint(0, 10_000_000))
    for t in range(n_turns):
        n_words = rng.randint(*cfg.turn_len)
        words = [
            rng.choice(VOCAB) if rng.random() < cfg.head_fraction else rng.choice(TAIL_VOCAB)
            for _ in range(n_words)
        ]
        if hot and cfg.hot_token:
            words.insert(rng.randrange(len(words) + 1), cfg.hot_token)
        role = ROLES[t % len(ROLES)]
        rows.append(
            {
                "conv_id": conv_id,
                "turn_idx": t,
                "role": role,
                "text": " ".join(words),
                "tool": rng.choice(TOOLS) if role == "tool" else None,
                "ts": ts + timedelta(seconds=30 * t),
            }
        )
    return rows


def _perturb(rng: random.Random, rows: list[dict], new_id: str, cfg: SynthConfig) -> list[dict]:
    out = []
    keep_turns = rows
    if len(rows) > cfg.min_turns and rng.random() < cfg.truncate_p:
        keep_turns = rows[:-1]
    for r in keep_turns:
        words = []
        for w in r["text"].split():
            if rng.random() < cfg.dropout:
                continue
            if w in SYNONYMS and rng.random() < cfg.synonym_p:
                w = SYNONYMS[w]
            words.append(w)
        if not words:
            words = r["text"].split()[:1]
        text = " ".join(words)
        if rng.random() < 0.1:
            text = text.replace(" ", "  ", 1)  # whitespace noise
        out.append({**r, "conv_id": new_id, "text": text})
    return out


def generate(cfg: SynthConfig | None = None):
    """Returns (transcripts_a, transcripts_b, matches) pandas DataFrames.

    matches has columns (a_conv_id, b_conv_id).
    """
    cfg = cfg or SynthConfig()
    rng = random.Random(cfg.seed)
    a_rows: list[dict] = []
    b_rows: list[dict] = []
    matches: list[dict] = []

    n_hot = int(cfg.n_conversations * cfg.hot_token_frac)
    for i in range(cfg.n_conversations):
        conv_id = f"a_{i}"
        hot = i < n_hot
        conv = _make_conv(rng, conv_id, cfg, hot)
        a_rows.extend(conv)
        if rng.random() < cfg.match_fraction:
            b_id = f"b_{i}"
            b_rows.extend(_perturb(rng, conv, b_id, cfg))
            matches.append({"a_conv_id": conv_id, "b_conv_id": b_id})

    n_extra = int(cfg.n_conversations * cfg.extra_b_fraction)
    for i in range(n_extra):
        b_id = f"b_x{i}"
        b_rows.extend(_make_conv(rng, b_id, cfg, hot=False))

    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    ta = pd.DataFrame(a_rows, columns=cols)
    tb = pd.DataFrame(b_rows, columns=cols)
    m = pd.DataFrame(matches, columns=["a_conv_id", "b_conv_id"])
    return ta, tb, m


def _conv_rng(seed: int, tag: int, i: int) -> random.Random:
    """Per-conversation RNG stream: a pure arithmetic function of
    (seed, tag, index) — no str hashing (PYTHONHASHSEED-proof), no shared
    sequential stream — so any subset of conversations can be synthesized
    on any executor in any order and the output is bit-identical."""
    return random.Random((seed * 1_000_003 + i) * 64 + tag)


def generate_spark(spark, cfg: SynthConfig | None = None):
    """Distributed twin of :func:`generate`: the corpus is synthesized ON
    EXECUTORS (``mapInPandas`` over ``spark.range``) instead of on the
    driver, so no driver-side materialization or Arrow ingest happens at
    any scale — at the 10^12-turn target the input table obviously cannot
    transit the driver, and the scaling bench's input stage should scale
    like the table scan it stands in for.

    Statistically the same corpus family as :func:`generate` (same vocab
    mix, perturbation model, match/extra fractions) but NOT row-identical
    to it: the pandas generator threads one sequential RNG through every
    conversation, which is inherently serial; here each conversation gets
    its own :func:`_conv_rng` stream, making the output a pure function of
    (seed, conv index) — identical at any parallelism/partitioning
    (asserted in tests).

    Returns (turns_a, turns_b, matches) Spark DataFrames with the
    input_hint schema (conv_id, turn_idx, role, text, tool, ts) /
    (a_conv_id, b_conv_id).
    """
    import pandas as _pd

    cfg = cfg or SynthConfig()
    n = cfg.n_conversations
    n_hot = int(n * cfg.hot_token_frac)
    n_extra = int(n * cfg.extra_b_fraction)
    turn_schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    parallelism = spark.sparkContext.defaultParallelism
    parts = max(parallelism * 2, 8)

    def _is_match(i: int) -> bool:
        return _conv_rng(cfg.seed, 1, i).random() < cfg.match_fraction

    def _turns_pdf(rows: list[dict]) -> _pd.DataFrame:
        pdf = _pd.DataFrame(
            rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        )
        pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
        return pdf

    def gen_a(batches):
        for pdf in batches:
            rows: list[dict] = []
            for i in pdf["id"]:
                i = int(i)
                rows.extend(
                    _make_conv(_conv_rng(cfg.seed, 0, i), f"a_{i}", cfg, i < n_hot)
                )
            yield _turns_pdf(rows)

    def gen_b(batches):
        for pdf in batches:
            rows: list[dict] = []
            for i in pdf["id"]:
                i = int(i)
                if i < n:
                    if not _is_match(i):
                        continue
                    # re-derive conv a_i bit-identically from its own stream,
                    # then perturb with an independent stream
                    conv = _make_conv(_conv_rng(cfg.seed, 0, i), f"a_{i}", cfg, i < n_hot)
                    rows.extend(_perturb(_conv_rng(cfg.seed, 2, i), conv, f"b_{i}", cfg))
                else:  # B-only conversations
                    j = i - n
                    rows.extend(_make_conv(_conv_rng(cfg.seed, 3, j), f"b_x{j}", cfg, False))
            yield _turns_pdf(rows)

    def gen_m(batches):
        for pdf in batches:
            ids = [int(i) for i in pdf["id"] if _is_match(int(i))]
            yield _pd.DataFrame(
                {"a_conv_id": [f"a_{i}" for i in ids], "b_conv_id": [f"b_{i}" for i in ids]}
            )

    base = spark.range(n).repartition(parts)
    turns_a = base.mapInPandas(gen_a, schema=turn_schema)
    turns_b = spark.range(n + n_extra).repartition(parts).mapInPandas(gen_b, schema=turn_schema)
    matches = base.mapInPandas(gen_m, schema="a_conv_id string, b_conv_id string")
    return turns_a, turns_b, matches


def to_spark(spark, pdf: pd.DataFrame):
    from pyspark.sql.types import (
        IntegerType, StringType, StructField, StructType, TimestampType,
    )

    schema = StructType(
        [
            StructField("conv_id", StringType()),
            StructField("turn_idx", IntegerType()),
            StructField("role", StringType()),
            StructField("text", StringType()),
            StructField("tool", StringType()),
            StructField("ts", TimestampType()),
        ]
    )
    return spark.createDataFrame(pdf, schema=schema)
