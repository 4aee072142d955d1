"""Seeded inputs for the benchmark workloads.

Every input is a pure function of the workload seed: the same seed writes
the same rows, another seed writes other rows. The engine only ever sees
the parquet files written here.
"""

from __future__ import annotations

import random
from pathlib import Path

import pandas as pd

# Corpus sizes are set against the repo's recorded scale, ``bench.py`` at
# sf0.1, and the benchmark's run budget (48 runs within 3420 s). er_pipeline
# runs over 1000 conversations, half of sf0.1's 2000: at 2000 a run took
# about 85 s and the 48 runs would overrun the budget. The overlap corpora
# have a fifth of the rows of the sf0.1 ``documents`` table (5000), with its
# 10-100 words per document, so a run times two passes of about 8 s instead
# of one at 2500 rows. Each keeps the stage or query shares of the larger
# size within a few points (perfbench/README.md).
ER_CONVERSATIONS = 1000
ER_HOT_TOKEN = "boilerplate"   # a hot token in a few percent of conversations
ER_HOT_FRAC = 0.04

# overlap_*: documents per corpus and the near-duplicate share.
OVERLAP_DOCS = {"overlap_dense": 1000, "overlap_sparse": 1000}
NEAR_DUP_FRAC = 0.3
WORDS_PER_DOC = (10, 100)

# Head-heavy vocabulary in the style of the sf0.1 ``documents`` table:
# few distinct words, so the df-capped word-bigram dictionary stays far
# below ``dense_dict_max`` (40 words -> at most 1600 bigrams).
HEAD_VOCAB = [
    "a", "the", "key", "agg", "row", "scan", "slow", "fast", "table", "value",
    "part", "hash", "merge", "batch", "spark", "line", "sort", "window",
    "order", "data", "column", "join", "small", "big", "query", "stream",
    "filter", "group", "customer", "vector", "index", "cache", "shuffle",
    "budget", "token", "model", "score", "label", "salt", "skew",
]
LANGS = ["en", "en", "en", "de", "fr", "zh"]


def er_config(seed: int):
    """SynthConfig of the er_pipeline corpus (realistic TAIL_VOCAB mix plus
    a hot boilerplate token)."""
    from ertransfer_spark.synth import SynthConfig

    return SynthConfig(
        n_conversations=ER_CONVERSATIONS,
        seed=seed,
        hot_token=ER_HOT_TOKEN,
        hot_token_frac=ER_HOT_FRAC,
    )


def write_er_inputs(spark, seed: int, out_dir: Path) -> int:
    """Materialise the transcript corpus (A, B, golden matches) to parquet
    under ``out_dir``; returns the number of input turns (A + B)."""
    import pyarrow.parquet as pq

    from ertransfer_spark.synth import generate_spark

    ta, tb, matches = generate_spark(spark, er_config(seed))
    for name, df in (("turns_a", ta), ("turns_b", tb), ("matches", matches)):
        df.write.mode("overwrite").parquet(str(out_dir / name))
    # row counts from the parquet footers: no extra Spark job
    return sum(
        pq.read_metadata(f).num_rows
        for side in ("turns_a", "turns_b")
        for f in (out_dir / side).glob("*.parquet")
    )


def _vocab(workload: str) -> tuple[list[str], list[float]]:
    if workload == "overlap_dense":
        # Zipf-like weights: a few words carry most of the mass
        return HEAD_VOCAB, [1.0 / (r + 1) ** 0.8 for r in range(len(HEAD_VOCAB))]
    if workload == "overlap_sparse":
        from ertransfer_spark.synth import TAIL_VOCAB

        # a quarter of the draws hit the stop-word-like head, the rest the
        # 2048-word content tail, so the capped dictionary is large
        words = HEAD_VOCAB + TAIL_VOCAB
        head_w = 0.25 / len(HEAD_VOCAB)
        tail_w = 0.75 / len(TAIL_VOCAB)
        return words, [head_w] * len(HEAD_VOCAB) + [tail_w] * len(TAIL_VOCAB)
    raise ValueError(f"no document corpus for workload {workload!r}")


def documents(workload: str, seed: int, n_docs: int | None = None):
    """``documents``-schema corpus (doc_id, text, lang, source, n_chars) and
    its generated near-duplicate pairs (source doc_id, copy doc_id).

    A ``NEAR_DUP_FRAC`` share of the documents are perturbed copies of an
    earlier one (token dropout and substitution), so the dedup and join
    queries have real near-duplicate pairs to find."""
    n_docs = n_docs or OVERLAP_DOCS[workload]
    words, weights = _vocab(workload)
    rng = random.Random(seed * 7919 + len(workload))
    texts: list[str] = []
    dups: list[tuple[int, int]] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < NEAR_DUP_FRAC:
            src_id = rng.randrange(i)
            src = texts[src_id].split()
            toks = [
                rng.choices(words, weights)[0] if rng.random() < 0.05 else w
                for w in src
                if rng.random() >= 0.08
            ] or src[:1]
            dups.append((src_id, i))
        else:
            toks = rng.choices(words, weights, k=rng.randint(*WORDS_PER_DOC))
        texts.append(" ".join(toks))
    pdf = pd.DataFrame(
        {
            "doc_id": pd.Series(range(n_docs), dtype="int64"),
            "text": texts,
            "lang": [LANGS[rng.randrange(len(LANGS))] for _ in range(n_docs)],
            "source": [f"src{i % 7}" for i in range(n_docs)],
            "n_chars": pd.Series([len(t) for t in texts], dtype="int64"),
        }
    )
    return pdf, dups


def write_documents(workload: str, seed: int, out_dir: Path) -> tuple[int, list]:
    """Write ``documents.parquet`` under ``out_dir``; returns the row count
    and the generated near-duplicate pairs."""
    pdf, dups = documents(workload, seed)
    pdf.to_parquet(out_dir / "documents.parquet", index=False)
    return len(pdf), dups
