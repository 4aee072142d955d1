"""Single-node pandas oracle re-implementing the reference semantics.

This is the test-side ground truth (SURVEY §5): same tokenization spec,
same similarity formulas, same greedy order and tie-breaks as the Spark
engine, implemented the way the reference does it — eager pandas, Python
sets, sequential greedy scans — so the distributed plans can be asserted
equal to the sequential semantics.

Reference citations: agValue concat splitters/KNN-Join/splitter.py:45-52;
golden-set labels :88-91; greedy UMC clustering/Probabilities/
clustering.py:42-67; EC :7-40; pairwise P/R/F1 :32-37.
"""

from __future__ import annotations

import re
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd

TOKEN_RE = re.compile(r"[^a-z0-9]+")


def clean_text(s: str) -> str:
    if s is None or (isinstance(s, float) and pd.isna(s)):
        s = ""
    s = str(s).replace("\t", " ")
    s = re.sub(r"\bnan\b", "", s)
    return re.sub(r"\s+", " ", s).strip()


def tokenize(s: str) -> list[str]:
    return [t for t in TOKEN_RE.split(str(s).lower()) if t]


def canonicalize(transcripts: pd.DataFrame) -> pd.DataFrame:
    """transcripts → (conv_id, agValue, token_set) — ordered turn agg."""
    rows = []
    for conv_id, g in transcripts.sort_values(["conv_id", "turn_idx"]).groupby("conv_id", sort=True):
        # join only non-empty cleaned turns — clean_text collapses internal
        # whitespace per turn, so no post-join collapse is needed (and a
        # Python \s collapse over the joined string would diverge from the
        # Spark side on non-ASCII whitespace: Python \s is Unicode-aware,
        # Java's is not)
        ag = " ".join(c for c in (clean_text(t) for t in g["text"]) if c)
        rows.append({"conv_id": conv_id, "agValue": ag, "token_set": frozenset(tokenize(ag))})
    return pd.DataFrame(rows)


def jaccard(a: frozenset, b: frozenset) -> float:
    if not a and not b:
        return 0.0
    inter = len(a & b)
    union = len(a) + len(b) - inter
    return inter / union if union else 0.0


def round6(x: float) -> float:
    """Spark's ``round(x, 6)``: HALF_UP on the shortest decimal form."""
    return float(Decimal(repr(float(x))).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def top_k_join(recs_a: pd.DataFrame, recs_b: pd.DataFrame, k: int, min_sim: float = 0.0) -> pd.DataFrame:
    """Brute-force jaccard top-K per A record, ranked (round(sim, 6) desc,
    b_id asc)."""
    out = []
    b_list = list(recs_b[["conv_id", "token_set"]].itertuples(index=False))
    for a in recs_a.itertuples(index=False):
        sims = []
        for b_id, b_toks in b_list:
            s = jaccard(a.token_set, b_toks)
            if s > 0 and s >= min_sim:
                sims.append((s, b_id))
        sims.sort(key=lambda x: (-round6(x[0]), x[1]))
        for s, b_id in sims[:k]:
            out.append({"a_id": a.conv_id, "b_id": b_id, "sim": s})
    return pd.DataFrame(out, columns=["a_id", "b_id", "sim"])


def umc_greedy(preds: pd.DataFrame, threshold: float = 0.5) -> pd.DataFrame:
    """Sequential greedy 1-1 matching, verbatim reference semantics
    (clustering.py:42-67: breaks on prob < threshold, so the boundary is
    INCLUSIVE) with the pinned total order (prob DESC, a_id ASC, b_id ASC)."""
    d = preds[preds["prob"] >= threshold].sort_values(
        ["prob", "a_id", "b_id"], ascending=[False, True, True]
    )
    seen_a: set = set()
    seen_b: set = set()
    rows = []
    for r in d.itertuples(index=False):
        if r.a_id in seen_a or r.b_id in seen_b:
            continue
        seen_a.add(r.a_id)
        seen_b.add(r.b_id)
        rows.append({"a_id": r.a_id, "b_id": r.b_id, "prob": r.prob})
    return pd.DataFrame(rows, columns=["a_id", "b_id", "prob"])


def ec_reciprocal(preds: pd.DataFrame, threshold: float = 0.5, limit: int = 1) -> pd.DataFrame:
    """Reciprocal top-limit (clustering.py:7-40), same tie-breaks as engine."""
    d = preds[preds["prob"] > threshold]
    top_a = set()
    for a_id, g in d.groupby("a_id"):
        g = g.sort_values(["prob", "b_id"], ascending=[False, True]).head(limit)
        top_a.update(zip(g["a_id"], g["b_id"]))
    top_b = set()
    for b_id, g in d.groupby("b_id"):
        g = g.sort_values(["prob", "a_id"], ascending=[False, True]).head(limit)
        top_b.update(zip(g["a_id"], g["b_id"]))
    both = top_a & top_b
    out = d[[tuple(x) in both for x in zip(d["a_id"], d["b_id"])]]
    return out[["a_id", "b_id", "prob"]].reset_index(drop=True)


def connected_components(pairs: pd.DataFrame) -> dict:
    """Union-find over namespaced pair ids → {node: min-id cluster label}."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(x, y):
        for n in (x, y):
            if n not in parent:
                parent[n] = n
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[max(rx, ry)] = min(rx, ry)

    for r in pairs.itertuples(index=False):
        union(f"a#{r.a_id}", f"b#{r.b_id}")
    comp = defaultdict(list)
    for n in parent:
        comp[find(n)].append(n)
    out = {}
    for root, members in comp.items():
        label = min(members)
        for m in members:
            out[m] = label
    return out

