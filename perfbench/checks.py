"""Output checks: each overlap query against its DuckDB twin. Untimed; run
once per invocation on the warm-up pass's results."""

from __future__ import annotations

import pandas as pd

class CheckFailed(AssertionError):
    """An output differs from its reference."""


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pd.api.types.is_integer_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("int64")
    if len(pdf):
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort")
    return pdf.reset_index(drop=True)


def frame_mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the frames hold the same rows (any order, exact values),
    else a one-line description of the first difference."""
    a, b = _normalize(got), _normalize(want)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"{len(a)} rows != {len(b)} rows"
    for c in a.columns:
        av, bv = a[c], b[c]
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            av, bv = av.astype(float), bv.astype(float)
        else:
            av, bv = av.astype(str), bv.astype(str)
        neq = ~((av == bv) | (av.isna() & bv.isna()))
        if neq.any():
            i = int(neq.idxmax())
            return f"column {c}: {int(neq.sum())} values differ, e.g. {av[i]!r} != {bv[i]!r}"
    return None


def pair_f1(got: pd.DataFrame, want: pd.DataFrame) -> float:
    """Pairwise F1 of the (a_id, b_id) pairs in ``got`` against ``want``."""
    g = set(zip(got["a_id"], got["b_id"]))
    w = set(zip(want["a_id"], want["b_id"]))
    tp = len(g & w)
    return 2 * tp / (len(g) + len(w)) if g or w else 1.0
