"""Batch-vectorized Jaro-Winkler for <=64-char strings (exact).

The Jaro match loop — for each ``s1[i]``, claim the FIRST unmatched
``s2[j]`` inside the window — is a lowest-set-bit pick over
``Peq[s1[i]] & window_mask & ~matched2``, a single uint64 per pair when
``|s2| <= 64`` (the matcher feature truncates to 64 chars exactly for
this reason). Transpositions compare the ordered matched characters of
both sides; the Winkler boost follows the pinned pure-Python spec
(``similarity.jaro_winkler``: p=0.1, boost_threshold=0.7, prefix<=4).

Values are IDENTICAL to ``similarity.jaro_winkler`` — parity pinned in
tests/test_myers.py over random + unicode + classic probe pairs. Rows
longer than 64 chars raise: callers truncate first.
"""

from __future__ import annotations

import numpy as np

_U64MAX = np.uint64(0xFFFFFFFFFFFFFFFF)
_ONE = np.uint64(1)


def _mask_below(k: np.ndarray) -> np.ndarray:
    """(1 << k) - 1 for k in [0, 64] (k=64 -> all ones; shift count is
    clamped to 63 so no undefined 64-bit shift is ever evaluated)."""
    kk = np.minimum(k, 63).astype(np.uint64)
    return np.where(k >= 64, _U64MAX, (_ONE << kk) - _ONE)


def jaro_winkler_batch(
    A: list[str],
    B: list[str],
    p: float = 0.1,
    boost_threshold: float = 0.7,
) -> np.ndarray:
    """Exact Jaro-Winkler for paired string lists, all inputs <=64 chars
    (raise otherwise — callers truncate)."""
    P = len(A)
    out = np.zeros(P, dtype=np.float64)
    if P == 0:
        return out
    la = np.fromiter((len(a) for a in A), dtype=np.int64, count=P)
    lb = np.fromiter((len(b) for b in B), dtype=np.int64, count=P)
    if la.max(initial=0) > 64 or lb.max(initial=0) > 64:
        raise ValueError("jaro_winkler_batch requires <=64-char inputs")

    same = np.fromiter((a == b for a, b in zip(A, B)), dtype=bool, count=P)
    out[same] = 1.0
    todo = np.nonzero(~same & (la > 0) & (lb > 0))[0]
    if len(todo) == 0:
        return out

    n = len(todo)
    a_sub = [A[i] for i in todo]
    b_sub = [B[i] for i in todo]
    n1 = la[todo]
    n2 = lb[todo]
    m1max = int(n1.max())
    m2max = int(n2.max())

    ac = np.zeros((n, m1max), dtype=np.int64)
    for i, s in enumerate(a_sub):
        ac[i, : len(s)] = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.int64) + 1
    bc = np.zeros((n, m2max), dtype=np.int64)
    for i, s in enumerate(b_sub):
        bc[i, : len(s)] = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.int64) + 1

    uniq, inv = np.unique(np.concatenate([ac.ravel(), bc.ravel()]), return_inverse=True)
    V = len(uniq)
    ac_c = inv[: ac.size].reshape(ac.shape)
    bc_c = inv[ac.size :].reshape(bc.shape)

    peq = np.zeros(n * V, dtype=np.uint64)
    pos2 = np.arange(m2max, dtype=np.int64)
    bit2 = _ONE << pos2.astype(np.uint64)
    rows = np.arange(n, dtype=np.int64)[:, None]
    flat = rows * V + bc_c
    valid2 = pos2[None, :] < n2[:, None]
    np.bitwise_or.at(peq, flat[valid2], np.broadcast_to(bit2, (n, m2max))[valid2])
    peq = peq.reshape(n, V)
    if uniq[0] == 0:
        peq[:, 0] = 0  # padding code never matches

    window = np.maximum(np.maximum(n1, n2) // 2 - 1, 0)

    matched2 = np.zeros(n, dtype=np.uint64)
    matched1 = np.zeros(n, dtype=np.uint64)
    matches = np.zeros(n, dtype=np.int64)
    ar = np.arange(n)
    for i in range(m1max):
        act = i < n1
        lo = np.maximum(0, i - window)
        hi = np.minimum(n2, i + window + 1)
        wmask = _mask_below(hi) & ~_mask_below(lo)
        cand = peq[ar, ac_c[:, i]] & wmask & ~matched2
        cand = np.where(act, cand, np.uint64(0))
        pick = cand & (~cand + _ONE)  # lowest set bit (0 if none)
        got = pick != 0
        matched2 |= pick
        matched1 |= np.where(got, _ONE << np.uint64(i), np.uint64(0))
        matches += got

    # transpositions: compare the ordered matched characters of both sides
    b1 = np.unpackbits(matched1.view(np.uint8).reshape(n, 8), axis=1, bitorder="little").astype(bool)[:, :m1max]
    b2 = np.unpackbits(matched2.view(np.uint8).reshape(n, 8), axis=1, bitorder="little").astype(bool)[:, :m2max]
    r1 = np.cumsum(b1, axis=1) - 1
    r2 = np.cumsum(b2, axis=1) - 1
    mmax = int(matches.max(initial=0))
    s1m = np.zeros((n, max(mmax, 1)), dtype=np.int64)
    s2m = np.zeros((n, max(mmax, 1)), dtype=np.int64)
    rr, cc = np.nonzero(b1)
    s1m[rr, r1[rr, cc]] = ac_c[rr, cc]
    rr, cc = np.nonzero(b2)
    s2m[rr, r2[rr, cc]] = bc_c[rr, cc]
    kidx = np.arange(max(mmax, 1))[None, :]
    transp = ((s1m != s2m) & (kidx < matches[:, None])).sum(axis=1) // 2

    mf = matches.astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        j = (mf / n1 + mf / n2 + (mf - transp) / mf) / 3.0
    j = np.where(matches == 0, 0.0, j)

    # winkler boost: common prefix up to 4 chars, only when j > threshold
    pl = np.minimum(np.minimum(n1, n2), 4)
    pmax = int(pl.max(initial=0))
    prefix = np.zeros(n, dtype=np.int64)
    alive = np.ones(n, dtype=bool)
    for i in range(min(pmax, min(m1max, m2max))):
        ok = alive & (i < pl) & (ac_c[:, i] == bc_c[:, i])
        prefix += ok
        alive &= ok
    jw = np.where(j > boost_threshold, j + prefix * p * (1.0 - j), j)
    out[todo] = jw
    return out
