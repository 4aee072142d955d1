"""Batch-vectorized Myers bit-parallel Levenshtein (exact).

Computes codepoint-level Levenshtein distance identical to Spark's JVM
``F.levenshtein`` (and DuckDB's ``levenshtein``) but vectorized with numpy
across an Arrow batch: one multi-limb (64-bit word) Myers step per
character of ``b`` applied to ALL still-active pairs at once, with per-pair
pattern bitmask tables (Peq) built once per batch by a single
``np.bitwise_or.at`` scatter. Measured ~3.5-7x the JVM expression's
per-core throughput at the 256-char truncation used by the matcher's
``levenshtein_sim`` feature (the ``scripts/exp_myers.py`` harness, now in
git history).

Algorithm: G. Myers, "A fast bit-vector algorithm for approximate string
matching based on dynamic programming", JACM 46(3), 1999 — public
knowledge; implemented from the paper's recurrences.

Exactness: integer edit distances, no approximation. Pairs are sorted by
|b| descending so the active set at step j is a contiguous prefix slice —
state updates need no masking (a pair's score is final once it leaves the
prefix). Parity with the classic DP is pinned in tests (random + unicode +
supplementary-plane + cross-limb lengths + empties).

Layout: Peq and the VP/VN state are limb-major, ``(L, n)``, so every limb
op reads one contiguous row; the cross-limb shift and the carry add are
2-D ops plus an in-place ripple over the L limbs, and each step writes
into preallocated buffers.
"""

from __future__ import annotations

import numpy as np

_U64MAX = np.uint64(0xFFFFFFFFFFFFFFFF)
_ONE = np.uint64(1)
_S63 = np.uint64(63)

# Peq table budget per kernel call (bytes). Batches whose (rows x distinct
# codepoints x limbs) table would exceed this are processed in row chunks —
# bounds executor-python memory for unicode-rich corpora.
_PEQ_BUDGET = 64 << 20


def _myers_chunk(A: list[str], B: list[str]) -> np.ndarray:
    """Exact distances for one chunk (all rows non-trivial, pre-checked)."""
    n = len(A)
    la = np.fromiter((len(a) for a in A), dtype=np.int64, count=n)
    lb = np.fromiter((len(b) for b in B), dtype=np.int64, count=n)
    order = np.argsort(-lb, kind="stable")
    A = [A[i] for i in order]
    B = [B[i] for i in order]
    m = la[order]
    nb = lb[order]
    mmax = int(m.max())
    bmax = int(nb[0])
    L = (mmax + 63) // 64

    ac = np.zeros((n, mmax), dtype=np.int64)
    for i, s in enumerate(A):
        ac[i, : len(s)] = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.int64) + 1
    bc = np.zeros((n, bmax), dtype=np.int64)
    for i, s in enumerate(B):
        bc[i, : len(s)] = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.int64) + 1

    uniq, inv = np.unique(np.concatenate([ac.ravel(), bc.ravel()]), return_inverse=True)
    V = len(uniq)
    ac_c = inv[: ac.size].reshape(ac.shape)
    bc_c = inv[ac.size :].reshape(bc.shape)

    # limb-major Peq: row l holds limb l of every (pair, code) mask
    peq = np.zeros(L * n * V, dtype=np.uint64)
    pos = np.arange(mmax, dtype=np.int64)
    limb = pos // 64
    bit = _ONE << (pos % 64).astype(np.uint64)
    rows = np.arange(n, dtype=np.int64)[:, None]
    flat_idx = (limb[None, :] * n + rows) * V + ac_c
    valid = pos[None, :] < m[:, None]
    np.bitwise_or.at(peq, flat_idx[valid], np.broadcast_to(bit, (n, mmax))[valid])
    peq = peq.reshape(L, n * V)
    if uniq[0] == 0:
        peq[:, ::V] = 0  # padding code never matches
    # column of pair i's code c in peq, per step: i * V + c
    bc_c += np.arange(n, dtype=np.int64)[:, None] * V
    cols = np.ascontiguousarray(bc_c.T)  # step j's columns are cols[j, :k]

    kbits = np.clip(m[None, :] - 64 * np.arange(L, dtype=np.int64)[:, None], 0, 64).astype(np.uint64)
    full = np.where(kbits >= 64, _U64MAX, (_ONE << kbits) - _ONE)
    sl = ((m - 1) // 64).astype(np.int64)
    sbit = _ONE << ((m - 1) % 64).astype(np.uint64)

    VP = full.copy()
    VN = np.zeros((L, n), dtype=np.uint64)
    score = m.copy()
    # flat index of pair i's score bit (limb sl, bit m-1) in an (L, n) array
    sflat = sl * n + np.arange(n)
    neg_nb = -nb  # ascending
    EQ, XV, X, R, HP, HN, T = (np.empty((L, n), dtype=np.uint64) for _ in range(7))
    C = np.empty((L, n), dtype=bool)

    for j in range(bmax):
        k = int(np.searchsorted(neg_nb, -j, side="left"))  # count of |b| > j
        if k == 0:
            break
        eq, xv, x, res, hp, hn, t = (a[:, :k] for a in (EQ, XV, X, R, HP, HN, T))
        vp, vn, fu = VP[:, :k], VN[:, :k], full[:, :k]
        np.take(peq, cols[j, :k], axis=1, out=eq, mode="clip")
        np.bitwise_or(eq, vn, out=xv)
        # (eq & vp) + vp as one L*64-bit add: per-limb sums, then ripple
        np.bitwise_and(eq, vp, out=x)
        np.add(x, vp, out=res)
        if L > 1:
            carry = np.less(res, x, out=C[:, :k])
            for l in range(1, L):
                res[l] += carry[l - 1]
                carry[l] |= carry[l - 1] & (res[l] == 0)
        # xh = (res ^ vp) | eq, kept in x
        np.bitwise_xor(res, vp, out=x)
        x |= eq
        # hp = vn | ~(xh | vp) & fu ; hn = vp & xh
        np.bitwise_or(x, vp, out=hp)
        np.invert(hp, out=hp)
        hp &= fu
        hp |= vn
        np.bitwise_and(vp, x, out=hn)
        score[:k] += (HP.ravel().take(sflat[:k]) & sbit[:k]) != 0
        score[:k] -= (HN.ravel().take(sflat[:k]) & sbit[:k]) != 0
        # shift left by 1 across limbs (VP's low bit is shifted in as 1)
        np.left_shift(hp, _ONE, out=t)
        t[0] |= _ONE
        if L > 1:
            t[1:] |= hp[:-1] >> _S63
        # hp_s now in t; VN = hp_s & xv ; VP = hn_s | ~(xv | hp_s) & fu
        np.bitwise_and(t, xv, out=vn)
        np.bitwise_or(xv, t, out=x)
        np.invert(x, out=x)
        x &= fu
        np.left_shift(hn, _ONE, out=t)
        if L > 1:
            t[1:] |= hn[:-1] >> _S63
        np.bitwise_or(t, x, out=vp)

    out = np.empty(n, dtype=np.int64)
    out[order] = score
    return out


def myers_lev_batch(A: list[str], B: list[str]) -> np.ndarray:
    """Exact Levenshtein distances (codepoints) for paired string lists.

    Identical values to Spark ``F.levenshtein`` / DuckDB ``levenshtein`` /
    the classic DP. Arbitrary lengths (limbs sized per chunk); rows whose
    Peq table would blow the memory budget are processed in smaller
    chunks."""
    P = len(A)
    out = np.zeros(P, dtype=np.int64)
    if P == 0:
        return out
    la = np.fromiter((len(a) for a in A), dtype=np.int64, count=P)
    lb = np.fromiter((len(b) for b in B), dtype=np.int64, count=P)
    triv = (la == 0) | (lb == 0)
    out[triv] = np.maximum(la, lb)[triv]
    idx = np.nonzero(~triv)[0]
    if len(idx) == 0:
        return out
    # chunk by the Peq budget: V is unknown before np.unique, so estimate
    # with a cheap upper bound (distinct codepoints <= total chars) and
    # re-chunk pessimistically only for very unicode-rich data
    start = 0
    n = len(idx)
    while start < n:
        # probe chunk: limit rows so worst-case V (sampled on the probe)
        # keeps n*V*L*8 under budget
        end = min(n, start + 8192)
        sub = idx[start:end]
        mmax = int(la[sub].max())
        L = (mmax + 63) // 64
        sample = "".join(A[i][:64] + B[i][:64] for i in sub[:256])
        v_est = max(32, len(set(sample)) * 2)
        rows_cap = max(64, int(_PEQ_BUDGET // (v_est * L * 8)))
        if end - start > rows_cap:
            end = start + rows_cap
            sub = idx[start:end]
        out[sub] = _myers_chunk([A[i] for i in sub], [B[i] for i in sub])
        start = end
    return out
