"""Block-matrix sweeps: the one code path that turns two ``(id, …)`` sides
into grid cells scored by one Python kernel each.

:func:`block_sweep` is the sweep behind every exact all-pairs kernel —
``simsearch.brute_force_topk``, ``simsearch.cosine_neardup_pairs`` and the
set-overlap kernel's dense grid in ``overlap.overlap_pairs`` (behind
``dedup.shingle_jaccard_pairs`` and ``blocking.token_jaccard_join``). The
caller hands it materialized sides and their row counts (the overlap
kernel takes them from its dictionary probe, the simsearch callers from
:func:`materialize`), so a sweep runs no job of its own before the grid.
It sizes the grid with :func:`grid_blocks`, buckets rows by
``pmod(xxhash64(id), p)``, replicates each side across the other side's
block axis (or, for the triangular self-grid, across the blocks ≥ / ≤ its
own), and hands each cell's rows to the caller's numpy body through
:func:`grid_cogroup`. Each cell is one Arrow-batched Python call, so the
Arrow boundary of every sweep lives here.

Why one grouped map and not ``left.groupBy(keys).cogroup(right.groupBy(keys))``:
when both sides derive from the SAME upstream DataFrame (self-sweeps, A/B
splits of one table), self-join attribute de-duplication interacts with
column pruning, and under some terminal plans (measured: ``df.count()``)
the RIGHT pdf reaches the kernel with only the key columns.
``grid_cogroup`` tags the sides with ``_side``, unions them and splits
each cell's pdf in ONE ``groupBy(keys).applyInPandas``: the same per-cell
memory bound, one exchange instead of two, and nothing to mis-prune. Both
sides must share a schema; the kernel gets ``(key, left_pdf, right_pdf)``
with the tag stripped.
"""

from __future__ import annotations

from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame


def grid_blocks(
    n_rows: int,
    rows_per_block: int,
    parallelism: int,
    triangular: bool = False,
    min_rows: int = 64,
) -> int:
    """Per-side block count for a block-matrix sweep: the max of the MEMORY
    bound (``ceil(n/rows_per_block)`` keeps any one cell's dense matrices
    bounded — the binding constraint at web scale) and the PARALLELISM
    bound (enough grid cells to occupy ``parallelism`` cores — the binding
    constraint at bench scale, where a sub-4096-row side otherwise
    collapses the whole sweep into ONE applyInPandas task: measured 20 s
    single-task scored-pairs at sf0.1/local[32], BENCH.md 2026-08-21).

    Rectangular grids get ``ceil(sqrt(P))`` per side (cells = qb·cb ≥ P);
    triangular self-grids get the p with p(p+1)/2 ≥ P. Blocks never shrink
    below ``min_rows`` rows — per-cell vocab/densify overhead dominates
    under that. The block count only changes the PHYSICAL grid; the emitted
    pair set is identical for any value (pinned by the dense-vs-sparse
    parity tests and the sf0.01 oracles)."""
    import math

    by_mem = -(-n_rows // rows_per_block)
    if triangular:
        want = math.ceil((math.sqrt(8 * parallelism + 1) - 1) / 2)
    else:
        want = math.ceil(math.sqrt(parallelism))
    by_par = min(want, max(1, n_rows // min_rows))
    return max(1, by_mem, by_par)


def materialize(df: DataFrame) -> tuple[DataFrame, int]:
    """``(side, rows)`` for :func:`block_sweep`: a lazy ``localCheckpoint``
    that its own count job computes, so the side is built once."""
    side = df.localCheckpoint(eager=False)
    return side, side.count()


def grid_cogroup(
    left: DataFrame,
    right: DataFrame,
    key_cols: tuple[str, ...],
    fn: Callable,
    schema: str,
) -> DataFrame:
    """Run ``fn(key, left_pdf, right_pdf)`` once per distinct ``key_cols``
    group, where the two pdfs are the group's rows from ``left`` and
    ``right`` respectively. ``left`` and ``right`` must have identical
    schemas. Returns ``applyInPandas(schema)`` output."""
    if set(right.columns) != set(left.columns):
        raise ValueError(
            f"grid_cogroup sides must share a schema: {left.columns} vs {right.columns}"
        )
    u = left.selectExpr("*", "0 AS _side").unionByName(right.selectExpr("*", "1 AS _side"))

    def split_cell(key, pdf):
        lp = pdf[pdf["_side"] == 0].drop(columns=["_side"])
        rp = pdf[pdf["_side"] == 1].drop(columns=["_side"])
        return fn(key, lp, rp)

    return u.groupBy(*key_cols).applyInPandas(split_cell, schema=schema)


def block_sweep(
    left: DataFrame,
    n_left: int,
    right: DataFrame | None,
    n_right: int,
    cell: Callable[[pd.DataFrame, pd.DataFrame, bool], pd.DataFrame],
    schema: str,
    rows_per_block: int,
) -> DataFrame:
    """Run ``cell(left_pdf, right_pdf, diagonal)`` over every grid cell of
    ``left`` × ``right`` → ``applyInPandas(schema)`` output.

    Both sides carry an ``id`` column and share a schema; ``right=None`` is
    the triangular self-grid of ``left``, whose cells (i, j ≥ i) see every
    unordered row pair exactly once — ``diagonal`` is True on the (i, i)
    cells, where the body must keep one orientation of each pair. The sides
    come materialized with their row counts ``n_left`` / ``n_right``
    (``n_right`` is unused for the self-grid); the sweep reads each side
    once and runs no job of its own. A cell with an empty side returns an
    empty frame of ``schema`` without calling ``cell``."""
    par = left.sparkSession.sparkContext.defaultParallelism
    cols = [f"`{c}`" for c in left.columns]
    triangular = right is None
    if triangular:
        p = grid_blocks(n_left, rows_per_block, par, triangular=True)
        blk = f"pmod(xxhash64(id), {p})"
        # left of cell (i, j): block i rows for every j >= i; right: block
        # j rows for every i <= j
        lrep = left.selectExpr(f"{blk} AS bi", f"explode(sequence({blk}, {p - 1})) AS bj", *cols)
        rrep = left.selectExpr(f"explode(sequence(0, {blk})) AS bi", f"{blk} AS bj", *cols)
    else:
        pl = grid_blocks(n_left, rows_per_block, par, triangular=False)
        pr = grid_blocks(n_right, rows_per_block, par, triangular=False)
        lrep = left.selectExpr(f"pmod(xxhash64(id), {pl}) AS bi", f"explode(sequence(0, {pr - 1})) AS bj", *cols)
        rrep = right.selectExpr(f"explode(sequence(0, {pl - 1})) AS bi", f"pmod(xxhash64(id), {pr}) AS bj", *cols)

    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    empty = to_arrow_schema(StructType.fromDDL(schema)).empty_table().to_pandas()

    def run_cell(key, lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(lpdf) or not len(rpdf):
            return empty
        return cell(lpdf, rpdf, triangular and key[0] == key[1])

    return grid_cogroup(lrep, rrep, ("bi", "bj"), run_cell, schema=schema)
