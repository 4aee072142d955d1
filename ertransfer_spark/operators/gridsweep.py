"""Block-matrix sweeps: the one code path that turns two ``(id, …)`` sides
into grid cells scored by one Python kernel each.

:func:`block_sweep` is the sweep behind every exact all-pairs kernel —
``simsearch.brute_force_topk``, ``simsearch.cosine_neardup_pairs`` and the
set-overlap kernel's dense grid in ``overlap.overlap_pairs`` (behind
``dedup.shingle_jaccard_pairs`` and ``blocking.token_jaccard_join``). It
materializes and counts each side once, sizes the grid with
:func:`grid_blocks`, buckets rows by ``pmod(xxhash64(id), p)``, replicates
each side across the other side's block axis (or, for the triangular
self-grid, across the blocks ≥ / ≤ its own), and hands each cell's rows to
the caller's numpy body through :func:`grid_cogroup`. Each cell is one
Arrow-batched Python call, so the Arrow boundary of every sweep lives here.

Every sweep needs "for each grid cell (i, j), give one
Python kernel the cell's LEFT rows and RIGHT rows". The direct expression
is ``left.groupBy(keys).cogroup(right.groupBy(keys)).applyInPandas(...)``
— but when both sides derive from the SAME upstream DataFrame (triangular
self-sweeps, or A/B splits of one table), Spark's self-join attribute
de-duplication can interact with column pruning so the RIGHT side's data
columns are pruned down to the grouping keys under some terminal plans
(measured: ``df.count()`` on the cogroup result ships a key-only right
pdf and the kernel KeyErrors, while ``collect()`` and sink writes run the
very same DataFrame correctly).

``grid_cogroup`` sidesteps the dual-lineage resolution entirely: the two
sides are tagged with ``_side`` (0 = left, 1 = right), unioned (a union of
same-lineage branches has no ambiguity), and a SINGLE
``groupBy(keys).applyInPandas`` splits each cell's pdf by the tag. Same
per-cell memory bound as the cogroup, one exchange of the concatenated
rows instead of two per-side exchanges, and the grouped-map node consumes
every column of its one child — nothing to mis-prune.

Both sides must share a schema (rename role columns to a common name
before calling). The kernel receives ``(key, left_pdf, right_pdf)`` with
the ``_side`` tag already stripped.
"""

from __future__ import annotations

from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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
    u = left.withColumn("_side", F.lit(0)).unionByName(
        right.withColumn("_side", F.lit(1))
    )

    def split_cell(key, pdf):
        lp = pdf[pdf["_side"] == 0].drop(columns=["_side"])
        rp = pdf[pdf["_side"] == 1].drop(columns=["_side"])
        return fn(key, lp, rp)

    return u.groupBy(*key_cols).applyInPandas(split_cell, schema=schema)


def block_sweep(
    left: DataFrame,
    right: DataFrame | None,
    cell: Callable[[pd.DataFrame, pd.DataFrame, bool], pd.DataFrame],
    schema: str,
    rows_per_block: int,
) -> DataFrame:
    """Run ``cell(left_pdf, right_pdf, diagonal)`` over every grid cell of
    ``left`` × ``right`` → ``applyInPandas(schema)`` output.

    Both sides carry an ``id`` column and share a schema; ``right=None`` is
    the triangular self-grid of ``left``, whose cells (i, j ≥ i) see every
    unordered row pair exactly once — ``diagonal`` is True on the (i, i)
    cells, where the body must keep one orientation of each pair. Each side
    is materialized (``localCheckpoint``) and counted once; a cell with an
    empty side returns an empty frame of ``schema`` without calling
    ``cell``."""
    par = left.sparkSession.sparkContext.defaultParallelism
    sa = left.localCheckpoint()
    cols = sa.columns

    def blk(n: int):
        return F.pmod(F.xxhash64("id"), F.lit(n))

    if right is None:
        p = grid_blocks(sa.count(), rows_per_block, par, triangular=True)
        v = sa.withColumn("_b", blk(p))
        # left of cell (i, j): block i rows for every j >= i; right: block
        # j rows for every i <= j
        lrep = v.select(F.col("_b").alias("bi"), F.explode(F.sequence("_b", F.lit(p - 1))).alias("bj"), *cols)
        rrep = v.select(F.explode(F.sequence(F.lit(0), "_b")).alias("bi"), F.col("_b").alias("bj"), *cols)
    else:
        sb = right.localCheckpoint()
        pl = grid_blocks(sa.count(), rows_per_block, par, triangular=False)
        pr = grid_blocks(sb.count(), rows_per_block, par, triangular=False)
        lrep = sa.select(blk(pl).alias("bi"), F.explode(F.sequence(F.lit(0), F.lit(pr - 1))).alias("bj"), *cols)
        rrep = sb.select(F.explode(F.sequence(F.lit(0), F.lit(pl - 1))).alias("bi"), blk(pr).alias("bj"), *cols)

    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    empty = to_arrow_schema(StructType.fromDDL(schema)).empty_table().to_pandas()
    triangular = right is None

    def run_cell(key, lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(lpdf) or not len(rpdf):
            return empty
        return cell(lpdf, rpdf, triangular and key[0] == key[1])

    return grid_cogroup(lrep, rrep, ("bi", "bj"), run_cell, schema=schema)
