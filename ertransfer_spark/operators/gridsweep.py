"""Side-tagged grouped-map cells — the safe form of a two-sided cogroup.

All block-matrix sweeps here (``simsearch.brute_force_topk``,
``simsearch.cosine_neardup_pairs``, and the set-overlap kernel's dense
grid in ``overlap.overlap_pairs`` behind ``dedup.shingle_jaccard_pairs``
and ``blocking.token_jaccard_join``) need "for each grid cell (i, j), give one
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
