"""Big-big range join via grid bucketing.

`q_join_range` broadcasts its tiny band table (the right shape when one
side fits in memory). When BOTH sides are large — points vs millions of
intervals — a nested-loop is |L|x|R| and Spark has no native interval
index. The standard distributed formulation buckets the value domain
into fixed-width grid cells:

- each point lands in exactly ONE cell: floor(v / w);
- each interval is exploded to EVERY cell it overlaps:
  floor(lo / w) .. floor(hi / w);
- cells equi-join (hash shuffle, AQE-skew-splittable), then the exact
  containment predicate filters within the cell.

A (point, interval) match appears in exactly one cell — the point's —
so no dedup pass is needed. Cost: |R| is replicated by its average
interval width / w (the knob: w ~ median interval width keeps the
blowup ~2x), and the join is a plain equi-join instead of a cross
product. Same pattern as the IVF near-dup bucketing (llm/dedup.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

CELL_COL = "__cell"

# One interval 10^5 cells wide (relative to the chosen cell_width) means
# a 10^5-row explode fan-out from a single input row — the same hot-row
# pathology as a 10k-entry dedup posting list (llm/dedup.py's
# _UNCAPPED_POSTING_GUARD): not an OOM (explode streams), but one
# straggler task and, past 2^31 elements, Spark's sequence length cap.
# A caller whose intervals are this wide picked the wrong cell_width —
# fail loudly in-plan instead of melting a task. raise_error rides the
# same stage: no extra job, no cost on healthy data.
_MAX_CELLS_PER_ROW = 100_000


def _capped_cells(lo_cell: Column, hi_cell: Column, where: str) -> Column:
    """sequence(lo_cell, hi_cell), guarded against hot-interval fan-out."""
    n = hi_cell - lo_cell + 1
    return F.when(
        n <= _MAX_CELLS_PER_ROW, F.sequence(lo_cell, hi_cell)
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"{where}: interval spans more than "
                    f"{_MAX_CELLS_PER_ROW} grid cells ("
                ),
                n.cast("string"),
                F.lit(") — raise cell_width toward the median interval width"),
            )
        )
    )


def grid_range_join(
    points: DataFrame,
    intervals: DataFrame,
    value_col: str,
    lo_col: str,
    hi_col: str,
    cell_width: float,
) -> DataFrame:
    """Inner-join rows of `points` to rows of `intervals` where
    lo <= value < hi, as a grid-cell equi-join. Column sets must be
    disjoint (rename beforehand). `hi` is exclusive, matching
    q_join_range's band semantics."""

    def cell_of(c: Column) -> Column:
        return F.floor(c / F.lit(cell_width)).cast("long")

    p = points.withColumn(CELL_COL, cell_of(F.col(value_col)))
    cells = _capped_cells(
        cell_of(F.col(lo_col)), cell_of(F.col(hi_col)), "grid_range_join"
    )
    iv = intervals.withColumn(CELL_COL, F.explode(cells))
    joined = p.join(iv, CELL_COL).filter(
        (F.col(value_col) >= F.col(lo_col)) & (F.col(value_col) < F.col(hi_col))
    )
    return joined.drop(CELL_COL)


def grid_interval_join(
    left: DataFrame,
    right: DataFrame,
    l_lo: str,
    l_hi: str,
    r_lo: str,
    r_hi: str,
    cell_width: float,
) -> DataFrame:
    """Interval-INTERVAL overlap join (closed bounds: overlap iff
    l_lo <= r_hi AND r_lo <= l_hi) when BOTH sides are large interval
    sets — the generalization of grid_range_join, same grid trick with
    a different dedup argument. Both sides explode to every cell they
    touch, cells equi-join, the exact overlap predicate filters within
    the cell, and each surviving pair is kept ONLY in the cell that
    contains the overlap's START (max(l_lo, r_lo)) — that cell is
    touched by both intervals by construction, so every overlapping
    pair survives exactly once with NO dropDuplicates shuffle (the same
    emit-at-canonical-cell argument the point form gets for free).
    Column sets must be disjoint; cost is each side replicated by
    ~avg_width/w, and the join stays a hash equi-join."""

    def cell_of(c: Column) -> Column:
        return F.floor(c / F.lit(cell_width)).cast("long")

    lx = left.withColumn(
        CELL_COL,
        F.explode(
            _capped_cells(
                cell_of(F.col(l_lo)), cell_of(F.col(l_hi)), "grid_interval_join"
            )
        ),
    )
    rx = right.withColumn(
        CELL_COL,
        F.explode(
            _capped_cells(
                cell_of(F.col(r_lo)), cell_of(F.col(r_hi)), "grid_interval_join"
            )
        ),
    )
    joined = lx.join(rx, CELL_COL).filter(
        (F.col(l_lo) <= F.col(r_hi))
        & (F.col(r_lo) <= F.col(l_hi))
        & (F.col(CELL_COL) == cell_of(F.greatest(F.col(l_lo), F.col(r_lo))))
    )
    return joined.drop(CELL_COL)
