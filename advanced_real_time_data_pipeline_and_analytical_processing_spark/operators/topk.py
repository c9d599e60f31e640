"""Top-k per group (window rank) — the engine's standard top-k shape.

Window.partitionBy(group).orderBy(metric desc) + row_number <= k: the
sort is per-group within shuffle partitions, never a global sort. For
global top-k over a huge input prefer orderBy().limit(k) — Spark plans
that as TakeOrderedAndProject (per-partition heap + driver merge), which
is already optimal.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def topk_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[Column],
    k: int,
) -> DataFrame:
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return df.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def skyline_2d(
    df: DataFrame,
    partition_cols: Sequence[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """2-D skyline (Pareto frontier) per partition: rows no other row
    in the same partition dominates, where p dominates q iff
    p.x >= q.x AND p.y >= q.y with at least one strict. Equal (x, y)
    points do not dominate each other, so duplicate maxima all
    survive.

    Instead of the quadratic dominance self-join, one partitioned sort
    does it in O(n log n): ordered by x DESC with a RANGE frame ending
    at offset -1, the frame is exactly the STRICTLY-higher-x rows —
    a row survives iff its y beats max(y) over that frame AND it holds
    the max y within its own x tie-group. ``x_col`` must be numeric
    (RANGE frame requirement); ``y_col`` any ordered type with max().
    """
    w_higher = (
        Window.partitionBy(*partition_cols)
        .orderBy(F.col(x_col).desc())
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_tie = Window.partitionBy(*partition_cols, x_col)
    flagged = df.select(
        "*",
        F.max(y_col).over(w_higher).alias("_maxy_higher"),
        F.max(y_col).over(w_tie).alias("_maxy_tie"),
    )
    return flagged.filter(
        (
            F.col("_maxy_higher").isNull()
            | (F.col("_maxy_higher") < F.col(y_col))
        )
        & (F.col("_maxy_tie") == F.col(y_col))
    ).drop("_maxy_higher", "_maxy_tie")
