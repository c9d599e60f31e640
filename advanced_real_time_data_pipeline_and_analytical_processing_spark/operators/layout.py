"""Data-layout operators: Z-order (Morton) clustering.

Why this is a first-class 100 TB operator: multi-dimensional range
queries (ship date x part, user x time) can only prune files when rows
that are close in BOTH dimensions land in the same file. Sorting by one
column destroys locality in the other; interleaving the bits of both
keys (the Z-order curve) bounds every contiguous key range to a small
rectangle in (x, y) space, so a sorted-write on the z-value gives every
file tight min/max stats in every interleaved dimension at once — the
same layout trick Delta/Iceberg OPTIMIZE ZORDER applies.

Everything here is integer Catalyst expressions (shiftright /
bitwiseAND / multiply-by-power-of-two): codegen'd, ANSI-overflow-safe
(k dims x ``bits`` bits each must fit 63 bits), and replayable
digit-for-digit in any SQL engine — the oracle rebuilds the curve with
the same unrolled arithmetic.

The locality guarantee is exact, not statistical: dropping the low
``s`` bits of a k-dim z-value fixes the top bits of every dimension, so
one z-bucket spans at most 2^ceil(s/k) distinct values per dimension.
``zorder_bucket_stats`` reports exactly that rectangle per bucket;
``tests/test_maintenance.py`` asserts the bound.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zvalue(cols: list[Column], bits: int = 16) -> Column:
    """Interleaved (Morton) z-value of ``len(cols)`` non-negative int
    columns, ``bits`` low bits each: bit i of column j lands at output
    bit i*k + j. Pure per-row arithmetic — the curve costs one
    projection, no shuffle; the layout itself is then one range
    repartition on the result."""
    k = len(cols)
    if k * bits > 63:
        raise ValueError(f"{k} dims x {bits} bits exceeds a bigint")
    terms = []
    for j, c in enumerate(cols):
        cb = c.cast("bigint")
        for i in range(bits):
            terms.append(
                F.shiftright(cb, i).bitwiseAND(F.lit(1).cast("bigint"))
                * F.lit(1 << (i * k + j)).cast("bigint")
            )
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def zorder_bucket_stats(
    df: DataFrame, cols: list[str], bits: int = 16, bucket_shift: int = 14
) -> DataFrame:
    """Per-z-bucket locality report: row count + the exact (min, max)
    rectangle of every dimension inside each bucket of 2^bucket_shift
    consecutive z-values — the file-skipping stats a z-ordered write
    would give every file. One map-side-combined hash agg."""
    z = zvalue([F.col(c) for c in cols], bits)
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    return (
        df.select(F.shiftright(z, bucket_shift).alias("z_bucket"), *cols)
        .groupBy("z_bucket")
        .agg(*aggs)
    )


def zvalue_oracle_sql(col_exprs: list[str], bits: int = 16) -> str:
    """The identical unrolled interleave as ANSI SQL (DuckDB-ready):
    sum of ((x >> i) & 1) * 2^(i*k+j) terms — integer arithmetic only,
    so the oracle matches the Catalyst expression bit for bit."""
    k = len(col_exprs)
    terms = []
    for j, ce in enumerate(col_exprs):
        for i in range(bits):
            terms.append(
                f"((CAST({ce} AS BIGINT) >> {i}) & 1) * {1 << (i * k + j)}"
            )
    return " + ".join(terms)
