"""Grouped statistical aggregation (reference A1-A4, ``code/helpers.py:148-204``).

For every numeric column: min/max/avg/stddev (sample stddev, matching
Spark's ``stddev`` = ``stddev_samp``), aliased ``min_{c}`` etc., plus a
row count. Executes as a partial+final hash aggregate — map-side combine
means the shuffle carries one row per (group, partition), not raw data,
which is what makes this shape survive 100 TB.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType

# grouped_stats and its helpers are the reference's per-sensor
# aggregate table, kept for ROADMAP item 8 to wire into the stream.
GROUP_FALLBACK = "unknown"


def numeric_columns(df: DataFrame, exclude: Sequence[str] = ()) -> list[str]:
    """Schema-driven numeric column discovery (reference A2,
    ``code/helpers.py:173``), generalized to every NumericType incl.
    decimal."""
    return [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, NumericType) and f.name not in exclude
    ]


def grouped_stats(
    df: DataFrame,
    group_col: str,
    numeric_cols: Sequence[str] | None = None,
    include_count: bool = True,
) -> DataFrame:
    """groupBy(group_col).agg(min/max/avg/stddev per numeric col).

    If the group column is absent a literal 'unknown' key is added
    (reference A3, ``code/helpers.py:167-170``).
    """
    if group_col not in df.columns:
        df = df.withColumn(group_col, F.lit(GROUP_FALLBACK))
    cols = list(numeric_cols or numeric_columns(df, exclude=(group_col,)))
    exprs = []
    for c in cols:
        exprs += [
            F.min(c).alias(f"min_{c}"),
            F.max(c).alias(f"max_{c}"),
            F.avg(c).alias(f"avg_{c}"),
            F.stddev(c).alias(f"stddev_{c}"),
        ]
    if include_count:
        exprs.append(F.count(F.lit(1)).alias("n_rows"))
    return df.groupBy(group_col).agg(*exprs)


def ewma_final(
    df,
    key_col: str,
    order_cols: list[str],
    value_col: str,
):
    """Per-key exponentially-weighted moving average (final value):
    y_0 = x_0; y_t = (1-alpha)*y_{t-1} + alpha*x_t with alpha = 0.2,
    over rows ordered by ``order_cols``.

    This is a SEQUENTIAL RECURRENCE — the one aggregate shape window
    frames can't express (the closed form needs (1-alpha)^(-i) terms
    that overflow immediately). It IS expressible as a sequential left
    fold, so it stays entirely JVM-side: collect_list the per-key
    (order..., value) structs, array_sort (struct field order = the
    caller's total order), then F.aggregate — Catalyst's left fold,
    the exact mirror of DuckDB's list_reduce, applying the identical
    float64 ops in the identical order, so results are bit-identical
    to any engine folding the same sequence. One partial+final hash
    aggregate on the key; no Python, no Arrow, no per-group pandas
    overhead (which dominated the former applyInPandas version ~10x).
    Per-key state is the key's event list — the same bound the pandas
    version had, fine wherever per-key cardinality is bounded.

    Returns (key, ewma) with one row per key.
    """
    alpha = 0.2
    one_minus = 1.0 - alpha  # same Python-double constant the loop used
    order_struct = F.struct(
        *[F.col(c) for c in order_cols], F.col(value_col).cast("double").alias("_x")
    )
    xs = F.array_sort(F.collect_list(order_struct))
    vals = F.transform(xs, lambda s: s["_x"])
    folded = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda acc, x: F.lit(one_minus) * acc + F.lit(alpha) * x,
    )
    return df.groupBy(key_col).agg(folded.alias("ewma"))


def holt_final(
    df,
    key_col: str,
    order_cols: list[str],
    value_col: str,
):
    """Per-key Holt double-exponential smoothing (level + trend),
    alpha = 0.3 and beta = 0.1, final state: l_1 = x_1, b_1 = 0; then
        l_t = alpha*x_t + (1-alpha)*(l_{t-1} + b_{t-1})
        b_t = beta*(l_t - l_{t-1}) + (1-beta)*b_{t-1}.

    Like ewma_final this is a sequential recurrence JVM-folded via
    collect_list + array_sort + F.aggregate — but with a two-field
    STRUCT accumulator (Catalyst folds typed structs fine). The
    DuckDB mirror is list_reduce over struct-lifted elements, whose
    seed-with-first-element IS struct(l=x_1, b=0) — identical
    initialization for free. Every recurrence step uses the same
    operand order on both engines, so the doubles match bit-for-bit.

    Returns (key, n_points, level, trend) — one row per key; the
    one-step-ahead forecast is level + trend.
    """
    a, oma = 0.3, 1.0 - 0.3
    be, omb = 0.1, 1.0 - 0.1
    order_struct = F.struct(
        *[F.col(c) for c in order_cols],
        F.col(value_col).cast("double").alias("_x"),
    )
    xs = F.array_sort(F.collect_list(order_struct))
    vals = F.transform(xs, lambda s: s["_x"])
    seed = F.struct(
        F.element_at(vals, 1).alias("l"), F.lit(0.0).alias("b")
    )

    def step(acc, x):
        l_new = F.lit(a) * x + F.lit(oma) * (acc["l"] + acc["b"])
        return F.struct(
            l_new.alias("l"),
            (
                F.lit(be) * (l_new - acc["l"]) + F.lit(omb) * acc["b"]
            ).alias("b"),
        )

    folded = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        seed,
        step,
    )
    out = df.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_points"),
        folded.alias("_st"),  # one fold evaluation, two fields out
    )
    return out.select(
        key_col,
        "n_points",
        F.col("_st.l").alias("level"),
        F.col("_st.b").alias("trend"),
    )


def mad_outlier_stats(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Robust outlier audit per group via Median Absolute Deviation —
    the heavy-tail-safe alternative to z-scores (one wild value drags
    mean AND stddev, masking itself; the median pair doesn't budge).
    k = 3 * 1.4826 = 4.4478 makes the cut equivalent to 3 sigma under normality.

    Two grouped exact medians + one counting pass, each a single
    shuffle on the group key; the per-group stats (a few rows) come
    BACK to the fact rows by broadcast, so the fact table is scanned,
    never re-shuffled. Both medians are rounded to 6 before any
    comparison so the |dev| > k*MAD cut is bit-identical across
    engines and partitionings."""
    vals = df.select(group_col, value_col).filter(F.col(value_col).isNotNull())
    med = vals.groupBy(group_col).agg(
        F.round(F.median(value_col), 6).alias("med")
    )
    dev = vals.join(F.broadcast(med), group_col).select(
        group_col, "med", F.abs(F.col(value_col) - F.col("med")).alias("adev")
    )
    mad = dev.groupBy(group_col).agg(F.round(F.median("adev"), 6).alias("mad"))
    return (
        dev.join(F.broadcast(mad), group_col)
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.max("med").alias("med"),
            F.max("mad").alias("mad"),
            F.count(
                F.when(F.col("adev") > F.lit(4.4478) * F.col("mad"), 1)
            ).alias("n_outliers"),
        )
    )


def capped_running_final(
    df,
    key_col: str,
    order_cols: list[str],
    delta_col: str,
):
    """Per-key zero-floored running balance (final value):
    b_t = max(b_{t-1} + delta_t, 0) over rows ordered by
    ``order_cols`` — the inventory/credit-balance recurrence. Like
    ewma_final this is a sequential fold no window frame can express
    (the cap makes it non-linear), but the state is INTEGER, so the
    result is exact on any engine folding the same total order — no
    float discipline needed at all.

    JVM-side rewrite of the recurrence via the prefix-sum identity
        b_n = max(S_n, S_n - min_{1<=k<=n} S_k)
    (S_k = sum of the first k deltas; property-verified against the
    step-by-step loop over 300 random sequences): one collect_list +
    array_sort per key, then a single F.aggregate fold carrying
    (running_sum, min_running_sum) — exact bigint arithmetic, one
    partial+final hash aggregate on the key, no Python."""
    order_struct = F.struct(
        *[F.col(c) for c in order_cols], F.col(delta_col).cast("bigint").alias("_d")
    )
    xs = F.array_sort(F.collect_list(order_struct))
    ds = F.transform(xs, lambda s: s["_d"])
    first = F.element_at(ds, 1)
    acc0 = F.struct(first.alias("rs"), first.alias("mn"))
    folded = F.aggregate(
        F.slice(ds, 2, F.greatest(F.size(ds) - 1, F.lit(0))),
        acc0,
        lambda acc, d: F.struct(
            (acc["rs"] + d).alias("rs"),
            F.least(acc["mn"], acc["rs"] + d).alias("mn"),
        ),
    )
    balance = F.greatest(
        folded["rs"], folded["rs"] - folded["mn"]
    ).cast("bigint")
    return df.groupBy(key_col).agg(balance.alias("balance"))
