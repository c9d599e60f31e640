"""Time-series regularization: gap-filling a per-key series onto a
dense spine with forward-fill.

Reporting and feature pipelines need every (key, period) cell present
— a day with no orders must appear with the carried-forward value, not
vanish. The reference has no analogue; this is the standard Spark
shape for it:

1. per-key bounds (one aggregate),
2. dense spine = ``explode(sequence(lo, hi, interval))`` — generated
   executor-side from two scalars per key, never materialized on the
   driver,
3. left join observations onto the spine (co-partitioned on the key),
4. forward-fill = ``last(value, ignorenulls=True)`` over an
   unbounded-preceding window per key.

Scale: one shuffle for the join + one for the window, both on the
key; the spine adds rows proportional to key-count x period-count,
independent of the observation count. Skew only if one key's range
vastly exceeds the others' — bound ``freq`` accordingly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def resample_ffill(
    df: DataFrame,
    key_col: str,
    period_col: str,
    value_cols: list[str],
) -> DataFrame:
    """Dense per-key series from ``df``'s sparse (key, period, values)
    rows: every day between each key's min and max period appears
    exactly once, missing values forward-filled from the latest
    earlier observation. Adds ``is_filled`` marking synthesized rows.

    ``period_col`` must be date/timestamp-typed and unique per key
    (pre-aggregate to the period grain first)."""
    bounds = df.groupBy(key_col).agg(
        F.min(period_col).alias("_lo"), F.max(period_col).alias("_hi")
    )
    spine = bounds.select(
        key_col,
        F.explode(
            F.sequence(F.col("_lo"), F.col("_hi"), F.expr("interval 1 day"))
        ).alias(period_col),
    )
    joined = spine.join(df, [key_col, period_col], "left")
    w = (
        Window.partitionBy(key_col)
        .orderBy(period_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        key_col,
        period_col,
        *[
            F.last(c, ignorenulls=True).over(w).alias(c)
            for c in value_cols
        ],
        F.col(value_cols[0]).isNull().alias("is_filled"),
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    bin_width: int,
) -> DataFrame:
    """Interval overlap join: all (left_id, right_id) pairs whose CLOSED
    integer intervals [start, end] intersect (overlap iff
    l_start <= r_end AND r_start <= l_end) — the temporal-join shape
    (sessions x incidents, fulfillment windows x promo campaigns) that
    Spark would otherwise plan as a cross product with a range filter.

    Scale path — epoch binning: each interval explodes into the
    ``bin_width``-sized bins it covers; candidates come from an
    EQUI-join on the bin, then the exact overlap predicate
    prunes same-bin-but-disjoint false positives and a distinct
    collapses pairs that co-occupy several bins. Overlapping intervals
    always share the bin containing their intersection point, so the
    candidate set has NO false negatives (pinned by the brute-force
    pytest). Cost: fan-out = interval_length / bin_width per row — pick
    bin_width near the typical interval length so both the fan-out and
    the per-bin population stay bounded; both sides shuffle once on the
    bin key, never all-to-all.

    Start/end columns must be integers on a shared axis (epoch seconds,
    epoch days, ...). Returns distinct (left_id, right_id).
    """
    lb = left.select(
        F.col(left_id).alias("_lid"),
        F.col(left_start).alias("_ls"),
        F.col(left_end).alias("_le"),
        F.explode(
            F.sequence(
                F.floor(F.col(left_start) / bin_width),
                F.floor(F.col(left_end) / bin_width),
            )
        ).alias("_bin"),
    )
    rb = right.select(
        F.col(right_id).alias("_rid"),
        F.col(right_start).alias("_rs"),
        F.col(right_end).alias("_re"),
        F.explode(
            F.sequence(
                F.floor(F.col(right_start) / bin_width),
                F.floor(F.col(right_end) / bin_width),
            )
        ).alias("_bin"),
    )
    return (
        lb.join(rb, ["_bin"])
        .filter((F.col("_ls") <= F.col("_re")) & (F.col("_rs") <= F.col("_le")))
        .select(F.col("_lid").alias(left_id), F.col("_rid").alias(right_id))
        .distinct()
    )


def theil_sen_slope(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Theil-Sen robust slope per group: the median of all pairwise
    slopes (y_j - y_i) / (x_j - x_i) over x_i < x_j — up to ~29% of
    the points can be arbitrary outliers without moving the estimate,
    unlike an OLS fit. Returns (group, n_pairs, median_slope).

    Intended for BOUNDED per-group grains (e.g. daily aggregates: the
    pair count is calendar-span², independent of corpus size). The
    median is taken by explicit rank selection — both middle slopes
    picked by row_number, averaged as (lo + hi) / 2.0 — so the result
    is reproducible across engines (median() interpolation forms
    differ in the last ulp). ``x_col``/``y_col`` must be integral;
    slopes are exact-int differences divided in double.
    """
    a = df.alias("a")
    b = df.alias("b")
    slopes = a.join(
        b,
        (F.col(f"a.{group_col}") == F.col(f"b.{group_col}"))
        & (F.col(f"a.{x_col}") < F.col(f"b.{x_col}")),
    ).select(
        F.col(f"a.{group_col}").alias(group_col),
        (
            (F.col(f"b.{y_col}") - F.col(f"a.{y_col}")).cast("double")
            / (F.col(f"b.{x_col}") - F.col(f"a.{x_col}"))
        ).alias("_slope"),
    )
    w = Window.partitionBy(group_col).orderBy("_slope")
    ranked = slopes.select(
        group_col,
        "_slope",
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy(group_col))
        .alias("n_pairs"),
    )
    middles = ranked.filter(
        (F.col("_rn") == F.expr("(n_pairs + 1) div 2"))
        | (F.col("_rn") == F.expr("(n_pairs + 2) div 2"))
    )
    return middles.groupBy(group_col, "n_pairs").agg(
        ((F.min("_slope") + F.max("_slope")) / F.lit(2.0)).alias(
            "median_slope"
        )
    )


def km_curve(df: DataFrame, duration_col: str, event_col: str) -> DataFrame:
    """Kaplan-Meier estimator over (duration, event) observations —
    event_col true = the event occurred at `duration`, false =
    right-censored there (leaves the risk set, never counts as an
    event). Returns one row per event time t: (t, n_events, n_risk,
    log_survival_micronat) with ln S(t) = Σ ln((n−d)/n) carried as an
    exact integer micro-nat cumulative sum — each factor is quantized
    ONCE, so the curve is bit-reproducible under any partitioning,
    unlike the textbook float cumulative product. Rows where the
    factor is ln(0) (d = n, curve hits zero) are excluded.

    Everything past the (duration → counts) aggregate runs on the
    bounded distinct-duration grain; the total count arrives
    broadcast.
    """
    grid = df.groupBy(F.col(duration_col).alias("t")).agg(
        F.sum(F.when(F.col(event_col), 1).otherwise(0)).alias("d"),
        F.sum(F.when(~F.col(event_col), 1).otherwise(0)).alias("c"),
    )
    total = df.agg(F.count(F.lit(1)).alias("n_total"))
    wprev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = grid.crossJoin(F.broadcast(total)).select(
        "t",
        "d",
        (
            F.col("n_total")
            - F.coalesce(
                F.sum(F.col("d") + F.col("c")).over(wprev), F.lit(0)
            )
        ).alias("n_risk"),
    ).filter((F.col("d") > 0) & (F.col("n_risk") > F.col("d")))
    factor = (
        F.round(
            F.log(
                (F.col("n_risk") - F.col("d")).cast("double")
                / F.col("n_risk")
            )
            * 1_000_000
        )
        .cast("bigint")
        .alias("lf")
    )
    wcum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    return risk.select("t", "d", "n_risk", factor).select(
        "t",
        F.col("d").alias("n_events"),
        "n_risk",
        F.sum("lf").over(wcum).alias("log_survival_micronat"),
    )
