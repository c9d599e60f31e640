"""Event-time windowed aggregations (the streaming semantics the
reference lacks — SURVEY.md §2.9 'absent streaming semantics').

Each builder works on both a batch and a streaming DataFrame (Spark's
unified API); in streaming mode add ``withWatermark`` so state is
bounded and late data has a defined discard point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_counts(
    df: DataFrame,
    ts_col: str = "ts",
    width: str = "1 hour",
    group_col: str = "event_type",
    value_col: str = "value",
    watermark: str | None = None,
) -> DataFrame:
    """Tumbling-window count/sum per group. Streaming state per
    (window × group) only — bounded by the watermark."""
    src = df.withWatermark(ts_col, watermark) if watermark else df
    return (
        src.groupBy(F.window(ts_col, width).alias("w"), group_col)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            group_col,
            "n_events",
            "sum_value",
        )
    )


def sliding_avg(
    df: DataFrame,
    ts_col: str = "ts",
    width: str = "1 hour",
    slide: str = "15 minutes",
    group_col: str = "event_type",
    value_col: str = "value",
    watermark: str | None = None,
) -> DataFrame:
    src = df.withWatermark(ts_col, watermark) if watermark else df
    # avg in EXACT integer arithmetic end to end: float sums drift
    # with partition order, and even exact ratios can land on
    # 6th-decimal halves that engines round differently (half-up vs
    # half-even) — so sum integer ten-thousandths and FLOOR-divide to
    # micro-units; no floating sum, no round() anywhere
    scaled = F.round(F.col(value_col) * 10000).cast("bigint")
    return (
        src.groupBy(F.window(ts_col, width, slide).alias("w"), group_col)
        .agg(
            F.sum(scaled).alias("_ssum"),
            F.count(value_col).alias("_n"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            group_col,
            (
                # DECIMAL(38,0) end to end: a bigint quanta sum near
                # 1e17 wraps at the *100 under non-ANSI Spark, and even
                # `div`'s BIGINT result wraps once the quotient passes
                # int64 — divide exactly in decimal ((x - x%n)/n = the
                # truncating division DuckDB's HUGEINT // computes) and
                # only then go double
                F.expr(
                    "CAST((CAST(_ssum AS DECIMAL(38,0)) * 100"
                    " - (CAST(_ssum AS DECIMAL(38,0)) * 100) % _n)"
                    " / _n AS DOUBLE)"
                ) / 1000000.0
            ).alias("avg_value"),
        )
    )


def session_windows(
    df: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    key_col: str = "user_id",
    watermark: str | None = None,
) -> DataFrame:
    """Session windows keyed by user with an inactivity gap (Spark's
    native ``session_window``; in streaming its state lives in the JVM
    state store).

    - Boundary: two consecutive events of a key share a session when
      their gap is at most ``gap``; a gap of exactly ``gap`` merges,
      ``gap`` plus one microsecond splits. ``session_end`` is the last
      event + ``gap``.
    - NULLs: a NULL event time gets no window and is dropped; a NULL
      key is a group of its own (filter it out first if unwanted).
    - Append mode emits each session once, when the watermark passes
      its ``session_end``; a session still open at the end of a drain
      is not emitted.
    - Late rows: a micro-batch drops only rows older than the
      watermark the micro-batch before it ran with, so a row behind the
      current watermark but not behind that one still merges into its
      key's open session."""
    src = df.withWatermark(ts_col, watermark) if watermark else df
    return (
        src.groupBy(F.session_window(ts_col, gap).alias("s"), key_col)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            key_col,
            "n_events",
        )
    )


def chained_tumbling_rollup(
    df: DataFrame,
    ts_col: str = "ts",
    group_col: str = "event_type",
    value_col: str = "value",
    small: str = "1 hour",
    big: str = "1 day",
    watermark: str | None = None,
) -> DataFrame:
    """CHAINED stateful windowed aggregations in one query (Spark 3.4+
    multiple-stateful-operator support): small tumbling windows roll up
    into big ones — hourly partials feeding a daily total — without
    landing the intermediate anywhere. The second groupBy windows ON
    the first stage's window column; both stages share the source
    watermark, and in streaming mode a big-window row emits once the
    watermark passes its end. Values are quantized to integer
    ten-thousandths at the source, so both stages' sums are exact
    bigints (engine- and partition-order-proof).

    Returns (day_start, group, n_events, n_hours, sum_value_q4)."""
    src = df.withWatermark(ts_col, watermark) if watermark else df
    vq = F.round(F.col(value_col) * 10000).cast("bigint")
    small_agg = src.groupBy(
        F.window(ts_col, small).alias("_w1"), group_col
    ).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(vq).alias("_s"),
    )
    big_agg = small_agg.groupBy(
        F.window(F.col("_w1"), big).alias("_w2"), group_col
    ).agg(
        F.sum("_n").alias("n_events"),
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("_s").alias("sum_value_q4"),
    )
    return big_agg.select(
        F.col("_w2.start").alias("day_start"),
        group_col,
        "n_events",
        "n_hours",
        "sum_value_q4",
    )
