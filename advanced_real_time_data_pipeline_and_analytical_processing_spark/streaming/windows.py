"""Event-time windowed aggregations (the streaming semantics the
reference lacks — SURVEY.md §2.9 'absent streaming semantics').

Each builder works on both a batch and a streaming DataFrame (Spark's
unified API) of events with ``ts``, ``event_type``, ``value`` and
``user_id`` columns; in streaming mode the input carries a
``withWatermark`` (session_windows can add it) so state is bounded and
late data has a defined discard point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_counts(df: DataFrame) -> DataFrame:
    """Hourly tumbling-window count/sum per event_type. Streaming state
    per (window × group) only — bounded by the watermark."""
    return (
        df.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_avg(df: DataFrame) -> DataFrame:
    """Average value per event_type over 1-hour windows sliding by
    30 minutes."""
    # avg in EXACT integer arithmetic end to end: float sums drift
    # with partition order, and even exact ratios can land on
    # 6th-decimal halves that engines round differently (half-up vs
    # half-even) — so sum integer ten-thousandths and FLOOR-divide to
    # micro-units; no floating sum, no round() anywhere
    scaled = F.round(F.col("value") * 10000).cast("bigint")
    return (
        df.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.sum(scaled).alias("_ssum"),
            F.count("value").alias("_n"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
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
    gap: str = "30 minutes",
    watermark: str | None = None,
) -> DataFrame:
    """Session windows keyed by user_id with an inactivity gap (Spark's
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
    src = df.withWatermark("ts", watermark) if watermark else df
    return (
        src.groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def chained_tumbling_rollup(df: DataFrame) -> DataFrame:
    """CHAINED stateful windowed aggregations in one query (Spark 3.4+
    multiple-stateful-operator support): small tumbling windows roll up
    into big ones — hourly partials feeding a daily total — without
    landing the intermediate anywhere. The second groupBy windows ON
    the first stage's window column; both stages share the source
    watermark, and in streaming mode a big-window row emits once the
    watermark passes its end. Values are quantized to integer
    ten-thousandths at the source, so both stages' sums are exact
    bigints (engine- and partition-order-proof).

    Returns (day_start, event_type, n_events, n_hours, sum_value_q4)."""
    vq = F.round(F.col("value") * 10000).cast("bigint")
    small_agg = df.groupBy(F.window("ts", "1 hour").alias("_w1"), "event_type").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(vq).alias("_s"),
    )
    big_agg = small_agg.groupBy(
        F.window(F.col("_w1"), "1 day").alias("_w2"), "event_type"
    ).agg(
        F.sum("_n").alias("n_events"),
        F.count(F.lit(1)).alias("n_hours"),
        F.sum("_s").alias("sum_value_q4"),
    )
    return big_agg.select(
        F.col("_w2.start").alias("day_start"),
        "event_type",
        "n_events",
        "n_hours",
        "sum_value_q4",
    )
