"""Streaming joins (SURVEY §2.9: stream-static and stream-stream joins
are absent from the reference — its `timestamp` column never drives any
event-time logic — but are must-have engine surface).

Scale notes:
- stream-static: a plain ``stream.join(F.broadcast(dim), keys)``; the
  static side is broadcast per micro-batch, so the stream never
  shuffles for the join (the stream_static_enrichment query).
- stream-stream: BOTH sides buffer in the state store until the
  watermark passes, so the join is only bounded if (a) both inputs have
  watermarks and (b) the join condition constrains event time (range or
  equality on windows). This wrapper refuses to build an unbounded
  state join — the reference's unbounded-state mistake (§4.3-2) applied
  to joins.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    left_watermark: str,
    right_watermark: str,
    lower: str = "0 seconds",
    upper: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join on equality keys plus the event-time interval
    ``left_ts <= right_ts <= left_ts + upper`` (shifted by `lower`).
    Watermarks on BOTH sides + the interval bound make the buffered
    state finite: rows are dropped from state once the other side's
    watermark passes their join window.

    ``how``: "inner", or "leftOuter" — matched rows stream out as they
    pair; an UNMATCHED left row is emitted null-padded only once the
    watermark passes its join window (it provably cannot match anymore).
    That deferred emission is the semantic difference from a batch left
    join and the reason outer results trail the watermark: a drain-style
    caller must push the watermark past every left row's window (e.g.
    with far-future ticks on both inputs) to collect the full outer
    result."""
    allowed = {"inner", "leftOuter", "rightOuter", "fullOuter"}
    if how not in allowed:
        raise ValueError(f"how must be one of {sorted(allowed)}")
    l = left.withWatermark(left_ts, left_watermark)
    r = right.withWatermark(right_ts, right_watermark)
    cond = None
    for k in on:
        c = l[k] == r[k]
        cond = c if cond is None else (cond & c)
    time_lo = r[right_ts] >= l[left_ts] + F.expr(f"INTERVAL {lower}")
    time_hi = r[right_ts] <= l[left_ts] + F.expr(f"INTERVAL {upper}")
    cond = (cond & time_lo & time_hi) if cond is not None else (time_lo & time_hi)
    return l.join(r, cond, how)
