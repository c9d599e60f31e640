"""Watermarked streaming dedup (reference T4 / SURVEY §2.1-S3).

The reference deduplicates the stream with a bare
``dropDuplicates(["file_path"])`` (``code/Main.py:49``) — correct
results, UNBOUNDED state: every key ever seen lives in the state store
forever. At 100 TB / years of uptime that is an OOM with a delay timer.

The bounded-state fix is ``withWatermark`` +
``dropDuplicatesWithinWatermark``: duplicates arriving within the
watermark delay of each other are dropped, and state older than the
watermark is evicted. The trade is explicit and tunable — a duplicate
arriving later than `delay` after the original is no longer caught,
which is the standard late-data contract everywhere else in the engine
(streaming/windows.py uses the same watermark).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame


def dedup_within_watermark(
    stream: DataFrame,
    keys: Sequence[str],
    ts_col: str,
) -> DataFrame:
    """Drop rows duplicating (`keys`) within 10 minutes of event time
    `ts_col`. State per key is evicted once the watermark passes it."""
    return stream.withWatermark(ts_col, "10 minutes").dropDuplicatesWithinWatermark(
        list(keys)
    )
