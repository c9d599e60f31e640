"""Cross-partitioning determinism: the float-sensitive queries must
return IDENTICAL values under different shuffle fan-outs.

This is the property the whole oracle strategy leans on (exact integer
accumulation, round-before-compare, ordered folds): if any of these
queries summed raw doubles in shuffle order, changing
spark.sql.shuffle.partitions would flip low bits and this test — and
the driver's DuckDB gate — would go red intermittently.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"

# float-bearing queries whose docstrings claim partition-order-proof
# results; hll exercises the integer-unit harmonic sum, ewma the
# ordered Arrow fold, perplexity the micro-nat accounting
QUERIES = [
    "user_value_ewma",
    "doc_perplexity",
    "rolling_7day_revenue",
    "json_props_stats",
    "hll_cardinality_profile",
    "trimmed_mean_by_type",
    # full compositions: the streaming sessionizer (session-window
    # state + watermark eviction) and the curation funnel must also be
    # fan-out-proof
    "stateful_session_report",
    "curation_funnel",
    # round-4 additions: integer moment sums, struct-ordered
    # first/last, chained per-user funnel joins, iterative BFS
    "daily_trend_slopes",
    "weekly_ohlc",
    "conversion_funnel",
    "user_bfs_reach",
]


@pytest.mark.parametrize("name", QUERIES)
def test_identical_under_different_shuffle_fanout(spark, name):
    fn = entrymod.queries()[name]
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        a = sorted(map(tuple, fn(spark, SF_DIR).collect()))
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        b = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert a == b  # exact equality — no tolerance
