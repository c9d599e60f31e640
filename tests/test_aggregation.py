from __future__ import annotations

import math

from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators.aggregation import (
    grouped_stats,
    numeric_columns,
)


def test_numeric_discovery(spark):
    df = spark.createDataFrame(
        [(1, 1.0, "x", 2)], "i int, d double, s string, l bigint"
    )
    assert numeric_columns(df) == ["i", "d", "l"]
    assert numeric_columns(df, exclude=["i"]) == ["d", "l"]


def test_grouped_stats_values(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", 5.0)], "sensor_id string, v double"
    )
    out = {r["sensor_id"]: r for r in grouped_stats(df, "sensor_id").collect()}
    assert out["a"]["min_v"] == 1.0
    assert out["a"]["max_v"] == 3.0
    assert out["a"]["avg_v"] == 2.0
    assert math.isclose(out["a"]["stddev_v"], math.sqrt(2.0))  # sample stddev
    assert out["a"]["n_rows"] == 2
    assert out["b"]["stddev_v"] is None  # stddev_samp of 1 row is null


def test_missing_group_col_fallback(spark):
    # reference A3 (code/helpers.py:167-170): lit('unknown') group key
    df = spark.createDataFrame([(1.0,), (2.0,)], "v double")
    out = grouped_stats(df, "sensor_id").collect()
    assert len(out) == 1 and out[0]["sensor_id"] == "unknown"


def test_mad_outliers_resist_masking(spark):
    """The property z-scores lack: a huge outlier inflates stddev and
    can mask itself, but leaves the medians untouched — MAD still
    flags it."""
    from pyspark.sql import functions as F

    from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import aggregation

    rows = [("a", 10.0)] * 50 + [("a", 1_000_000.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = aggregation.mad_outlier_stats(df, "g", "v").collect()[0]
    assert out.med == 10.0 and out.mad == 0.0
    assert out.n_outliers == 1


def test_capped_running_balance_floor_semantics(spark):
    """The cap must bind mid-sequence (not just at the end): a deep
    early debit is forgiven, it does not haunt later credits."""
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import aggregation

    rows = [
        (1, 1, -1000),  # capped to 0
        (1, 2, 50),
        (1, 3, -20),  # 30
        (2, 1, 10),
        (2, 2, -5),  # 5
    ]
    df = spark.createDataFrame(rows, "k long, seq long, d long")
    out = {
        r.k: r.balance
        for r in aggregation.capped_running_final(
            df, "k", ["seq"], "d", floor=0
        ).collect()
    }
    assert out == {1: 30, 2: 5}


def test_capped_running_closed_form_equals_step_loop_property(spark):
    """Property pin for the round-4 JVM rewrite: the prefix-sum closed
    form b_n = max(S_n, floor + S_n - min_k S_k) must equal the
    step-by-step recurrence max(b+d, floor) on randomized sequences,
    including negative floors and all-negative runs."""
    import random

    from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import aggregation

    rng = random.Random(11)
    rows, want = [], {}
    for k in range(30):
        floor = rng.choice([0, 0, -50, 10])
        n = rng.randrange(1, 40)
        acc = 0
        for seq in range(n):
            d = rng.randrange(-100, 101)
            rows.append((k, floor, seq, d))
            acc = max(acc + d, floor)
        want[k] = acc
    # one operator call per floor value (floor is an operator param)
    got = {}
    df = spark.createDataFrame(rows, "k long, floor long, seq long, d long")
    for floor in {r[1] for r in rows}:
        sub = df.filter(df.floor == floor)
        for r in aggregation.capped_running_final(
            sub, "k", ["seq"], "d", floor=floor
        ).collect():
            got[r.k] = r.balance
    assert got == want


def test_ewma_jvm_fold_bit_identical_to_python_loop(spark):
    """Property pin for the round-4 JVM rewrite: the F.aggregate left
    fold must be BIT-identical (repr-exact doubles) to the reference
    Python recurrence — the guarantee the DuckDB list_reduce oracle
    relies on. (pandas ewm(adjust=False) fails this by one ulp, which
    is why the rewrite went JVM-side, not pandas-side.)"""
    import random

    from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import aggregation

    rng = random.Random(13)
    alpha = 0.2
    rows, want = [], {}
    for k in range(25):
        n = rng.randrange(1, 60)
        acc = None
        for seq in range(n):
            x = rng.uniform(-1000.0, 1000.0)
            rows.append((k, seq, x))
            acc = x if acc is None else (1.0 - alpha) * acc + alpha * x
        want[k] = acc
    df = spark.createDataFrame(rows, "k long, seq long, v double")
    got = {
        r.k: r.ewma
        for r in aggregation.ewma_final(df, "k", ["seq"], "v", alpha=alpha).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert repr(got[k]) == repr(want[k]), (k, got[k], want[k])
