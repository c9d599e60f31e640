"""Rule engine semantics: first-error-wins priority (reference
code/helpers.py:97,108,119,129), absent-column skip."""

from __future__ import annotations

import pytest

from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import validation as V


def make_df(spark, rows):
    return spark.createDataFrame(
        rows, "sensor_id string, temperature_C string, humidity string"
    )


RULES = V.RuleSet(
    rules=[
        V.NotNullRule(["sensor_id"]),
        V.NumericRule(["temperature_C"]),
        V.RangeRule("temperature_C", -50, 50),
        V.HeavyNullRule(0.5),
    ]
)


def reasons(spark, rows):
    df = V.validate(make_df(spark, rows), RULES)
    return [r["error_reason"] for r in df.collect()]


def test_good_row(spark):
    assert reasons(spark, [("s1", "21.5", "40")]) == [None]


def test_null_key_wins_over_everything(spark):
    # null key AND non-numeric temp: key error has priority
    assert reasons(spark, [(None, "abc", "40")]) == ["null_key:sensor_id"]


def test_not_numeric(spark):
    assert reasons(spark, [("s1", "abc", "40")]) == ["not_numeric:temperature_C"]


def test_numeric_beats_range(spark):
    # NaN casts to double NaN -> not_numeric, never out_of_range
    assert reasons(spark, [("s1", "NaN", "40")]) == ["not_numeric:temperature_C"]


def test_out_of_range(spark):
    assert reasons(spark, [("s1", "61.79", "40")]) == ["out_of_range:temperature_C"]
    assert reasons(spark, [("s1", "-50.0", "40")]) == [None]  # inclusive bounds
    assert reasons(spark, [("s1", "50.0", "40")]) == [None]


def test_heavy_null(spark):
    # 2 of 3 null >= floor(3*0.5)=1 ... null sensor triggers key rule first;
    # use null temp+humidity with present key: nulls=2 >= 1 -> heavy_null
    # (temperature null passes NotNull? it's not a key; NumericRule skips null)
    assert reasons(spark, [("s1", None, None)]) == ["heavy_null_row"]


def test_absent_columns_skipped(spark):
    df = spark.createDataFrame([("x",)], "other string")
    out = V.validate(df, RULES).collect()
    # heavy-null still applies over present columns; 'x' is non-null -> good
    assert out[0]["error_reason"] is None

