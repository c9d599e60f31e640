from __future__ import annotations

import hashlib

from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators.cleaning import drop_all_null_rows, trim_exprs
from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators.enrichment import row_hash_expr


def test_trim_and_drop_all_null(spark):
    df = spark.createDataFrame(
        [("  a  ", 1), (None, None), ("b", 2)], "s string, n int"
    )
    out = drop_all_null_rows(df.select(*trim_exprs(df.schema))).collect()
    assert [(r["s"], r["n"]) for r in out] == [("a", 1), ("b", 2)]


def test_trim_preserves_non_strings(spark):
    df = spark.createDataFrame([(" x ", 1.5)], "s string, d double")
    r = df.select(*trim_exprs(df.schema)).collect()[0]
    assert r["s"] == "x" and r["d"] == 1.5


def test_row_hash_matches_reference_recipe(spark):
    # sha256 over '||'-joined stringified values, nulls -> 'NULL'
    # (reference code/helpers.py:208-215)
    df = spark.createDataFrame([("a", None)], "x string, y string")
    r = df.select(row_hash_expr(["x", "y"]).alias("row_hash")).collect()[0]
    expected = hashlib.sha256(b"a||NULL").hexdigest()
    assert r["row_hash"] == expected


def test_row_hash_deterministic(spark):
    df = spark.createDataFrame([(1, "a")], "id int, v string")
    h1 = df.select(row_hash_expr(["id", "v"]).alias("h")).collect()[0]["h"]
    h2 = df.select(row_hash_expr(["id", "v"]).alias("h")).collect()[0]["h"]
    assert h1 == h2
