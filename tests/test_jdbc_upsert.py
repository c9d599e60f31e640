"""JDBC idempotent upsert against embedded Apache Derby (ships in
Spark's jars, MERGE-capable) — a real JDBC round trip, not a mock:
Spark executors write the staging table over JDBC, the driver MERGEs.

Covers SURVEY §4.3-8 / §7.4-1: replaying a batch must not duplicate
rows when keyed on row_hash."""

from __future__ import annotations

import pytest

from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators.enrichment import row_hash_expr
from advanced_real_time_data_pipeline_and_analytical_processing_spark.sinks.jdbc_upsert import (
    merge_sql,
    upsert_jdbc,
)


@pytest.fixture()
def derby_url(tmp_path):
    return f"jdbc:derby:{tmp_path}/upsertdb;create=true"


def read_table(spark, url, table):
    return spark.read.jdbc(url=url, table=table)


def test_merge_sql_quotes_weird_columns():
    sql = merge_sql("t", "s", ["row_hash", "soil_moisture_%"], ["row_hash"])
    assert '"soil_moisture_%" = s."soil_moisture_%"' in sql
    assert 't."row_hash" = s."row_hash"' in sql


def test_upsert_replay_is_idempotent(spark, derby_url):
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "id bigint, name string, v double"
    )
    batch = df.select("*", row_hash_expr(df.columns).alias("row_hash"))
    # row_hash is created as VARCHAR(64): Derby CLOBs can't be MERGE keys
    upsert_jdbc(batch, derby_url, "tgt", key_cols=["row_hash"])
    upsert_jdbc(batch, derby_url, "tgt", key_cols=["row_hash"])  # replay

    out = read_table(spark, derby_url, "tgt")
    assert out.count() == 2  # no duplicates from the replay
    assert {r["name"] for r in out.collect()} == {"a", "b"}


def test_upsert_updates_matched_and_inserts_new(spark, derby_url):
    b1 = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0)], "id bigint, name string, v double"
    )
    upsert_jdbc(b1, derby_url, "tgt2", key_cols=["id"])
    b2 = spark.createDataFrame(
        [(2, "b-new", 2.5), (3, "c", 3.0)], "id bigint, name string, v double"
    )
    upsert_jdbc(b2, derby_url, "tgt2", key_cols=["id"])

    rows = {r["id"]: (r["name"], r["v"]) for r in read_table(spark, derby_url, "tgt2").collect()}
    assert rows == {1: ("a", 1.0), 2: ("b-new", 2.5), 3: ("c", 3.0)}
