from __future__ import annotations

import json
import os

from pyspark.sql import types as T

from advanced_real_time_data_pipeline_and_analytical_processing_spark.plans.naming import (
    agg_table,
    derive_table_name,
    transformed_table,
)
from advanced_real_time_data_pipeline_and_analytical_processing_spark.sources.readers import read_batch_files
from advanced_real_time_data_pipeline_and_analytical_processing_spark.sources.schema_registry import (
    derive_schema_filename,
    load_schema,
    save_schema,
)


def test_table_name_derivation():
    # reference N1 (code/helpers.py:218-221): basename, -/space -> _
    assert derive_table_name("data/My File-1.csv") == "public.my_file_1"
    assert transformed_table("X.json") == "public.x_transformed"
    assert agg_table("s3a://b/data/T.csv") == "public.t_agg"


def test_schema_filename():
    assert derive_schema_filename("data/X.csv") == "X.json"
    assert derive_schema_filename("/a/b/Smart_Farming.json") == "Smart_Farming.json"


def test_schema_roundtrip_and_fallback(tmp_path):
    schema = T.StructType([T.StructField("a", T.IntegerType())])
    save_schema(schema, str(tmp_path), "ds1")
    loaded = load_schema(str(tmp_path), "data/ds1.csv")
    assert loaded == schema
    assert load_schema(str(tmp_path), "data/absent.csv") is None


def test_schema_metadata_backfill(tmp_path):
    # reference code/utils.py:104-107: missing metadata keys backfilled
    doc = {"type": "struct", "fields": [{"name": "a", "type": "integer"}]}
    with open(os.path.join(tmp_path, "raw.json"), "w") as fh:
        json.dump(doc, fh)
    loaded = load_schema(str(tmp_path), "raw.csv")
    assert loaded.fields[0].metadata == {}
    assert loaded.fields[0].nullable is True


def test_csv_reader_with_schema(spark, tmp_path):
    p = os.path.join(tmp_path, "t.csv")
    with open(p, "w") as fh:
        fh.write("a,b\n1,x\n2,y\n")
    schema = T.StructType(
        [T.StructField("a", T.IntegerType()), T.StructField("b", T.StringType())]
    )
    df = read_batch_files(spark, p, "csv", schema)
    assert df.schema == schema
    assert df.count() == 2


def test_json_reader_inference(spark, tmp_path):
    p = os.path.join(tmp_path, "t.json")
    with open(p, "w") as fh:
        fh.write('{"a": 1}\n{"a": 2}\n')
    assert read_batch_files(spark, p, "json").count() == 2


def test_orc_reader_roundtrip_and_pushdown(spark, tmp_path):
    """ORC is the built-in columnar alternative to parquet (orc-core
    ships inside Spark): round-trip values exactly and confirm the
    filter reaches the ORC scan as a pushed filter."""
    import os

    d = os.path.join(tmp_path, "t_orc")
    src = spark.createDataFrame(
        [(i, f"s{i}", i * 1.5) for i in range(100)], "a long, b string, v double"
    )
    src.write.orc(d)
    df = read_batch_files(spark, d, "orc")
    assert sorted(r.a for r in df.collect()) == list(range(100))
    plan = (
        df.filter(df.a > 90).select("a")._jdf.queryExecution().toString()
    )
    assert "PushedFilters" in plan and "GreaterThan(a,90)" in plan


def test_eventgen_partition_independence(spark):
    """The custom source must return the SAME rows at any partition
    fan-out — retries and scale-ups cannot change the data."""
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.sources import eventgen

    eventgen.register(spark)

    def rows(nparts):
        return sorted(
            map(
                tuple,
                spark.read.format("eventgen")
                .option("n_rows", "997")
                .option("n_users", "31")
                .option("n_partitions", str(nparts))
                .load()
                .collect(),
            )
        )

    a, b = rows(1), rows(7)
    assert a == b
    assert len(a) == 997
    df = (
        spark.read.format("eventgen")
        .option("n_rows", "100")
        .option("n_partitions", "4")
        .load()
    )
    assert df.rdd.getNumPartitions() == 4


def test_load_schema_any_via_hadoop_uri(spark, tmp_path):
    # the cluster job's path: schema prefix addressed as a URI, read
    # through Hadoop FileSystem.open (works unchanged against s3a://)
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.sources.schema_registry import (
        load_schema_any,
        save_schema,
    )

    schema = T.StructType([
        T.StructField("sensor_id", T.StringType()),
        T.StructField("temperature_C", T.DoubleType()),
    ])
    save_schema(schema, str(tmp_path), "sensors")

    via_uri = load_schema_any(spark, f"file://{tmp_path}", "data/sensors.csv")
    assert via_uri == schema
    via_path = load_schema_any(spark, str(tmp_path), "data/sensors.json")
    assert via_path == schema
    assert load_schema_any(spark, f"file://{tmp_path}", "absent.csv") is None
