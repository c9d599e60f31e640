from __future__ import annotations

import json
import os

from pyspark.sql import types as T

from advanced_real_time_data_pipeline_and_analytical_processing_spark.sources.schema_registry import (
    derive_schema_filename,
    load_schema_any,
)


def write_schema(schema: T.StructType, schema_dir: str, dataset: str) -> None:
    """A schema document as the registry stores it: StructType JSON in
    ``{dataset}.json``."""
    with open(os.path.join(schema_dir, f"{dataset}.json"), "w") as fh:
        json.dump(schema.jsonValue(), fh)


def test_schema_filename():
    assert derive_schema_filename("data/X.csv") == "X.json"
    assert derive_schema_filename("/a/b/Smart_Farming.json") == "Smart_Farming.json"


def test_schema_roundtrip_and_fallback(spark, tmp_path):
    schema = T.StructType([T.StructField("a", T.IntegerType())])
    write_schema(schema, str(tmp_path), "ds1")
    loaded = load_schema_any(spark, str(tmp_path), "data/ds1.csv")
    assert loaded == schema
    assert load_schema_any(spark, str(tmp_path), "data/absent.csv") is None


def test_schema_metadata_backfill(spark, tmp_path):
    # reference code/utils.py:104-107: missing metadata keys backfilled
    doc = {"type": "struct", "fields": [{"name": "a", "type": "integer"}]}
    with open(os.path.join(tmp_path, "raw.json"), "w") as fh:
        json.dump(doc, fh)
    loaded = load_schema_any(spark, str(tmp_path), "raw.csv")
    assert loaded.fields[0].metadata == {}
    assert loaded.fields[0].nullable is True


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
    schema = T.StructType([
        T.StructField("sensor_id", T.StringType()),
        T.StructField("temperature_C", T.DoubleType()),
    ])
    write_schema(schema, str(tmp_path), "sensors")

    via_uri = load_schema_any(spark, f"file://{tmp_path}", "data/sensors.csv")
    assert via_uri == schema
    via_path = load_schema_any(spark, str(tmp_path), "data/sensors.json")
    assert via_path == schema
    assert load_schema_any(spark, f"file://{tmp_path}", "absent.csv") is None
