"""Catalog-layer timestamp semantics.

events.parquet stores ts as TIMESTAMP(NANOS); Spark has no nanos type so
the session reads it as long (nanosAsLong) and catalog.load_table
truncates to micros. The division MUST be int64-exact: float division
(`/ 1000` + cast) loses precision above 2^53 and lands ~12% of real
epoch-nanos on the wrong microsecond (ADVICE r1)."""

from __future__ import annotations

import pyarrow.parquet as pq

from advanced_real_time_data_pipeline_and_analytical_processing_spark.catalog import load_table

SF_DIR = "/root/testdata/sf0.001"


def test_ns_to_us_matches_pyarrow_truncation(spark):
    # pyarrow ground truth: int64 -> floor-division microseconds,
    # whatever unit the fixture writer chose (ns in round 1-2 data,
    # plain us since round 3)
    tbl = pq.read_table(f"{SF_DIR}/events.parquet", columns=["event_id", "ts"])
    unit = tbl.schema.field("ts").type.unit
    raw = dict(zip(tbl["event_id"].to_pylist(), tbl["ts"].cast("int64").to_pylist()))
    to_us = {"ns": lambda v: v // 1000, "us": lambda v: v, "ms": lambda v: v * 1000}[unit]
    expected = {k: to_us(v) for k, v in raw.items()}

    df = load_table(spark, SF_DIR, "events").selectExpr(
        "event_id", "unix_micros(ts) AS us"
    )
    got = {r["event_id"]: r["us"] for r in df.collect()}
    assert got == expected  # exact on every row, not just most


def _jobs_run(spark, fn):
    """Spark jobs ``fn`` fires, read above a job-id watermark."""
    sc = spark.sparkContext._jsc.sc()
    first = sc.dagScheduler().nextJobId()
    out = fn()
    return sc.dagScheduler().nextJobId() - first, out


def test_load_table_infers_each_file_state_once(spark, tmp_path):
    """The schema is inferred once per session, file state and
    schema-relevant conf values: an unchanged file loads with no Spark
    job, while a rewritten file or a flipped inference conf is inferred
    afresh — a stale schema is never returned."""
    import os

    import pyarrow as pa
    import pytest

    path = str(tmp_path / "events.parquet")
    ts = pa.array([1_700_000_000_123_456_789], pa.timestamp("ns"))

    def write(cols):
        pq.write_table(pa.table({"ts": ts, **cols}), path)

    write({"value": [1.5], "tag": pa.array([b"x"], pa.binary())})
    jobs, df = _jobs_run(spark, lambda: load_table(spark, str(tmp_path), "events"))
    assert jobs == 1 and df.columns == ["ts", "value", "tag"]
    jobs, df = _jobs_run(spark, lambda: load_table(spark, str(tmp_path), "events"))
    assert jobs == 0 and dict(df.dtypes) == {"ts": "timestamp", "value": "double", "tag": "binary"}
    assert df.collect()[0]["value"] == 1.5

    # same length, new modification time: only the stamp tells them apart
    size = os.path.getsize(path)
    write({"valuf": [1.5], "tag": pa.array([b"x"], pa.binary())})
    assert os.path.getsize(path) == size
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 2_000_000_000))
    jobs, df = _jobs_run(spark, lambda: load_table(spark, str(tmp_path), "events"))
    assert jobs == 1 and df.columns == ["ts", "valuf", "tag"]

    try:
        spark.conf.set("spark.sql.parquet.binaryAsString", "true")
        assert dict(load_table(spark, str(tmp_path), "events").dtypes)["tag"] == "string"
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
        # without nanosAsLong Spark cannot type a TIMESTAMP(NANOS) column
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            load_table(spark, str(tmp_path), "events")
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.unset("spark.sql.parquet.binaryAsString")
    assert dict(load_table(spark, str(tmp_path), "events").dtypes)["tag"] == "binary"
