"""Audit sink (reference K4): the one-row append is a JVM-side local
relation whose values are bound parameters, and what lands on disk is
what the earlier ``createDataFrame`` sink wrote for the same record."""

from __future__ import annotations

import datetime as dt

import pytest

from advanced_real_time_data_pipeline_and_analytical_processing_spark.sinks.writers import (
    AUDIT_SCHEMA,
    AuditRecord,
    write_audit,
)

HOSTILE = "it's a \\ path\nline two'); DROP TABLE audit; --"

RECORDS = [
    AuditRecord(
        batch_id=3,
        source="s3a://bucket/in",
        fmt="csv",
        total_rows=0,
        good_rows=0,
        bad_rows=0,
        status="FAILURE",
        message=HOSTILE,
    ),
    AuditRecord(
        batch_id=None,
        source="/data/in",
        fmt="json",
        total_rows=5_000_000_000,  # past int32
        good_rows=4_999_999_998,
        bad_rows=2,
        status="SUCCESS",
    ),
]


def _write_createdataframe_sink(spark, out_dir, rec, now):
    """The sink as it was before the local relation: a one-row Python
    list through createDataFrame."""
    row = [
        (
            now,
            rec.batch_id,
            rec.source,
            rec.fmt,
            rec.total_rows,
            rec.good_rows,
            rec.bad_rows,
            rec.status,
            rec.message,
            now.strftime("%Y-%m-%d"),
        )
    ]
    (
        spark.createDataFrame(row, AUDIT_SCHEMA)
        .coalesce(1)
        .write.mode("append")
        .partitionBy("audit_date")
        .parquet(out_dir)
    )


def _plans_of(spark, fn):
    """Physical plans of the SQL executions ``fn`` runs."""
    store = spark._jsparkSession.sharedState().statusStore()
    first = store.executionsCount()
    fn()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = store.executionsList(first, store.executionsCount() - first)
    return [execs.apply(i).physicalPlanDescription() for i in range(execs.size())]


@pytest.mark.parametrize("rec", RECORDS, ids=["failure_hostile_message", "success_null_batch"])
def test_audit_row_is_bound_local_relation_equal_to_createdataframe_sink(spark, tmp_path, rec):
    out = str(tmp_path / "audit")
    before = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    plans = _plans_of(spark, lambda: write_audit(spark, out, rec))
    after = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)

    assert plans and any("LocalTableScan" in p for p in plans), plans
    assert not any("ExistingRDD" in p for p in plans), plans

    got = spark.read.parquet(out)
    [row] = got.collect()
    assert row["message"] == rec.message  # verbatim, quotes/newline included
    assert before <= row["audit_ts"] <= after  # UTC wall clock, as before
    # the partition value reads back as a DATE (partition type inference)
    assert row["audit_date"] == row["audit_ts"].date()

    ref_dir = str(tmp_path / "ref")
    _write_createdataframe_sink(spark, ref_dir, rec, row["audit_ts"])
    ref = spark.read.parquet(ref_dir)
    assert got.schema == ref.schema
    assert row == ref.collect()[0]
