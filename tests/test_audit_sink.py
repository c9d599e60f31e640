"""Audit sink (reference K4): the one-row append is written from the
driver without a Spark job, its values are data (never formatted into
text), and what Spark reads back is what the earlier ``createDataFrame``
sink wrote for the same record."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from advanced_real_time_data_pipeline_and_analytical_processing_spark.sinks import writers
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


def _spark_work(spark, fn) -> tuple[int, int]:
    """(SQL executions, jobs) that ``fn`` runs."""
    sc = spark.sparkContext._jsc.sc()
    store = spark._jsparkSession.sharedState().statusStore()
    first_exec, first_job = store.executionsCount(), sc.dagScheduler().nextJobId()
    fn()
    sc.listenerBus().waitUntilEmpty()
    return store.executionsCount() - first_exec, sc.dagScheduler().nextJobId() - first_job


@pytest.mark.parametrize("rec", RECORDS, ids=["failure_hostile_message", "success_null_batch"])
def test_audit_row_is_bound_local_relation_equal_to_createdataframe_sink(spark, tmp_path, rec):
    out = str(tmp_path / "audit")
    before = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    work = _spark_work(spark, lambda: write_audit(spark, out, rec))
    after = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)

    assert work == (0, 0)  # no SQL execution and no job ran

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


@pytest.mark.parametrize("step", ["create", "rename"])
def test_failed_attempt_leaves_no_file_and_retry_writes_one(spark, tmp_path, monkeypatch, step):
    """An attempt that fails after its temp file was created, or whose
    rename fails, leaves nothing behind, visible or hidden; the retry
    writes exactly one file."""
    out = str(tmp_path / "audit")
    real_write = writers._ParquetRowWriter.write
    attempts = []

    def failing_once(self, hconf, path, row):
        real_write(self, hconf, path, row)
        attempts.append(path.toString())
        if len(attempts) > 1:
            return
        tmp = path.toUri().getPath()
        assert os.path.exists(tmp)  # the temp file was created
        if step == "create":
            raise OSError("store down after create")
        # the rename now has no source: take the file and its checksum away
        for f in (tmp, os.path.join(os.path.dirname(tmp), f".{os.path.basename(tmp)}.crc")):
            os.remove(f)

    monkeypatch.setattr(writers._ParquetRowWriter, "write", failing_once)
    monkeypatch.setattr(writers.time, "sleep", lambda s: None)
    rec = RECORDS[1]
    write_audit(spark, out, rec)

    assert len(attempts) == 2
    assert all(os.path.basename(a).startswith(".") for a in attempts)  # hidden temp names
    files = [os.path.join(d, f) for d, _, fs in os.walk(out) for f in fs]
    # Spark and pyarrow skip names that start with '.' or '_'
    [visible] = [f for f in files if not os.path.basename(f).startswith((".", "_"))]
    assert os.path.basename(visible).startswith("part-") and visible.endswith(".parquet")
    # left: the one file and its checksum, no temp file of either attempt
    assert sorted(files) == sorted([visible, os.path.join(os.path.dirname(visible), f".{os.path.basename(visible)}.crc")])
    [row] = spark.read.parquet(out).collect()
    assert (row["total_rows"], row["good_rows"], row["bad_rows"]) == (rec.total_rows, rec.good_rows, rec.bad_rows)
