"""Sinks (reference K1-K4).

- partitioned parquet: ``write_partitions`` is the one
  dynamic-partition-overwrite write that the ingest's good and
  quarantine sinks and the drains' sink share, so a replayed batch
  overwrites exactly its own partition.
- quarantine: written by ``streaming/ingest.process_batch`` — bad rows
  + error_reason, parquet partitioned by batch_id so a replayed batch
  overwrites its own partition (reference K3 used date-partitioned
  JSON, ``code/helpers.py:229-244``).
- audit: explicit-schema one-row-per-batch table partitioned by
  audit_date (fixes reference anti-pattern §4.3-10: inferred audit
  schema), counts sourced from ``observe()`` metrics, not extra actions.
  The row is encoded on the driver and written through the Hadoop
  ``FileSystem`` API, so an append runs no Spark job (no task, no
  serialized Hadoop configuration, no output-committer protocol).
- retry: exponential backoff around the audit append (reference R1,
  ``code/helpers.py:14-44``). The JDBC sink is ``jdbc_upsert.py``.
"""

from __future__ import annotations

import datetime as dt
import functools
import time
import uuid
from dataclasses import asdict, dataclass
from typing import Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

T_ = TypeVar("T_")

AUDIT_SCHEMA = T.StructType(
    [
        T.StructField("audit_ts", T.TimestampType(), False),
        T.StructField("batch_id", T.LongType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("fmt", T.StringType(), True),
        T.StructField("total_rows", T.LongType(), False),
        T.StructField("good_rows", T.LongType(), False),
        T.StructField("bad_rows", T.LongType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("message", T.StringType(), True),
        T.StructField("audit_date", T.StringType(), False),
    ]
)


def retry(fn: Callable[..., T_]) -> Callable[..., T_]:
    """Reference R1 semantics (``code/helpers.py:14-44``): three
    attempts, 5 s apart and doubling."""

    def wrapped(*args, **kwargs) -> T_:
        wait = 5.0
        for attempt in range(1, 4):
            try:
                return fn(*args, **kwargs)
            except Exception:
                if attempt == 3:
                    raise
                time.sleep(wait)
                wait *= 2.0
        raise RuntimeError("unreachable")

    wrapped.__name__ = getattr(fn, "__name__", "retried")
    return wrapped


def write_partitions(df: DataFrame, path: str, partition_col: str) -> None:
    """Parquet write that replaces only the ``partition_col`` values
    present in ``df`` (dynamic partition overwrite) and leaves every
    other partition under ``path`` as it is.

    No ``_SUCCESS`` marker: under dynamic overwrite the committer writes
    it (and its ``.crc``) into the job's ``.spark-staging-<id>/`` dir,
    which ``commitJob`` deletes straight away, so nothing reads it and
    skipping it saves its local-file-system child processes."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        .partitionBy(partition_col)
        .parquet(path)
    )


@dataclass
class AuditRecord:
    batch_id: int | None
    source: str
    fmt: str
    total_rows: int
    good_rows: int
    bad_rows: int
    status: str
    message: str | None = None


# The audit file's Parquet schema: AUDIT_SCHEMA less its partition
# column, timestamps as UTC-adjusted microseconds (read back by Spark as
# TimestampType).
_PARQUET_TYPES = {
    T.TimestampType(): "int64 {} (TIMESTAMP(MICROS,true))",
    T.LongType(): "int64 {}",
    T.StringType(): "binary {} (STRING)",
}
_AUDIT_MESSAGE = "message spark_schema { %s }" % " ".join(
    f"{'optional' if f.nullable else 'required'} {_PARQUET_TYPES[f.dataType].format(f.name)};"
    for f in AUDIT_SCHEMA.fields
    if f.name != "audit_date"
)
_EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


class _ParquetRowWriter:
    """Writes one row as a Parquet file with parquet-hadoop's example
    writer, in the driver's JVM. The JVM handles are resolved once per
    gateway, each by its full class name: one py4j round trip. Walking
    py4j's package view instead (``jvm.org.apache...``) costs a round
    trip per name segment, and each segment that is not a class is a
    ``Class.forName`` miss that scans the whole classpath (3.5 ms per
    walk against 0.1 ms by full name, measured on a local session)."""

    def __init__(self, gateway):
        jvm = gateway.jvm
        self.gateway = gateway
        self.Path = getattr(jvm, "org.apache.hadoop.fs.Path")
        self.schema = getattr(jvm, "org.apache.parquet.schema.MessageTypeParser").parseMessageType(_AUDIT_MESSAGE)
        self.Group = getattr(jvm, "org.apache.parquet.example.data.simple.SimpleGroup")
        self.OutputFile = getattr(jvm, "org.apache.parquet.hadoop.util.HadoopOutputFile")
        self.Writer = getattr(jvm, "org.apache.parquet.hadoop.example.ExampleParquetWriter")
        self.Object = getattr(jvm, "java.lang.Object")
        # py4j passes a Python int in int32 range as a Java int, and
        # overload resolution would then pick add(String, int), which an
        # int64 column rejects; reflection widens it to long.
        signature = gateway.new_array(getattr(jvm, "java.lang.Class"), 2)
        signature[0] = getattr(jvm, "java.lang.String")._java_lang_class
        signature[1] = getattr(jvm, "java.lang.Long").TYPE
        self.add_long = self.Group._java_lang_class.getMethod("add", signature)

    def write(self, hconf, path, row: dict) -> None:
        group = self.Group(self.schema)
        args = self.gateway.new_array(self.Object, 2)
        for name, value in row.items():
            if isinstance(value, str):
                group.add(name, value)
            elif value is not None:
                args[0], args[1] = name, value
                self.add_long.invoke(group, args)
        writer = self.Writer.builder(self.OutputFile.fromPath(path, hconf)).withConf(hconf).withType(self.schema).build()
        try:
            writer.write(group)
        finally:
            writer.close()


_row_writer = functools.cache(_ParquetRowWriter)


@retry
def write_audit(spark: SparkSession, out_dir: str, rec: AuditRecord) -> None:
    """One-row explicit-schema audit append (reference K4), written from
    the driver without a Spark job. The file is written under a hidden
    temp name in ``audit_date=YYYY-MM-DD/`` and then renamed to
    ``part-<uuid>.parquet``, so a failed attempt leaves no visible file.
    Every attempt that succeeds appends one record: the sink is an
    attempt log, and a replayed batch leaves a second one."""
    now = dt.datetime.now(dt.timezone.utc)
    row = {**asdict(rec), "audit_ts": (now - _EPOCH) // dt.timedelta(microseconds=1)}
    encoder = _row_writer(spark.sparkContext._gateway)
    hconf = spark._jsc.hadoopConfiguration()
    part_dir = encoder.Path(out_dir, f"audit_date={now:%Y-%m-%d}")
    name = f"part-{uuid.uuid4()}.parquet"
    tmp, final = encoder.Path(part_dir, f".{name}.tmp"), encoder.Path(part_dir, name)
    fs = tmp.getFileSystem(hconf)
    try:
        encoder.write(hconf, tmp, row)
        if not fs.rename(tmp, final):
            raise OSError(f"audit: rename {tmp.toString()} -> {final.toString()} failed")
    except BaseException:
        fs.delete(tmp, False)
        raise
