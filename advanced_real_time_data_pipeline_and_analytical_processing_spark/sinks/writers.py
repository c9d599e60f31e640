"""Sinks (reference K1-K4).

- quarantine: written by ``streaming/ingest.process_batch`` — bad rows
  + error_reason, parquet partitioned by batch_id so a replayed batch
  overwrites its own partition (reference K3 used date-partitioned
  JSON, ``code/helpers.py:229-244``).
- audit: explicit-schema one-row-per-batch table partitioned by
  audit_date (fixes reference anti-pattern §4.3-10: inferred audit
  schema), counts sourced from ``observe()`` metrics, not extra actions.
- retry: exponential backoff around the audit append (reference R1,
  ``code/helpers.py:14-44``). The JDBC sink is ``jdbc_upsert.py``.
"""

from __future__ import annotations

import datetime as dt
import time
from dataclasses import asdict, dataclass
from typing import Callable, TypeVar

from pyspark.sql import SparkSession
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


def retry(attempts: int = 3, delay_s: float = 5.0, backoff: float = 2.0):
    """Reference R1 semantics (``code/helpers.py:14-44``)."""

    def deco(fn: Callable[..., T_]) -> Callable[..., T_]:
        def wrapped(*args, **kwargs) -> T_:
            wait = delay_s
            for attempt in range(1, attempts + 1):
                try:
                    return fn(*args, **kwargs)
                except Exception:
                    if attempt == attempts:
                        raise
                    time.sleep(wait)
                    wait *= backoff
            raise RuntimeError("unreachable")

        wrapped.__name__ = getattr(fn, "__name__", "retried")
        return wrapped

    return deco


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


# The audit row as a one-row VALUES relation: it plans as a
# LocalTableScan built in the JVM (no pickled Python RDD, no codegen).
# Every value is a bound parameter, never formatted into the text —
# `message` carries arbitrary exception text. Timestamps are cast to
# TIMESTAMP_LTZ explicitly: a bare TIMESTAMP follows
# spark.sql.timestampType.
_AUDIT_CASTS = ", ".join(
    f"CAST(:{f.name} AS "
    f"{'TIMESTAMP_LTZ' if isinstance(f.dataType, T.TimestampType) else f.dataType.simpleString()})"
    for f in AUDIT_SCHEMA.fields
)
_AUDIT_SQL = f"SELECT * FROM VALUES ({_AUDIT_CASTS}) AS t({', '.join(AUDIT_SCHEMA.fieldNames())})"


@retry()
def write_audit(spark: SparkSession, out_dir: str, rec: AuditRecord) -> None:
    """One-row explicit-schema audit append (reference K4); one row is
    one partition, so one file per append."""
    now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
    args = {**asdict(rec), "audit_ts": now, "audit_date": now.strftime("%Y-%m-%d")}
    (
        spark.sql(_AUDIT_SQL, args=args)
        .write.mode("append")
        .partitionBy("audit_date")
        .parquet(out_dir)
    )

