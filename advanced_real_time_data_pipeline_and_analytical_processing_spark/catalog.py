"""Testdata catalog: load the driver's parquet tables and register views.

Mirrors the reference's per-dataset table registry (reference
``code/helpers.py:218-221`` derives one table per input file) but backed
by columnar parquet with full predicate pushdown / column pruning
instead of JDBC round-trips.
"""

from __future__ import annotations

import os

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def normalize_event_time(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to plain TIMESTAMP whatever the
    fixture writer produced: TIMESTAMP(NANOS) read as bigint nanos
    (legacy nanosAsLong), or naive micros read as TIMESTAMP_NTZ.
    Session tz is pinned UTC, so the NTZ→LTZ cast is value-preserving.
    Nanos are truncated to micros — the same thing DuckDB's micros
    TIMESTAMP does on read. Works on batch and streaming frames alike."""
    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":
        # Integer division, NOT `/ 1000` + cast: int64 epoch-nanos
        # (~1.7e18) exceed double's 53-bit exact range, so float division
        # lands on the wrong microsecond for ~12% of real fixture rows.
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    elif dtype == "timestamp_ntz":
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


# Session confs that change what parquet schema inference returns for
# the same file (timestamp and binary mapping, field-name matching).
SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
)

# (session, qualified path) -> (files stamp, conf values, schema). One
# entry per table a session reads: a changed stamp or conf replaces it.
# Process-wide like Spark's own caches; the key makes sharing safe.
_SCHEMAS: dict[tuple[str, str], tuple[tuple, tuple, StructType]] = {}


def _files_stamp(spark: SparkSession, path: str) -> tuple[str, tuple]:
    """Qualified path, and (path, length, modification time) of every
    file under it (a Spark-written table is a directory), from Hadoop
    FileStatus — no Spark job."""
    # by full name: one py4j round trip, not one per package segment
    hpath = getattr(spark.sparkContext._jvm, "org.apache.hadoop.fs.Path")(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    st = fs.getFileStatus(hpath)
    qualified = st.getPath().toString()
    if not st.isDirectory():
        return qualified, ((qualified, st.getLen(), st.getModificationTime()),)
    files, it = [], fs.listFiles(hpath, True)
    while it.hasNext():
        f = it.next()
        files.append((f.getPath().toString(), f.getLen(), f.getModificationTime()))
    return qualified, tuple(sorted(files))


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, inferred once per
    session, file state and schema-relevant conf values. Inference is a
    Spark job (a footer read); a warm lookup is a few FileStatus calls."""
    try:
        qualified, stamp = _files_stamp(spark, path)
    except Py4JJavaError:  # a glob, or a missing path: Spark's own read decides
        return spark.read.parquet(path).schema
    key = (spark._jsparkSession.sessionUUID(), qualified)
    confs = tuple(spark.conf.get(c, None) for c in SCHEMA_CONFS)
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == stamp and hit[1] == confs:
        return hit[2]
    schema = spark.read.parquet(path).schema
    _SCHEMAS[key] = (stamp, confs, schema)
    return schema


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema from parquet_schema."""
    return spark.read.schema(parquet_schema(spark, path)).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    # events.ts is TIMESTAMP(NANOS), which arrives as bigint nanos (via
    # spark.sql.legacy.parquet.nanosAsLong). Naive parquet timestamps (no
    # isAdjustedToUTC) arrive as TIMESTAMP_NTZ, which event-time ops
    # (watermarks, unix_micros, double casts) reject. Normalize both so
    # all queries see plain TIMESTAMP regardless of the fixture's writer.
    if name == "events":
        df = normalize_event_time(df)
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = normalize_event_time(df, col)
    return df


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Register every testdata table as a temp view (for the SQL API)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
