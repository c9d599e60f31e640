"""Driver-environment defense: queries must match the oracle even when
the SparkSession they receive was built with hostile settings.

The external gate runs queries in ITS OWN environment; rounds 2-4
showed local-green/driver-red divergence. Two defenses exist:
`_with_session_config` pins runtime confs (UTC, nanosAsLong) on
whatever session arrives, and the gated head emits only integers.
This test builds a session a driver plausibly would — non-UTC
timezone, parquet NTZ inference disabled (timestamps become LTZ),
ANSI ON (the Spark 4 default; configure_session must pin it back
off at runtime or ''->bigint casts become errors) — in a FRESH JVM
(static confs can't change at runtime, hence the subprocess) and
exact-compares the formerly driver-red queries plus the
timestamp-heavy head queries against DuckDB.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

SCRIPT = r"""
import sys, math
sys.path.insert(0, sys.argv[1])  # the checkout under test
from pyspark.sql import SparkSession
import duckdb

spark = (SparkSession.builder.master("local[4]")
    .config("spark.sql.session.timeZone", "America/New_York")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.sql.ansi.enabled", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate())

import __spark_entry__ as em
from advanced_real_time_data_pipeline_and_analytical_processing_spark.catalog import TABLES

sf = "/root/testdata/sf0.001"
con = duckdb.connect()
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

def norm(v):
    if v is None:
        return "N"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    return str(v)

failures = []
for n in ["rolling_7day_revenue", "json_props_stats", "events_hourly",
          "monthly_order_seasonality", "flagship_event_stats"]:
    sdf = em.queries()[n](spark, sf)
    cols = sorted(sdf.columns)
    srows = sorted(tuple(norm(r[c]) for c in cols) for r in sdf.collect())
    cur = con.execute(em.oracle_sql()[n])
    ocols = [d[0] for d in cur.description]
    idx = sorted(range(len(ocols)), key=lambda i: ocols[i])
    orows = sorted(tuple(norm(r[i]) for i in idx) for r in cur.fetchall())
    if srows != orows:
        failures.append(n)
print("FAILURES:" + ",".join(failures))
"""


def test_queries_survive_hostile_driver_session():
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT, str(Path(__file__).resolve().parents[1])],
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    marker = [l for l in out.stdout.splitlines() if l.startswith("FAILURES:")]
    assert marker, out.stdout[-2000:]
    assert marker[0] == "FAILURES:", marker[0]
