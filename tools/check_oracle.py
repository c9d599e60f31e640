"""The oracle gate: every registry query against its DuckDB oracle,
judged by three comparators on ONE execution.

Per query the Spark builder runs once and its rows are collected once
(``[tuple(r) for r in sdf.collect()]``). The oracle SQL runs once
through DuckDB's ``fetchall()``, whose rows C1 and C3 share, and once
more through C2's own Arrow fetch:

  C1 (str)    cells normalised by ``norm_cell`` (str, exact float
              repr), columns sorted by name, rows sorted. A failure is
              classified:
                spark-err   Spark raised
                oracle-err  DuckDB raised (e.g. the error-vs-NULL cast
                            asymmetry on hostile data)
                cols/rows   shape divergence
                values      the silent channel
  C2 (typed)  DuckDB Arrow fetch; cells normalised by ``norm`` (repr, so
              Decimal('3') != 3) and compared by ``table_hash`` — the
              model of the driver's CORRECTNESS gate. Driver history
              fixed it: nullable-BIGINT rows were driver-green (so no
              pandas fetch, which would render 123 as 123.0), while a
              HUGEINT and a DECIMAL(38,0) emitter stayed red for seven
              rounds with every value equal (so no plain str() hash).
              An Arrow fetch plus a type-sensitive normalisation is the
              one model consistent with both; C1 alone is blind to the
              second class (tests/test_gate_sensitivity.py pins it).
  C3 (indep)  ``indep_check.c3_verdict``: (value, type-tag) multisets,
              plus an ordered compare when the oracle declares a
              top-level ORDER BY. It shares no comparison code with C1
              or C2 (tests/test_indep_check.py pins that).

A query prints ``PASS`` only when all three comparators are green, else
``FAIL`` with the three verdicts. Exit 1 on any FAIL, 2 on a query name
the registry does not declare.

Usage: python tools/check_oracle.py [--hostile-session] [sf_dir] [query ...]

  --hostile-session  replay in the most hostile session a driver
                     plausibly builds (non-UTC timezone, parquet NTZ
                     inference off, ANSI on), proving configure_session's
                     runtime rescue covers every query. Static confs must
                     be set before the JVM exists: run it in a fresh
                     process.

A run over the whole registry (no query names) writes
docs/ORACLE_CHECK_<sf_dir name>[_hostile_session].json: run provenance
(tools/run_meta.py), per-query C1/C2/C3 verdicts and counts.
"""

from __future__ import annotations

import atexit
import hashlib
import json
import math
import os
import shutil
import sys
import tempfile
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

import duckdb
from pyspark.sql import SparkSession

import run_meta
from indep_check import c3_verdict

import __spark_entry__ as entrymod
from advanced_real_time_data_pipeline_and_analytical_processing_spark.catalog import TABLES
from advanced_real_time_data_pipeline_and_analytical_processing_spark.session import (
    get_spark,
    put_checkout_on_worker_path,
)

DUCKDB_MEMORY_LIMIT = "4GB"  # beyond it DuckDB spills to its temp_directory


def norm_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)  # exact — catches last-ulp round() divergence
    return str(v)


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(cols), sorted(out)


def norm(v) -> str:
    """Type-sensitive cell normalization: repr distinguishes
    Decimal('3') / 3.0 / 3 — the discrimination a typed harness has
    and a str() comparison lacks."""
    if v is None:
        return "\x00NULL"
    if isinstance(v, bytearray):  # Spark binary vs Arrow bytes
        v = bytes(v)
    if isinstance(v, str):
        return v
    return repr(v)


def table_hash(cols, rows) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(norm(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\x1e".join(lines).encode()).hexdigest()


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # Per-process spill dir: DuckDB's in-memory default is ./.tmp, and two
    # concurrent sweep processes in the same cwd corrupt each other's
    # temp_storage files (observed 2026-08-16 at sf1.0: IOException mid-spill).
    # mkdtemp (not cwd/pid) so repeated runs leave no stale dirs and pid
    # reuse can never resurrect one; removed on exit.
    spill = tempfile.mkdtemp(prefix="duckspill-oracle-")
    atexit.register(shutil.rmtree, spill, ignore_errors=True)
    con.execute(f"SET temp_directory = '{spill}'")
    # A fixed cap, not DuckDB's default of 80% of RAM: in a long run
    # beside the Spark JVM the default never spills, and the host kills
    # the process instead (sf1.0 on a 15 GB host).
    con.execute(f"SET memory_limit = '{DUCKDB_MEMORY_LIMIT}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def c1_verdict(s_cols, s_rows, d_cols, d_rows) -> dict:
    """The str comparator over DuckDB's fetchall() rows."""
    sc, sr = norm_rows(s_cols, s_rows)
    dc, dr = norm_rows(d_cols, d_rows)
    if sc != dc:
        return {"status": "cols", "spark": sc, "duck": dc}
    if len(sr) != len(dr):
        return {"status": "rows", "spark": len(sr), "duck": len(dr)}
    if sr != dr:
        diff = [(a, b) for a, b in zip(sr, dr) if a != b][:3]
        return {"status": "values", "first_diffs": [[list(a), list(b)] for a, b in diff]}
    return {"status": "PASS", "n": len(sr)}


def c2_error(e: Exception) -> dict:
    return {"rows_match": False, "schema_match": False,
            "hash_match": False, "err": str(e)[:300]}


def c2_verdict(s_cols, s_rows, con, sql) -> dict:
    """The typed comparator over DuckDB's Arrow fetch — the driver model."""
    try:
        o_tbl = con.execute(sql).arrow()
    except Exception as e:
        return c2_error(e)
    o_cols = o_tbl.column_names
    cols_py = [o_tbl.column(c).to_pylist() for c in o_cols]
    o_rows = list(zip(*cols_py)) if o_cols else []
    if not any(cols_py):
        o_rows = []
    return {
        "rows_match": len(s_rows) == len(o_rows),
        "schema_match": sorted(s_cols) == sorted(o_cols),
        "hash_match": table_hash(s_cols, s_rows) == table_hash(o_cols, o_rows),
        "spark_rows": len(s_rows),
        "oracle_rows": len(o_rows),
        "err": None,
    }


def c2_status(rec: dict) -> str:
    if rec["err"]:
        return "err"
    for key in ("rows_match", "schema_match", "hash_match"):
        if not rec[key]:
            return key.split("_")[0]
    return "PASS"


def judge(s_cols, s_rows, con, sql) -> dict:
    """All three verdicts on one collected Spark result. The oracle SQL
    runs once through fetchall(), for C1 and C3, and once through C2's
    Arrow fetch."""
    try:
        res = con.execute(sql)
        d_cols = [d[0] for d in res.description]
        d_rows = res.fetchall()
    except Exception as e:
        c1 = c3 = {"status": "oracle-err", "detail": str(e)[:400]}
    else:
        c1 = c1_verdict(s_cols, s_rows, d_cols, d_rows)
        c3 = c3_verdict(s_cols, s_rows, d_cols, d_rows, sql)
    v = {"c1": c1, "c2": c2_verdict(s_cols, s_rows, con, sql), "c3": c3}
    v["pass"] = c1["status"] == c2_status(v["c2"]) == c3["status"] == "PASS"
    return v


def check(spark, con, sf_dir: str, build, sql) -> dict:
    """The three verdicts for one query from a single Spark execution."""
    try:
        sdf = build(spark, sf_dir)
        s_rows = [tuple(r) for r in sdf.collect()]
        s_cols = sdf.columns
    except Exception as e:
        err = {"status": "spark-err", "detail": str(e)[:400]}
        return {"c1": err, "c2": c2_error(e), "c3": err, "pass": False}
    return judge(s_cols, s_rows, con, sql)


def run(spark, sf_dir: str, only=()) -> dict:
    """Check every registry query (or only the named ones), print one
    line per query, and return {name: {"c1": ..., "c2": ..., "c3": ...,
    "pass": ...}}."""
    con = oracle_connection(sf_dir)
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    report = {}
    for name, build in queries.items():
        if only and name not in only:
            continue
        v = report[name] = check(spark, con, sf_dir, build, oracles[name])
        if v["pass"]:
            order = " +order" if v["c3"]["ordered"] else ""
            print(f"PASS {name}: {v['c1']['n']} rows{order}", flush=True)
        else:
            print(f"FAIL {name}: C1 {v['c1']['status']}, C2 {c2_status(v['c2'])}, "
                  f"C3 {v['c3']['status']}: {json.dumps(v)[:300]}", flush=True)
    con.close()
    return report


def hostile_session() -> SparkSession:
    put_checkout_on_worker_path()
    return (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.session.timeZone", "America/New_York")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def main() -> int:
    hostile = "--hostile-session" in sys.argv
    if hostile:
        sys.argv.remove("--hostile-session")
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    unknown = sorted(only - entrymod.queries().keys())
    if unknown:
        print(f"oracle check: unknown query names: {' '.join(unknown)}")
        return 2
    spark = hostile_session() if hostile else get_spark("oracle-check", cpus=8, shuffle_partitions=8)
    report = run(spark, sf_dir, only)
    spark.stop()
    counts = dict(sorted(Counter(v["c1"]["status"] for v in report.values()).items()))
    c2_green = sum(c2_status(v["c2"]) == "PASS" for v in report.values())
    c3_green = sum(v["c3"]["status"] == "PASS" for v in report.values())
    ordered = sum(v["c3"]["status"] == "PASS" and v["c3"]["ordered"] for v in report.values())
    passed = sum(v["pass"] for v in report.values())
    if not only:
        tag = os.path.basename(sf_dir.rstrip("/")) + ("_hostile_session" if hostile else "")
        out = os.path.join(REPO, "docs", f"ORACLE_CHECK_{tag}.json")
        summary = {"_meta": run_meta.meta(), "fixture": sf_dir, "hostile_session": hostile,
                   "c1_counts": counts, "c2_green": c2_green, "c3_green": c3_green,
                   "queries": report}
        with open(out, "w") as f:
            json.dump(summary, f, indent=1, sort_keys=True)
    print(f"oracle check: {passed}/{len(report)} PASS; C1 {json.dumps(counts)}; "
          f"C2 {c2_green}/{len(report)} green; C3 {c3_green}/{len(report)} green "
          f"({ordered} ordered)")
    return 0 if passed == len(report) else 1


if __name__ == "__main__":
    raise SystemExit(main())
