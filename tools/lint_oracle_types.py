"""Registry-wide oracle emission-type lint (r9, VERDICT r8 #3).

The r8 probe decode proved the seven-round driver-red pair was caused
by the harness's value normalization of oracle output types that
Spark never emits: DuckDB promotes sum(BIGINT) to HUGEINT (INT128)
and exact sums to DECIMAL(38,0); under Arrow/pandas those normalize
differently than int64 even when every value is equal. Local string
comparison masks it. This lint makes the class extinct: every
oracle_sql() entry must emit ONLY Spark-emittable types.

r11 (VERDICT r10 #4) adds the int64-HEADROOM lint on top: the
emission doctrine's residual channel is ASYMMETRIC overflow — a
future >int64 oracle sum errors loudly on DuckDB's CAST while the
mirrored Spark sum(bigint) silently WRAPS (non-ANSI), so the sweep
would flag the oracle, not the wrong Spark value. This phase fires
BEFORE a query gets near the edge: for every _EMIT_BIGINT-pinned
column (the integer-sum emissions — the only accumulation channel),
measure max(abs) at sf0.001 and sf0.01, derive the per-decade growth
factor, project two more decades to sf1.0, and fail if the projection
is within 10x of 2^63. Columns that don't grow (maxes, fingerprints)
project flat; quadratic pair counts project with their measured
super-linear growth. The projection floor for a column empty at
sf0.001 is 100x/decade (conservative).

Usage: python tools/lint_oracle_types.py [sf_dir]
Prints one line per offending column; exit 1 if any.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from advanced_real_time_data_pipeline_and_analytical_processing_spark.catalog import TABLES

# What Spark emits through the driver's Arrow/pandas fetch: 64-bit-or-
# narrower integers, strings, doubles/floats, dates, timestamps,
# booleans, and lists/structs thereof. HUGEINT and DECIMAL(p,s) are
# DuckDB-only widths with engine-specific normalization — banned.
_ALLOWED_SCALAR = re.compile(
    r"^(BIGINT|INTEGER|INT|SMALLINT|TINYINT|VARCHAR|DOUBLE|FLOAT|DATE"
    r"|TIMESTAMP( WITH TIME ZONE)?|BOOLEAN|BLOB)$"
)


def type_ok(t: str) -> bool:
    t = t.strip()
    while t.endswith("[]"):  # list of allowed scalar is allowed
        t = t[:-2]
    if t.startswith("STRUCT(") and t.endswith(")"):
        # split top-level fields: "name TYPE, name TYPE"
        depth, start, parts = 0, 7, []
        for i, ch in enumerate(t[7:-1], 7):
            if ch in "(<[":
                depth += 1
            elif ch in ")>]":
                depth -= 1
            elif ch == "," and depth == 0:
                parts.append(t[start:i])
                start = i + 1
        parts.append(t[start:-1])
        return all(type_ok(p.strip().split(" ", 1)[1]) for p in parts)
    return bool(_ALLOWED_SCALAR.match(t))


INT64_MAX = 2**63 - 1
HEADROOM_FACTOR = 10  # projection must stay 10x under 2^63
DEFAULT_GROWTH = 100.0  # per-decade floor when sf0.001 is empty/zero


def project_sf1(m001: int, m01: int) -> float:
    """Projected max |value| at sf1.0 from the sf0.001/sf0.01 pair.

    growth = per-decade magnitude ratio (floored at 1.0: a column
    that shrinks still projects flat — never below its measured
    sf0.01 value); sf1.0 is two decades above sf0.01, so project
    m01 * growth^2. A column empty at sf0.001 gets the conservative
    DEFAULT_GROWTH (super-linear) because its growth is unmeasured.
    """
    if m01 == 0:
        return 0.0
    growth = (m01 / m001) if m001 > 0 else DEFAULT_GROWTH
    growth = max(growth, 1.0)
    return m01 * growth * growth


def _pinned_maxima(sf_dir: str) -> dict[tuple[str, str], int]:
    """max(abs(col)) for every _EMIT_BIGINT-pinned column at sf_dir."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = entrymod.oracle_sql()
    out: dict[tuple[str, str], int] = {}
    for name, cols in entrymod._EMIT_BIGINT.items():
        sel = ", ".join(
            f"coalesce(max(abs(CAST({c} AS BIGINT))), 0)" for c in cols
        )
        row = con.execute(f"SELECT {sel} FROM ({oracles[name]})").fetchone()
        for c, v in zip(cols, row):
            out[(name, c)] = int(v)
    return out


def headroom_lint(sf_small: str, sf_big: str) -> list[str]:
    """One line per pinned column whose sf1.0 projection is within
    HEADROOM_FACTOR of 2^63. Empty list = all clear."""
    m_small = _pinned_maxima(sf_small)
    m_big = _pinned_maxima(sf_big)
    bad = []
    for key in sorted(m_big):
        proj = project_sf1(m_small.get(key, 0), m_big[key])
        if proj * HEADROOM_FACTOR > INT64_MAX:
            name, col = key
            bad.append(
                f"HEADROOM {name}.{col}: sf0.001={m_small.get(key, 0)} "
                f"sf0.01={m_big[key]} projected_sf1={proj:.3g} "
                f"(x{HEADROOM_FACTOR} exceeds 2^63) — rescale the "
                f"column's fixed-point units before it overflows"
            )
    return bad


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    bad = 0
    for name, sql in entrymod.oracle_sql().items():
        try:
            desc = con.execute(f"DESCRIBE {sql}").fetchall()
        except Exception as e:
            print(f"ERR  {name}: describe failed: {str(e)[:160]}")
            bad += 1
            continue
        for col, typ, *_ in desc:
            if not type_ok(typ):
                print(f"BAD  {name}.{col}: {typ}")
                bad += 1
    for line in headroom_lint("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        print(line)
        bad += 1
    print(f"lint_oracle_types: {bad} offending columns")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
