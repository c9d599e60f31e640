"""Standing independent comparator gate (VERDICT r11 order #1 —
promoted from the session artifact docs/indep_check_r11.py into a tier
tools/gate.sh runs after the oracle gate).

Deliberately NOT sharing code with tools/check_oracle.py (the C1/C2
oracle gate): Spark rows via collect() -> (value, type-tag)
multisets; DuckDB via fetchall() on the same connection config. A
comparator bug in the standing tools would have to be independently
reproduced here to stay hidden. tests/test_indep_check.py pins the
no-shared-imports property.

Ordering (ADVICE r11): the multiset compare alone cannot see row-order
bugs — and neither can the standing gates (the driver sorts rows
before hashing, so ordering is outside the driver's contract). To
shrink that shared blind spot, queries whose ORACLE SQL declares a
top-level ORDER BY additionally get an ordered row-list compare. A
declared ORDER BY need not be a total order, so an ordered mismatch
with a matching multiset can be benign tie reordering — or, when a
sort key is NULL, the engines' opposite ORDER BY defaults (Spark ASC
= NULLS FIRST, DuckDB ASC = NULLS LAST: the one r12 hostile-fixture
hit, stratified_split's NULL-lang group, diagnosed 2026-08-16). Both
are engine-placement semantics outside the driver's order-insensitive
contract; such a query is reported `tie` and counted red only under
--strict-order. r13 closed the NULL-placement channel by pinning
explicit NULLS FIRST/LAST on every nullable sort key in the
declared-ORDER-BY oracles (8 pinned; matched Spark-side by the
orderBy defaults already in use), so gate.sh now runs this tool with
--strict-order on the clean fixtures AND the hostile no-NaN fixture.
The r12 sf0.01 sweep (docs/INDEP_SWEEP_r12.txt) records how many of
the declared-ORDER-BY oracles compare order-identical in practice.

Usage: python tools/indep_check.py [sf_dir] [query ...] [--strict-order]
"""
import atexit
import math
import os
import shutil
import sys
import tempfile
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb

import __spark_entry__ as em
from advanced_real_time_data_pipeline_and_analytical_processing_spark.catalog import TABLES
from advanced_real_time_data_pipeline_and_analytical_processing_spark.session import get_spark

DUCKDB_MEMORY_LIMIT = "4GB"  # beyond it DuckDB spills to its temp_directory


def tag(v):
    # exact value + coarse type class; floats compared bit-exactly via repr
    if v is None:
        return ("null",)
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, float):
        if math.isnan(v):
            return ("float", "nan")
        return ("float", repr(v))
    if isinstance(v, (list, tuple)):
        return ("list", tuple(tag(x) for x in v))
    if isinstance(v, dict):
        return ("map", tuple(sorted((k, tag(x)) for k, x in v.items())))
    return (type(v).__name__, str(v))


def canon(cols, rows):
    """Name-sorted columns; returns (cols, ordered tagged rows, multiset)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    tagged = [tuple(tag(r[i]) for i in order) for r in rows]
    return tuple(sorted(cols)), tagged, Counter(tagged)


def has_top_level_order_by(sql: str) -> bool:
    """True iff the oracle SQL has an ORDER BY at paren depth 0 (i.e.
    one that governs final result order, not a window/subquery sort).
    Char scan with quote awareness — no SQL parser needed for the
    registry's dialect."""
    depth = 0
    i, n = 0, len(sql)
    up = sql.upper()
    while i < n:
        c = sql[i]
        if c == "'":
            i += 1
            while i < n and sql[i] != "'":
                i += 1
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0 and up.startswith("ORDER", i):
            before_ok = i == 0 or not (sql[i - 1].isalnum() or sql[i - 1] == "_")
            j = i + 5
            while j < n and sql[j].isspace():
                j += 1
            if before_ok and up.startswith("BY", j):
                return True
        i += 1
    return False


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--strict-order"]
    strict_order = "--strict-order" in sys.argv[1:]
    sf = argv[0] if argv else "/root/testdata/sf0.01"
    names = argv[1:] or None

    spark = get_spark("indep-check", cpus=8, shuffle_partitions=8)
    con = duckdb.connect()
    spill = tempfile.mkdtemp(prefix="duckspill-indep-")
    atexit.register(shutil.rmtree, spill, ignore_errors=True)
    con.execute(f"SET temp_directory = '{spill}'")
    # A fixed cap, not DuckDB's default of 80% of RAM: in a long run
    # beside the Spark JVM the default never spills, and the host kills
    # the process instead (sf1.0 on a 15 GB host).
    con.execute(f"SET memory_limit = '{DUCKDB_MEMORY_LIMIT}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    qs, os_ = em.queries(), em.oracle_sql()
    todo = names or [n for n in qs if n in os_]
    bad = 0
    ties = 0
    for n in todo:
        try:
            sdf = qs[n](spark, sf)
            s_cols, s_rows, s_ms = canon(
                sdf.columns, [tuple(r) for r in sdf.collect()]
            )
            cur = con.execute(os_[n])
            o_cols = [d[0] for d in cur.description]
            o_cols, o_rows, o_ms = canon(o_cols, cur.fetchall())
            if s_cols != o_cols:
                print(f"RED  {n}: cols {s_cols} vs {o_cols}")
                bad += 1
            elif s_ms != o_ms:
                only_s = list((s_ms - o_ms).items())[:2]
                only_o = list((o_ms - s_ms).items())[:2]
                print(
                    f"RED  {n}: multiset diff spark-only={only_s} "
                    f"oracle-only={only_o}"
                )
                bad += 1
            elif has_top_level_order_by(os_[n]) and s_rows != o_rows:
                ties += 1
                if strict_order:
                    first = next(
                        i for i, (a, b) in enumerate(zip(s_rows, o_rows)) if a != b
                    )
                    print(f"RED  {n}: ordered diff at row {first} (multiset equal)")
                    bad += 1
                else:
                    print(
                        f"tie  {n}: {len(s_rows)} rows (order differs; "
                        "multiset equal — tie or NULL-placement)"
                    )
            else:
                suffix = " +order" if has_top_level_order_by(os_[n]) else ""
                print(f"ok   {n}: {sum(s_ms.values())} rows{suffix}")
        except Exception as e:
            print(f"ERR  {n}: {str(e)[:150]}")
            bad += 1
    print(
        f"independent sweep: {len(todo) - bad}/{len(todo)} agree"
        + (f" ({ties} tie-order)" if ties else "")
    )
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
