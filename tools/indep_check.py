"""C3, the independent comparator of the oracle gate.

tools/check_oracle.py executes each registry query once and hands the
same rows to all three comparators; this module is C3's comparison
code and nothing else. It deliberately shares no code with C1/C2 (the
str compare and the typed Arrow-fetch hash in tools/check_oracle.py):
rows become (value, type-tag) multisets here, so a comparator bug in
C1 or C2 would have to be independently reproduced here to stay
hidden. tests/test_indep_check.py pins the no-shared-imports property.

Ordering: the multiset compare alone cannot see row-order bugs, and
neither can C1/C2 (the driver sorts rows before hashing, so ordering
is outside the driver's contract). To shrink that shared blind spot,
queries whose ORACLE SQL declares a top-level ORDER BY additionally
get an ordered row-list compare, and any ordered mismatch is red. A
declared ORDER BY must therefore be a total order on both engines:
every nullable sort key spells out NULLS FIRST/LAST (Spark ASC =
NULLS FIRST, DuckDB ASC = NULLS LAST), which tests/test_registry.py
pins.
"""
import math
from collections import Counter


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


def c3_verdict(s_cols, s_rows, o_cols, o_rows, sql) -> dict:
    """Spark rows vs the oracle's fetchall() rows: equal column names,
    equal tagged-row multisets and, when `sql` declares a top-level
    ORDER BY, equal ordered row lists. ``ordered`` says whether the
    ordered compare applied."""
    s_names, s_list, s_ms = canon(s_cols, s_rows)
    o_names, o_list, o_ms = canon(o_cols, o_rows)
    ordered = has_top_level_order_by(sql)
    if s_names != o_names:
        return {"status": "cols", "spark": list(s_names), "duck": list(o_names)}
    if s_ms != o_ms:
        return {"status": "multiset",
                "spark_only": [repr(r) for r in list(s_ms - o_ms)[:2]],
                "oracle_only": [repr(r) for r in list(o_ms - s_ms)[:2]]}
    if ordered and s_list != o_list:
        first = next(i for i, (a, b) in enumerate(zip(s_list, o_list)) if a != b)
        return {"status": "order", "first_diff_row": first}
    return {"status": "PASS", "n": len(s_list), "ordered": ordered}
