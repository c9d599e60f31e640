"""Pins for the independent comparator C3 (VERDICT r11 #1).

The whole value of tools/indep_check.py is that it shares NO comparison
code with C1/C2 in tools/check_oracle.py — independent implementations
agreeing 220/220 on the same execution is the repo's strongest
correctness argument. These tests make that independence, and the
comparator's strictness, survive refactors:

  1. the module must not import tools/driver_gate_replica.py or
     tools/check_oracle.py (AST-level check, so a docstring mention
     stays legal),
  2. its type-tagging must keep the r7 Decimal-vs-int discrimination
     (the historic str()-compare blind spot),
  3. the top-level-ORDER-BY detector must not be fooled by window or
     subquery sorts.

tests/test_check_oracle.py runs C3 end to end inside the oracle gate.
"""

from __future__ import annotations

import ast
import sys
from decimal import Decimal
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
SRC = REPO / "tools" / "indep_check.py"

sys.path.insert(0, str(REPO / "tools"))

from indep_check import canon, has_top_level_order_by, tag  # noqa: E402

FORBIDDEN = {"driver_gate_replica", "check_oracle", "hostile_data_sweep",
             "typed_scale_sweep", "scale_sweep"}


def test_no_shared_comparator_imports():
    tree = ast.parse(SRC.read_text())
    imported: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            imported.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.module:
                imported.add(node.module)
            imported.update(a.name for a in node.names)
    hits = {m for m in imported for f in FORBIDDEN if f in m}
    assert not hits, (
        f"indep_check.py imports {hits} — its independence from the "
        "standing comparator family is the property the gate relies on"
    )


def test_tag_keeps_decimal_int_discrimination():
    # the r7 seven-round signature: Decimal('5') and 5 are str()-equal
    assert tag(Decimal("5")) != tag(5)
    assert tag(Decimal("5.0")) != tag(5.0)
    # and bit-exact float discrimination (last-ulp divergence visible)
    assert tag(0.1 + 0.2) != tag(0.3)
    # bool is not int (True == 1 in Python — tag must split them)
    assert tag(True) != tag(1)


def test_canon_is_column_order_insensitive_but_row_exact():
    cols_a, rows_a, ms_a = canon(["b", "a"], [(2, 1), (4, 3)])
    cols_b, rows_b, ms_b = canon(["a", "b"], [(1, 2), (3, 4)])
    assert cols_a == cols_b and ms_a == ms_b and rows_a == rows_b
    # same multiset, different order -> ordered lists must differ
    _, rows_c, ms_c = canon(["a", "b"], [(3, 4), (1, 2)])
    assert ms_c == ms_b and rows_c != rows_b


def test_order_by_detector():
    assert has_top_level_order_by("SELECT * FROM t ORDER BY x")
    assert has_top_level_order_by("SELECT * FROM t ORDER  BY x LIMIT 5")
    # window sort is not a result sort
    assert not has_top_level_order_by(
        "SELECT rank() OVER (ORDER BY x) FROM t"
    )
    # subquery sort is not a result sort
    assert not has_top_level_order_by(
        "SELECT * FROM (SELECT * FROM t ORDER BY x LIMIT 3) s"
    )
    # string literal containing the words is not a sort
    assert not has_top_level_order_by(
        "SELECT * FROM t WHERE note = 'ORDER BY x'"
    )
    # identifier suffix must not match (reORDER BY is not ORDER BY)
    assert not has_top_level_order_by("SELECT * FROM reorder_tbl")
