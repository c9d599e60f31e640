"""No engine code that only tests reach.

A transitive AST scan: every top-level name (function, class or
assignment) defined in the package or in ``__spark_entry__.py`` must be
reachable from code that runs outside the test suite — ``bench.py``,
``deploy/``, ``tools/`` and ``perfbench/``, plus module-level statements
of the package and the entry module. References are real ones only
(names, attribute names and imported names, not comments or strings),
and a name reached from a live definition is live in turn. Matching is
by name, so a collision can only hide dead code, never flag live code.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = REPO / "advanced_real_time_data_pipeline_and_analytical_processing_spark"
CALLERS = ("bench.py", "deploy", "tools", "perfbench")

# Kept on purpose although only tests call them; each says why in its
# own docstring or comment.
KEEP = {
    # the availableNow backfill entry point; the ingest tests run through it
    "run_ingest_once",
    # the reference's per-sensor aggregate (ROADMAP item 8 wires it in)
    "grouped_stats",
    "numeric_columns",
    "GROUP_FALLBACK",
    # ROADMAP item 5: called where drains are fully consumed
    "release_scratch",
    # ROADMAP item 8 decides whether the merge sink keeps it
    "vacuum",
}


def _refs(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.split(".")[-1])
    return out


def _top_defs(tree: ast.Module):
    for st in tree.body:
        if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield st.name, st
        elif isinstance(st, ast.Assign):
            for t in st.targets:
                if isinstance(t, ast.Name):
                    yield t.id, st
        elif isinstance(st, ast.AnnAssign) and isinstance(st.target, ast.Name):
            yield st.target.id, st


def _py_files(rel: str) -> list[Path]:
    p = REPO / rel
    return [p] if p.is_file() else sorted(p.rglob("*.py"))


def unreached() -> dict[str, str]:
    """name -> 'file:line' for every top-level name no live code reaches."""
    defs: dict[str, list[tuple[Path, ast.stmt]]] = {}
    roots: set[str] = set()
    for f in sorted(PACKAGE.rglob("*.py")) + [REPO / "__spark_entry__.py"]:
        tree = ast.parse(f.read_text(), str(f))
        named = set()
        for name, node in _top_defs(tree):
            named.add(id(node))
            if name.startswith("__") and name.endswith("__"):
                roots |= _refs(node)
            else:
                defs.setdefault(name, []).append((f, node))
        for st in tree.body:
            if id(st) not in named and not isinstance(st, (ast.Import, ast.ImportFrom)):
                roots |= _refs(st)
    for rel in CALLERS:
        for f in _py_files(rel):
            roots |= _refs(ast.parse(f.read_text(), str(f)))

    live: set[str] = set()
    todo = list(roots & defs.keys())
    while todo:
        name = todo.pop()
        if name in live:
            continue
        live.add(name)
        for _, node in defs[name]:
            todo.extend((_refs(node) & defs.keys()) - live)
    return {
        name: f"{f.relative_to(REPO)}:{node.lineno}"
        for name, sites in defs.items()
        if name not in live
        for f, node in sites
    }


def test_no_top_level_name_is_reached_only_by_tests():
    dead = {n: site for n, site in unreached().items() if n not in KEEP}
    assert not dead, "delete, or give a caller to: " + ", ".join(
        f"{n} ({site})" for n, site in sorted(dead.items(), key=lambda kv: kv[1])
    )


def test_keep_list_is_still_needed():
    # a kept name that gained a caller leaves the list
    assert KEEP <= set(unreached())
