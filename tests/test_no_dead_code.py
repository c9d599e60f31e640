"""No engine code that only tests reach, and no option that nothing sets.

A transitive AST scan: every top-level name (function, class or
assignment) defined in the package or in ``__spark_entry__.py`` must be
reachable from code that runs outside the test suite — ``bench.py``,
``deploy/``, ``tools/`` and ``perfbench/``, plus module-level statements
of the package and the entry module. References are real ones only
(names, attribute names and imported names, not comments or strings),
and a name reached from a live definition is live in turn. Matching is
by name, so a collision can only hide dead code, never flag live code.

The same callers decide which defaulted parameters are options: a
parameter of an engine function that every non-test call leaves at, or
sets to, one and the same value is a constant of the code, not a
setting, and belongs in the function body.
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
    # ROADMAP item 8 decides whether the merge sink keeps it
    "vacuum",
}

# Defaulted parameters kept although every non-test call gives them one
# value: parameter -> why.
KEEP_PARAMS = {
    "load_tables(sf_dir)": "deployment setting: where the tables live",
    "minhash_candidate_pairs(bucket_cap)": "skew backstop; aim 3 makes it a derived rule",
    "minhash_near_dup(bucket_cap)": "skew backstop; aim 3 makes it a derived rule",
    "simhash_hamming_pairs(bucket_cap)": "skew backstop; aim 3 makes it a derived rule",
    "_ngram_blocked_pairs(block_cap)": "skew backstop; aim 3 makes it a derived rule",
    "ngram_jaccard_pairs(block_cap)": "skew backstop; aim 3 makes it a derived rule",
    "ngram_jaccard_pairs(length_bucketing)": "skew backstop; aim 3 makes it a derived rule",
    "numeric_columns(exclude)": "grouped_stats, which ROADMAP item 8 wires in",
    "run_supervised(max_restarts)": "restart policy a deployment tunes",
    "run_supervised(backoff_s)": "restart policy a deployment tunes",
    "run_supervised(backoff_mult)": "restart policy a deployment tunes",
    "decode_image_features(fake)": "selects the parked PIL decoder",
    "upsert_jdbc(properties)": "deployment credentials from DB_USER/DB_PASSWORD",
    "initialize_layout(folders)": "perfbench passes ('tables',) through its tracer, unseen by name",
    "materialize_round(eager)": "DataFrame.transform(materialize_round) takes the default, unseen by name",
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


def _engine_files() -> list[Path]:
    return sorted(PACKAGE.rglob("*.py")) + [REPO / "__spark_entry__.py"]


def unreached() -> dict[str, str]:
    """name -> 'file:line' for every top-level name no live code reaches."""
    defs: dict[str, list[tuple[Path, ast.stmt]]] = {}
    roots: set[str] = set()
    for f in _engine_files():
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


def _caller_files() -> list[Path]:
    return _engine_files() + [f for rel in CALLERS for f in _py_files(rel)]


def _params(fn) -> tuple[list[str], dict[str, str]]:
    """(positional parameter names, {defaulted name: default text});
    a method's self/cls is not positional for its callers."""
    a = fn.args
    pos = [p.arg for p in a.posonlyargs + a.args]
    if pos and pos[0] in ("self", "cls"):
        pos = pos[1:]
    defaults = dict(zip(pos[len(pos) - len(a.defaults):], map(ast.unparse, a.defaults)))
    defaults.update(
        (p.arg, ast.unparse(d)) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
    )
    return pos, defaults


def _calls(tree: ast.Module):
    """(call, parameter names of the function the call sits in)."""
    def visit(node, scope):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                a = child.args
                inner = scope | {
                    p.arg for p in a.posonlyargs + a.args + a.kwonlyargs + [a.vararg, a.kwarg] if p
                }
                yield from visit(child, inner)
                continue
            if isinstance(child, ast.Call):
                yield child, scope
            yield from visit(child, scope)

    yield from visit(tree, frozenset())


def one_valued_params() -> dict[str, str]:
    """'function(param)' -> 'file:line' for every defaulted parameter of an
    engine function that takes exactly one value across all calls outside
    the tests. Calls match by name (a class name calls its __init__); an
    omitted argument counts as its default, a passed one by its source
    text, and a bare name that is a parameter of the calling function as
    varying. A call that splats *args or **kwargs keeps every parameter."""
    fns: dict[str, list[tuple[Path, ast.AST]]] = {}
    for f in _engine_files():
        for node in ast.walk(ast.parse(f.read_text(), str(f))):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                fns.setdefault(node.name, []).append((f, node))
            elif isinstance(node, ast.ClassDef):
                for st in node.body:
                    if isinstance(st, ast.FunctionDef) and st.name == "__init__":
                        fns.setdefault(node.name, []).append((f, st))
    values: dict[int, dict[str, set[str]]] = {}
    for f in _caller_files():
        for call, scope in _calls(ast.parse(f.read_text(), str(f))):
            func = call.func
            name = func.id if isinstance(func, ast.Name) else getattr(func, "attr", None)
            for _, fn in fns.get(name, ()):
                pos, defaults = _params(fn)
                seen = values.setdefault(id(fn), {p: set() for p in defaults})
                splat = any(isinstance(a, ast.Starred) for a in call.args)
                if splat or any(k.arg is None for k in call.keywords):
                    for vals in seen.values():
                        vals.add(f"<splat {id(call)}>")
                    continue
                passed = dict(zip(pos, call.args))
                passed.update((k.arg, k.value) for k in call.keywords)
                for p, default in defaults.items():
                    v = passed.get(p)
                    if v is None:
                        seen[p].add(default)
                    elif isinstance(v, ast.Name) and v.id in scope:
                        seen[p].add(f"<varying {id(call)}>")
                    else:
                        seen[p].add(ast.unparse(v))
    return {
        f"{fn.name}({p})": f"{f.relative_to(REPO)}:{fn.lineno}"
        for sites in fns.values()
        for f, fn in sites
        for p, vals in values.get(id(fn), {}).items()
        if len(vals) == 1
    }


def test_no_top_level_name_is_reached_only_by_tests():
    dead = {n: site for n, site in unreached().items() if n not in KEEP}
    assert not dead, "delete, or give a caller to: " + ", ".join(
        f"{n} ({site})" for n, site in sorted(dead.items(), key=lambda kv: kv[1])
    )


def test_keep_list_is_still_needed():
    # a kept name that gained a caller leaves the list
    assert KEEP <= set(unreached())


def test_no_defaulted_parameter_takes_one_value():
    fixed = {p: site for p, site in one_valued_params().items() if p not in KEEP_PARAMS}
    assert not fixed, "fold into the body: " + ", ".join(
        f"{p} ({site})" for p, site in sorted(fixed.items(), key=lambda kv: kv[1])
    )


def test_param_keep_list_is_still_needed():
    # a kept parameter that gained a second value leaves the list
    assert set(KEEP_PARAMS) <= set(one_valued_params())
