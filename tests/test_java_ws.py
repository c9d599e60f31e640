"""`_java_ws` oracle-regex hardening: unit pins + end-to-end proof.

Java regex `\\s` (Spark) matches VERTICAL TAB (\\x0B); RE2 `\\s`
(DuckDB) does not. Every mirrored oracle regex spells the Java class
out explicitly via `_java_ws`. These tests pin:

1. the expansion itself — outside a class, class-internal, and the
   class-LEADING `[\\sX]` shape that the pre-r9 blanket str.replace
   would have turned into nested brackets (silently-wrong regex);
2. end-to-end on a \\x0B-bearing fixture: the hardened
   `json_props_stats` oracle agrees with Spark bit-for-bit, while the
   legacy RE2-shorthand oracle parses one fewer k and diverges — the
   exact byte-class divergence the r8 probe channel caught and closed
   (post-mortem: docs/QUERIES.md §probe).
"""

from __future__ import annotations

import shutil

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import __spark_entry__ as em

SRC = "/root/testdata/sf0.001"
JW = r" \t\n\x0B\f\r"


def test_java_ws_outside_class():
    assert em._java_ws(r"'\"k\":\s*(\d+)'") == rf"'\"k\":[{JW}]*(\d+)'"


def test_java_ws_class_trailing():
    assert em._java_ws(r"'[^\w\s]'") == rf"'[^\w{JW}]'"


def test_java_ws_class_leading_no_nested_brackets():
    # pre-r9 blanket replace produced '[[ \t\n\x0B\f\r]X]' here
    out = em._java_ws(r"'[\sX]'")
    assert out == rf"'[{JW}X]'"
    assert "[[" not in out


def test_java_ws_escaped_bracket_does_not_toggle_class_state():
    # \[ is a literal bracket, not a class opener: the following \s is
    # OUTSIDE any class and must get its own brackets
    assert em._java_ws(r"'\[\s'") == rf"'\[[{JW}]'"


def test_java_ws_all_registry_oracles_bracket_balanced():
    # no oracle may ship nested/unbalanced char-class brackets and the
    # \s shorthand must be gone everywhere (RE2 would under-match it)
    for name, sql in em.oracle_sql().items():
        assert r"\s" not in sql.replace(JW, ""), name
        assert "[[" not in sql, name


def _vtab_fixture(tmp_path) -> str:
    """sf0.001 clone whose first props row carries a vertical tab
    between the colon and the digits."""
    d = tmp_path / "vtab"
    d.mkdir()
    tbl = pq.read_table(f"{SRC}/events.parquet")
    data = tbl.to_pydict()
    data["props"][0] = '{"k":\x0b41}'
    pq.write_table(
        pa.Table.from_pydict(data, schema=tbl.schema),
        str(d / "events.parquet"),
    )
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "documents", "embeddings"):
        shutil.copy(f"{SRC}/{t}.parquet", str(d / f"{t}.parquet"))
    return str(d)


def _duck_rows(sql: str, sf_dir: str):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'"
    )
    return sorted(tuple(str(c) for c in r) for r in con.execute(sql).fetchall())


def test_vtab_props_agree_under_hardened_oracle(spark, tmp_path):
    sf_dir = _vtab_fixture(tmp_path)
    sdf = em.queries()["json_props_stats"](spark, sf_dir)
    srows = sorted(tuple(str(c) for c in r) for r in sdf.collect())

    hardened = em.oracle_sql()["json_props_stats"]
    assert rf"[{JW}]" in hardened  # the explicit Java class
    assert srows == _duck_rows(hardened, sf_dir)

    # reverse the hardening to get the RE2-shorthand oracle the repo
    # shipped before round 8: RE2 \s misses the \x0B row's k=41, so
    # the parse/sum diverges — the signature _java_ws exists to close
    legacy = hardened.replace(rf"[{JW}]", r"\s")
    assert srows != _duck_rows(legacy, sf_dir)


def test_java_ws_array_brackets_outside_literals_do_not_corrupt_state():
    # ADVICE r9 latent trap: DuckDB array indexing / list literals use
    # [ ] OUTSIDE string literals; they must not toggle regex-class
    # state, else an adjacent in-literal \s merges bare into non-class
    # context. The r10 scan restricts itself to single-quoted literals.
    sql = r"SELECT arr[1], regexp_matches(t, '\s+') FROM x"
    assert em._java_ws(sql) == (
        rf"SELECT arr[1], regexp_matches(t, '[{JW}]+') FROM x"
    )
    sql2 = r"SELECT ['a','b'][1] AS l, regexp_replace(t, '\s', '') FROM x"
    assert em._java_ws(sql2) == (
        rf"SELECT ['a','b'][1] AS l, regexp_replace(t, '[{JW}]', '') FROM x"
    )


def test_java_ws_escaped_quote_stays_in_literal():
    # '' inside a literal is a SQL-escaped quote, not a terminator:
    # the \s after it is still inside the pattern literal
    assert em._java_ws(r"'a''b\s'") == rf"'a''b[{JW}]'"


def test_java_ws_bracket_state_resets_per_literal():
    # an unclosed [ in one literal must not leak class-state into the
    # next literal's \s
    assert em._java_ws(r"'[abc' || '\s'") == rf"'[abc' || '[{JW}]'"


def test_java_ws_comment_apostrophe_does_not_flip_literal_state():
    # a prose apostrophe inside a SQL comment must not open a string
    # literal (else the following real pattern is skipped unexpanded)
    sql = "-- DuckDB's exact sum\nSELECT regexp_replace(t, '\\s', '') FROM x"
    assert em._java_ws(sql) == (
        f"-- DuckDB's exact sum\nSELECT regexp_replace(t, '[{JW}]', '') FROM x"
    )
    blk = "/* it's exact */ SELECT regexp_replace(t, '\\s', '') FROM x"
    assert em._java_ws(blk) == (
        f"/* it's exact */ SELECT regexp_replace(t, '[{JW}]', '') FROM x"
    )
