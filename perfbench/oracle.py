"""Expected query outputs from each query's DuckDB oracle, compared with
the normaliser of ``tools/check_oracle.py`` (loaded from its file,
read-only)."""

from __future__ import annotations

import hashlib
import os

import duckdb

from gen import load_tool


class Oracle:
    def __init__(self, root: str):
        self._check = load_tool(root, "check_oracle")

    def digest(self, cols, rows) -> str:
        """Order-insensitive digest of a result (columns sorted by name,
        rows sorted, cells normalised exactly as the oracle gate does)."""
        normed = self._check.norm_rows(list(cols), [tuple(r) for r in rows])
        return hashlib.sha256(repr(normed).encode()).hexdigest()

    def expected(self, data_dir: str, spill_dir: str, names: list[str], sql: dict[str, str]) -> dict[str, str]:
        os.makedirs(spill_dir, exist_ok=True)
        con = duckdb.connect()
        try:
            con.execute(f"SET temp_directory = '{spill_dir}'")
            con.execute("SET threads = 2")
            for t in self._check.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
            out = {}
            for name in names:
                res = con.execute(sql[name])
                out[name] = self.digest([d[0] for d in res.description], res.fetchall())
            return out
        finally:
            con.close()
