"""Idempotent JDBC upsert: staging table + keyed MERGE (reference K1/K2
done right).

The reference appends good rows to Postgres inside ``foreachBatch``
(``code/utils.py:203-205``) — at-least-once, so a replayed micro-batch
double-inserts and only the table's primary key (when present) saves it
(SURVEY §4.3-8). The exactly-once fix is the classic staging pattern:

1. the batch lands in a per-target STAGING table via Spark's parallel
   JDBC write (``overwrite`` — a replay simply re-stages);
2. one driver-side transaction MERGEs staging into the target keyed on
   the idempotency columns (``row_hash`` from the enrichment stage is
   the natural key — identical replayed rows match and update instead
   of duplicating);
3. staging is dropped.

Data volume flows executor-side (step 1); only DDL/MERGE statements run
on the driver connection. Identifiers are double-quoted throughout so
non-identifier-safe reference columns (``soil_moisture_%``, SURVEY
§1.2) survive.

Tested against embedded Apache Derby (ships with Spark, supports
MERGE); the same SQL shape works on Postgres ≥15 / standard MERGE
implementations. Dialect differences (e.g. ``ON CONFLICT``) belong in a
per-backend template, not here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _q(ident: str) -> str:
    """ANSI double-quote an identifier (handles %, case, spaces)."""
    return '"' + ident.replace('"', '""') + '"'


def merge_sql(
    target: str, staging: str, columns: list[str], key_cols: list[str]
) -> str:
    """Build the ANSI MERGE statement for the staging→target upsert."""
    on = " AND ".join(f"t.{_q(k)} = s.{_q(k)}" for k in key_cols)
    non_key = [c for c in columns if c not in key_cols]
    insert_cols = ", ".join(_q(c) for c in columns)
    insert_vals = ", ".join(f"s.{_q(c)}" for c in columns)
    stmt = f"MERGE INTO {target} t USING {staging} s ON {on}"
    if non_key:
        sets = ", ".join(f"{_q(c)} = s.{_q(c)}" for c in non_key)
        stmt += f" WHEN MATCHED THEN UPDATE SET {sets}"
    stmt += f" WHEN NOT MATCHED THEN INSERT ({insert_cols}) VALUES ({insert_vals})"
    return stmt


def upsert_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    key_cols: list[str],
    properties: dict[str, str] | None = None,
) -> None:
    """Exactly-once-per-key JDBC write: stage the batch in
    ``{table}_stage``, MERGE on `key_cols`, drop staging. Safe to
    replay — a second run with the same rows matches on the keys and
    leaves the target unchanged.

    A ``row_hash`` column is created as VARCHAR(64) (Spark's
    createTableColumnTypes): a string MERGE key needs it on backends
    whose default string mapping is a non-comparable LOB (Derby:
    string→CLOB, and CLOBs can't appear in a MERGE ON). Indexable key
    types are the right call on any backend."""
    props = {"batchsize": "5000", "rewriteBatchedStatements": "true"}
    props.update(properties or {})
    staging = f"{table}_stage"

    # 1. parallel executor-side stage write (replay-safe: overwrite)
    writer = df.write
    if "row_hash" in df.columns:
        writer = writer.option("createTableColumnTypes", "row_hash VARCHAR(64)")
    writer.jdbc(url=url, table=staging, mode="overwrite", properties=props)

    # 2-3. driver-side MERGE + cleanup, one connection, one transaction
    spark = df.sparkSession
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        conn.setAutoCommit(False)
        stmt = conn.createStatement()
        try:
            meta = conn.getMetaData()
            # Derby/Postgres store unquoted identifiers case-folded;
            # Spark's JDBC writer emits quoted names, so look up both.
            exists = False
            for cand in (table, table.upper(), table.lower()):
                rs = meta.getTables(None, None, cand, None)
                if rs.next():
                    exists = True
                rs.close()
                if exists:
                    break
            if not exists:
                stmt.executeUpdate(
                    f"CREATE TABLE {table} AS SELECT * FROM {staging} WITH NO DATA"
                )
            stmt.executeUpdate(merge_sql(table, staging, df.columns, key_cols))
            conn.commit()
            stmt.executeUpdate(f"DROP TABLE {staging}")
            conn.commit()
        finally:
            stmt.close()
    except Exception:
        conn.rollback()
        raise
    finally:
        conn.close()
