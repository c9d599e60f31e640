"""One-pass table profiling: the per-column statistics report
(null rate, distinct count, min/max) that gates every ingest.

All columns profile in a SINGLE scan: one wide aggregate row (Catalyst
plans the multi-DISTINCT via Expand + one hash agg pipeline, still one
pass over the data) which is then unpivoted driver-free with
explode(array(struct...)). At 100 TB that's the difference between one
job and |columns| jobs.

Values are reported as strings so heterogeneous column types share one
schema; doubles go through printf-style %.*f (C-semantics in both
Spark's format_string and DuckDB's printf) so the report is
byte-identical cross-engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# decimals of a double's min/max, shared by the Spark side and its SQL mirror
FLOAT_PREC = 4


def _fmt(col: Column, dtype: str) -> Column:
    if dtype in ("double", "float"):
        # NOT %.Nf: Java's Formatter renders the SHORTEST-decimal repr
        # of a double while C printf renders the exact binary value, so
        # the two disagree once magnitude pushes the Nth decimal past
        # double precision (43210987654321.09 -> '...0900' vs
        # '...0938', hostile-data sweep). Quantize to an exact integer
        # first (tie-free floor(x*scale + 0.5), the _cents primitive)
        # and typeset div/mod — bit-identical on any engine.
        scale = 10 ** FLOAT_PREC
        q = F.floor(col * scale + F.lit(0.5)).cast("bigint")
        aq = F.abs(q)
        # integer part via EXACT decimal division (aq can exceed 2^53,
        # where a float quotient would lose digits): strip the
        # remainder first, so the decimal divide is exact at any scale
        int_part = (
            ((aq - aq % scale).cast("decimal(38,0)") / F.lit(scale))
            .cast("bigint")
            .cast("string")
        )
        # r8 (advisor catch): non-finite / long-overflow inputs get a
        # fixed sentinel on BOTH engines — Spark's non-ANSI
        # double->bigint cast yields 0/NULL where DuckDB's CAST raises,
        # so without the guard a NaN becomes '0.0000' here and an
        # oracle-err there. The overflow threshold is the identical
        # double expression on both sides (2^63 as a double).
        return (
            F.when(F.isnan(col), F.lit("nan"))
            .when(col == F.lit(float("inf")), F.lit("inf"))
            .when(col == F.lit(float("-inf")), F.lit("-inf"))
            .when(
                F.abs(col) * scale + F.lit(0.5)
                >= F.lit(9.223372036854776e18),
                F.lit("overflow"),
            )
            .otherwise(
                F.concat(
                    F.when(q < 0, F.lit("-")).otherwise(F.lit("")),
                    int_part,
                    F.lit("."),
                    F.lpad((aq % scale).cast("string"), FLOAT_PREC, "0"),
                )
            )
        )
    return col.cast("string")


def table_profile(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """(col_name, n_rows, n_nulls, n_distinct, min_val, max_val) —
    one row per profiled column, TWO aggregate passes total.

    r15 SPLIT (guide §2.2 — the Expand blow-up, measured): Catalyst
    plans multi-DISTINCT via Expand (one projection per distinct
    column), and when the same Aggregate ALSO carries non-distinct
    aggregates (count/nulls/min/max) those are evaluated over the
    ×(n_cols+1)-EXPANDED rows with the widened group key. Decomposed
    on sf0.1 (solo medians of 5): the combined single aggregate costs
    2.87 s (orders) / 2.02 s (events) while distinct-only costs 0.80 /
    0.54 and min-max-nulls-only 0.33 / 0.28 — the combination costs
    ~2.5× the sum of its parts. Splitting into a distinct-only
    aggregate (Expand over JUST the profiled columns) crossJoined with
    a plain one-pass aggregate (no Expand) emits byte-identical rows
    for ~half the time; at scale it trades one extra columnar scan for
    a 6×-row reduction through the wide hash aggregate.

    Snapshot caveat: the two aggregates scan ``df`` independently. Over
    static files they see the same rows; over an input that changes
    between the scans (a table being appended to, a non-deterministic
    source) they may not, and a row can then report n_distinct >
    n_rows. Persist or checkpoint ``df`` first when a consistent
    profile of such an input matters."""
    dtypes = dict(df.dtypes)
    cols = cols or list(df.columns)
    dist_aggs = [F.count_distinct(F.col(c)).alias(f"_dist_{c}") for c in cols]
    plain_aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        plain_aggs.append(
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"_nulls_{c}")
        )
        plain_aggs.append(_fmt(F.min(c), dtypes[c]).alias(f"_min_{c}"))
        plain_aggs.append(_fmt(F.max(c), dtypes[c]).alias(f"_max_{c}"))
    wide = df.agg(*plain_aggs).crossJoin(df.agg(*dist_aggs))
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("_n").alias("n_rows"),
                F.col(f"_nulls_{c}").alias("n_nulls"),
                F.col(f"_dist_{c}").alias("n_distinct"),
                F.col(f"_min_{c}").alias("min_val"),
                F.col(f"_max_{c}").alias("max_val"),
            )
            for c in cols
        ]
    )
    return wide.select(F.explode(entries).alias("e")).select("e.*")


def profile_oracle_sql(table: str, cols: list[str], dtypes: dict[str, str]) -> str:
    """DuckDB replay: same single-aggregate + per-column projection,
    same printf formatting."""

    def fmt(expr: str, c: str) -> str:
        if dtypes[c] in ("double", "float"):
            # mirror of _fmt's exact-integer typesetting (see there),
            # including the r8 non-finite/overflow sentinels — DuckDB's
            # CAST would raise where Spark's non-ANSI cast nulls/zeros
            scale = 10**FLOAT_PREC
            q = f"CAST(floor(({expr}) * {scale} + 0.5) AS BIGINT)"
            return (
                f"(CASE WHEN isnan({expr}) THEN 'nan'"
                f" WHEN ({expr}) = 'infinity'::DOUBLE THEN 'inf'"
                f" WHEN ({expr}) = '-infinity'::DOUBLE THEN '-inf'"
                f" WHEN abs({expr}) * {scale} + 0.5"
                f" >= 9223372036854775808.0 THEN 'overflow'"
                f" ELSE CASE WHEN {q} < 0 THEN '-' ELSE '' END"
                f" || CAST(abs({q}) // {scale} AS VARCHAR)"
                f" || '.'"
                f" || lpad(CAST(abs({q}) % {scale} AS VARCHAR),"
                f" {FLOAT_PREC}, '0') END)"
            )
        return f"CAST({expr} AS VARCHAR)"

    selects = []
    for c in cols:
        selects.append(
            f"""SELECT '{c}' AS col_name,
                   count(*) AS n_rows,
                   count(CASE WHEN {c} IS NULL THEN 1 END) AS n_nulls,
                   count(DISTINCT {c}) AS n_distinct,
                   {fmt(f"min({c})", c)} AS min_val,
                   {fmt(f"max({c})", c)} AS max_val
            FROM {table}"""
        )
    return " UNION ALL ".join(selects)
