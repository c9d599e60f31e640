"""Frequency sketches as DataFrame compositions.

Count-Min sketch: a depth x width counter matrix where each of
``depth`` hash rows buckets every key into ``width`` counters;
the frequency estimate for a key is the MIN of its ``depth``
counters — never an underestimate, over by at most the collision
mass in its buckets.

Why this shape matters at 100 TB: the sketch build is one explode
(depth rows per input row — constant fan-out) + one map-side-combined
hash aggregate into depth*width counters, i.e. CONSTANT state no
matter how many distinct keys exist. Per-key exact counting shuffles
every distinct key; the sketch shuffles a fixed-size matrix. Queries
against the sketch are a broadcast join of the tiny counter table.

The bucket hash is md5-derived (first 8 hex chars -> int64 -> mod
width), so the whole structure — counters and estimates — is
bit-identical across engines and oracle-checkable EXACTLY.

HyperLogLog (portable): same trick applied to distinct-counting.
Native HLL implementations (Spark's approx_count_distinct, DuckDB's
approx sketches) are engine-specific and can't be cross-checked, so
this one derives BOTH the register index and the leading-zero rank
from md5 hex digits: bucket = first 2 hex digits (m=256 registers),
rank = leading-zero run of the next 11 hex digits (44 tail bits) + 1.
Registers merge by MAX — the groupBy(bucket).max(rank) build IS the
mergeable-sketch union, so partial aggregation (map-side combine)
gives constant shuffle state per partition: 256 rows, no matter how
many distinct keys. The harmonic-mean sum is kept in EXACT integer
units of 2^-45 (each term 2^(45-rank) is an exact bigint; the sum
fits 2^52), so the only float ops are one multiply-divide and the
small-range ln correction — reduction-order-proof and replayable
digit-for-digit in any engine with md5().
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# the sketch matrix: CM_DEPTH hash rows of CM_WIDTH counters
CM_DEPTH = 4
CM_WIDTH = 64


def _bucket(key: Column, row: int) -> Column:
    """Deterministic bucket of ``key`` for hash row ``row``: portable
    md5 prefix as int64, mod CM_WIDTH."""
    h = F.md5(F.concat(F.lit(f"{row}:"), key.cast("string")))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % CM_WIDTH).cast(
        "int"
    )


def count_min_counters(df: DataFrame, key_col: str) -> DataFrame:
    """(row, bucket, cnt): the sketch matrix. One explode (fan-out
    CM_DEPTH) + one hash aggregate with map-side combine into at most
    CM_DEPTH*CM_WIDTH rows."""
    entries = df.select(
        F.posexplode(
            F.array(*[_bucket(F.col(key_col), r) for r in range(CM_DEPTH)])
        ).alias("row", "bucket")
    )
    return entries.groupBy("row", "bucket").agg(F.count(F.lit(1)).alias("cnt"))


def count_min_estimates(df: DataFrame, key_col: str) -> DataFrame:
    """Per-distinct-key CM estimate next to the exact count:
    (key, exact_n, cm_est). cm_est >= exact_n always (the CM
    guarantee); equality whenever none of the key's buckets collide.
    The counter matrix is broadcast — the probe side never shuffles
    for the join."""
    counters = count_min_counters(df, key_col)
    keys = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("exact_n")
    )
    probes = keys.select(
        "key",
        "exact_n",
        F.posexplode(
            F.array(*[_bucket(F.col("key"), r) for r in range(CM_DEPTH)])
        ).alias("row", "bucket"),
    )
    est = (
        probes.join(F.broadcast(counters), ["row", "bucket"])
        .groupBy("key", "exact_n")
        .agg(F.min("cnt").alias("cm_est"))
    )
    return est.select(F.col("key").alias(key_col), "exact_n", "cm_est")


# --- portable HyperLogLog ------------------------------------------------

HLL_M = 256  # 2^8 registers: bucket = first two md5 hex digits
HLL_TAIL_HEX = 11  # rank observed over the next 11 hex digits = 44 bits
_HLL_SCALE = 1 << (HLL_TAIL_HEX * 4 + 1)  # 2^45: integer units of the
# harmonic sum — rank r contributes 2^(45-r), exact in int64


def hll_bucket_rank(key: Column) -> tuple[Column, Column]:
    """(bucket, rank) of one key, both md5-hex-derived so any engine
    with md5() reproduces them digit-for-digit. rank = (leading-zero
    bits of the 44-bit tail) + 1, computed without float log2: the
    zero-RUN of hex digits gives 4 bits each, the first nonzero digit's
    value pins the remainder."""
    h = F.md5(key.cast("string"))
    bucket = F.conv(F.substring(h, 1, 2), 16, 10).cast("int")
    tail = F.substring(h, 3, HLL_TAIL_HEX)
    nz = F.length(F.regexp_extract(tail, "^(0*)", 1))
    d = F.conv(F.substring(tail, nz + F.lit(1), F.lit(1)), 16, 10).cast("int")
    lz_in_digit = (
        F.when(d >= 8, 0).when(d >= 4, 1).when(d >= 2, 2).otherwise(3)
    )
    rank = F.when(nz == HLL_TAIL_HEX, HLL_TAIL_HEX * 4 + 1).otherwise(
        nz * 4 + lz_in_digit + 1
    )
    return bucket, rank


def hll_registers(df: DataFrame, key_col: str) -> DataFrame:
    """(bucket, rank): the sketch itself, <= HLL_M rows. Registers
    merge by MAX, so this one hash aggregate is also the sketch-union
    operator — map-side combine keeps shuffle state at 256 rows per
    partition regardless of input cardinality."""
    bucket, rank = hll_bucket_rank(F.col(key_col))
    rows = df.filter(F.col(key_col).isNotNull()).select(
        bucket.alias("bucket"), rank.alias("rank")
    )
    return rows.groupBy("bucket").agg(F.max("rank").alias("rank"))


def hll_estimate(registers: DataFrame) -> DataFrame:
    """One row (hll_est, n_registers) from a register table. The
    harmonic sum is an exact bigint (units of 2^-45); floats enter only
    in the final alpha*m^2/S division and the standard small-range
    correction m*ln(m/V) — both single expressions, so the result is
    bit-identical across engines and partitionings."""
    m = HLL_M
    agg = registers.agg(
        F.count(F.lit(1)).alias("n_present"),
        F.sum(
            F.pow(F.lit(2.0), F.lit(HLL_TAIL_HEX * 4 + 1) - F.col("rank")).cast(
                "bigint"
            )
        ).alias("s_present"),
    )
    s = F.col("s_present") + (F.lit(m) - F.col("n_present")) * F.lit(
        _HLL_SCALE
    ).cast("bigint")
    alpha = F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(float(m)))
    raw = alpha * F.lit(float(m * m)) * F.lit(float(_HLL_SCALE)) / s.cast(
        "double"
    )
    v = F.lit(m) - F.col("n_present")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double")),
    ).otherwise(raw)
    return agg.select(
        F.round(est, 4).alias("hll_est"),
        F.col("n_present").alias("n_registers"),
    )


def hll_oracle_sql(source_sql: str, key_expr: str) -> str:
    """DuckDB replica of hll_registers+hll_estimate over ``source_sql``
    (a relation) and ``key_expr`` — the same md5 digits, the same
    integer harmonic sum, the same two float expressions, so the
    estimate matches Spark's EXACTLY, not approximately."""
    tail_bits = HLL_TAIL_HEX * 4 + 1
    return f"""
        WITH hashed AS (
            SELECT md5(CAST({key_expr} AS VARCHAR)) AS h
            FROM {source_sql} WHERE {key_expr} IS NOT NULL
        ), ranked AS (
            SELECT CAST('0x' || substr(h, 1, 2) AS BIGINT) AS bucket,
                   CASE WHEN length(regexp_extract(substr(h, 3, {HLL_TAIL_HEX}), '^(0*)', 1)) = {HLL_TAIL_HEX}
                        THEN {tail_bits}
                        ELSE length(regexp_extract(substr(h, 3, {HLL_TAIL_HEX}), '^(0*)', 1)) * 4
                             + (CASE WHEN CAST('0x' || substr(substr(h, 3, {HLL_TAIL_HEX}), length(regexp_extract(substr(h, 3, {HLL_TAIL_HEX}), '^(0*)', 1)) + 1, 1) AS BIGINT) >= 8 THEN 0
                                     WHEN CAST('0x' || substr(substr(h, 3, {HLL_TAIL_HEX}), length(regexp_extract(substr(h, 3, {HLL_TAIL_HEX}), '^(0*)', 1)) + 1, 1) AS BIGINT) >= 4 THEN 1
                                     WHEN CAST('0x' || substr(substr(h, 3, {HLL_TAIL_HEX}), length(regexp_extract(substr(h, 3, {HLL_TAIL_HEX}), '^(0*)', 1)) + 1, 1) AS BIGINT) >= 2 THEN 2
                                     ELSE 3 END) + 1
                   END AS rank
            FROM hashed
        ), regs AS (
            SELECT bucket, max(rank) AS rank FROM ranked GROUP BY bucket
        ), agg AS (
            SELECT count(*) AS n_present,
                   sum(CAST(power(2.0, {tail_bits} - rank) AS BIGINT)) AS s_present
            FROM regs
        )
        SELECT round(CASE WHEN (0.7213 / (1.0 + 1.079 / {float(HLL_M)})) * {float(HLL_M * HLL_M)} * {float(_HLL_SCALE)}
                               / CAST(s_present + ({HLL_M} - n_present) * CAST({_HLL_SCALE} AS BIGINT) AS DOUBLE) <= {2.5 * HLL_M}
                          AND ({HLL_M} - n_present) > 0
                     THEN {float(HLL_M)} * ln({float(HLL_M)} / CAST({HLL_M} - n_present AS DOUBLE))
                     ELSE (0.7213 / (1.0 + 1.079 / {float(HLL_M)})) * {float(HLL_M * HLL_M)} * {float(_HLL_SCALE)}
                          / CAST(s_present + ({HLL_M} - n_present) * CAST({_HLL_SCALE} AS BIGINT) AS DOUBLE)
                END, 4) AS hll_est,
               n_present AS n_registers
        FROM agg
    """


def hll_registers_with_exact(df: DataFrame, key_col: str) -> DataFrame:
    """(bucket, rank, n_keys): registers AND the exact distinct count
    in ONE scan — the md5 buckets partition the key space, so per-
    bucket key counts sum to the global exact count. Shape: distinct
    the keys FIRST (plain hash agg, no Expand), then md5 each distinct
    key once — strictly less hashing than per-row md5 + multi-distinct,
    and still a single pass over the input; at 100 TB the scan IS the
    cost."""
    keys = (
        df.filter(F.col(key_col).isNotNull())
        .select(F.col(key_col).alias("_k"))
        .distinct()
    )
    bucket, rank = hll_bucket_rank(F.col("_k"))
    return (
        keys.select(bucket.alias("bucket"), rank.alias("rank"))
        .groupBy("bucket")
        .agg(F.max("rank").alias("rank"), F.count(F.lit(1)).alias("n_keys"))
    )


def hll_union(registers: list[DataFrame]) -> DataFrame:
    """Union of HLL sketches = per-bucket MAX over their registers —
    the algebra that lets per-dataset/per-partition/per-day sketches
    roll up without touching raw data again. Input register frames
    are tiny (<=256 rows each); the union is a single hash agg."""
    out = registers[0]
    for r in registers[1:]:
        out = out.unionByName(r)
    return out.groupBy("bucket").agg(F.max("rank").alias("rank"))


def hll_ranked_sql(source_sql: str, key_expr: str) -> str:
    """DuckDB fragment: (bucket, rank) rows for one key set — the
    registers BEFORE per-bucket max, for composing union oracles."""
    tail_bits = HLL_TAIL_HEX * 4 + 1
    lz = f"length(regexp_extract(substr(h, 3, {HLL_TAIL_HEX}), '^(0*)', 1))"
    digit = (
        f"CAST('0x' || substr(substr(h, 3, {HLL_TAIL_HEX}), {lz} + 1, 1) AS BIGINT)"
    )
    return f"""
        SELECT CAST('0x' || substr(h, 1, 2) AS BIGINT) AS bucket,
               CASE WHEN {lz} = {HLL_TAIL_HEX} THEN {tail_bits}
                    ELSE {lz} * 4
                         + (CASE WHEN {digit} >= 8 THEN 0
                                 WHEN {digit} >= 4 THEN 1
                                 WHEN {digit} >= 2 THEN 2
                                 ELSE 3 END) + 1
               END AS rank
        FROM (SELECT md5(CAST({key_expr} AS VARCHAR)) AS h
              FROM {source_sql} WHERE {key_expr} IS NOT NULL)
    """


def hll_estimate_sql(regs_sql: str) -> str:
    """DuckDB estimate over a (bucket, rank) relation — same integer
    harmonic sum and float expressions as hll_estimate."""
    tail_bits = HLL_TAIL_HEX * 4 + 1
    return f"""
        WITH regs AS (
            SELECT bucket, max(rank) AS rank FROM ({regs_sql}) GROUP BY bucket
        ), agg AS (
            SELECT count(*) AS n_present,
                   sum(CAST(power(2.0, {tail_bits} - rank) AS BIGINT)) AS s_present
            FROM regs
        )
        SELECT round(CASE WHEN (0.7213 / (1.0 + 1.079 / {float(HLL_M)})) * {float(HLL_M * HLL_M)} * {float(_HLL_SCALE)}
                               / CAST(s_present + ({HLL_M} - n_present) * CAST({_HLL_SCALE} AS BIGINT) AS DOUBLE) <= {2.5 * HLL_M}
                          AND ({HLL_M} - n_present) > 0
                     THEN {float(HLL_M)} * ln({float(HLL_M)} / CAST({HLL_M} - n_present AS DOUBLE))
                     ELSE (0.7213 / (1.0 + 1.079 / {float(HLL_M)})) * {float(HLL_M * HLL_M)} * {float(_HLL_SCALE)}
                          / CAST(s_present + ({HLL_M} - n_present) * CAST({_HLL_SCALE} AS BIGINT) AS DOUBLE)
                END, 4) AS hll_est,
               n_present AS n_registers
        FROM agg
    """
