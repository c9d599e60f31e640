"""Table-maintenance and scale-hygiene operators.

The reference pipeline (code/Main.py, code/utils.py) stops at
"write the batch"; at 100 TB the write layout IS the query plan for
every downstream job, so an engine needs first-class operators for:

- **Deterministic sampling** (`hash_sample`): reproducible train/eval
  splits and down-samples keyed on a stable hash of an id column —
  never `rand()`, which breaks resume/retry idempotency and cannot be
  oracle-checked. The bucket comes from md5, so it is engine-portable
  (same rows selected by Spark and DuckDB).
- **Skew profiling** (`skew_profile`): before salting/AQE-tuning a
  join, measure it: per-key counts, share of total, and a skew ratio
  against the mean — the empirical input to choosing salt fan-out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _md5_bucket(key_col: str):
    """0..99 from the first two md5 hex digits of the key (0..255, then
    mod 100) — exactly reproducible in any engine."""
    key = F.col(key_col).cast("string")
    return F.conv(F.substring(F.md5(key), 1, 2), 16, 10).cast("int") % 100


def hash_sample(df: DataFrame, key_col: str, pct: int) -> DataFrame:
    """Deterministic `pct`% sample: keep rows whose key hashes into the
    first `pct` of 100 buckets. Same key always lands in the same
    bucket, so the sample is stable across runs, retries, and engines —
    the property `rand()`-based sampling cannot give."""
    if not 0 <= pct <= 100:
        raise ValueError("pct must be in [0, 100]")
    return df.filter(_md5_bucket(key_col) < pct)


def stratified_split(df: DataFrame, key_col: str) -> DataFrame:
    """Deterministic train/val/test assignment from the same md5
    bucket hash_sample uses: the last 5 of 100 buckets are test, the 5
    before them are val, the rest train. Adds a ``split`` column; no
    shuffle, no rand() — the same key always gets the same split across
    runs, retries, engines, and data refreshes, which is the property
    training pipelines need (a re-run must never leak yesterday's train
    docs into today's eval set)."""
    bucket = _md5_bucket(key_col)
    split = (
        F.when(bucket < 90, F.lit("train"))
        .when(bucket < 95, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return df.withColumn("split", split)


def skew_profile(df: DataFrame, key_col: str) -> DataFrame:
    """Top-10 heaviest keys with count, share of total rows, and
    skew ratio vs the mean key load. One partial+final aggregate over
    the keys, then the (tiny) per-key frame is windowed against its own
    global sums — no second scan of the input. The skew ratio is the
    number AQE's skew-join threshold and manual salting fan-outs should
    be chosen from."""
    from pyspark.sql import Window

    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    w = Window.partitionBy()
    enriched = counts.select(
        F.col("key").cast("string").alias("key"),
        "n_rows",
        F.round(F.col("n_rows") / F.sum("n_rows").over(w), 6).alias("share"),
        F.round(F.col("n_rows") / F.avg("n_rows").over(w), 6).alias("skew_ratio"),
    )
    return (
        enriched.orderBy(F.col("n_rows").desc(), F.col("key").asc())
        .limit(10)
    )


def latest_wins_merge(
    base: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    version_col: str,
) -> DataFrame:
    """CDC compaction / SCD-type-1 merge: union the base table with an
    updates feed and keep, per key, only the row with the highest
    version (ties broken deterministically in favor of the updates
    side). This is the engine's MERGE INTO: the reference's JDBC
    append (code/utils.py:195-207) double-applies replayed batches,
    while this shape is idempotent — re-merging the same updates is a
    no-op.

    One shuffle on the key columns (window + filter → partial
    row_number pushed map-side by Spark's TopK rewrite is not needed:
    rank-1-per-key over the unioned frame is a single exchange + sort).
    At 100 TB the base side is the big one; if updates are tiny,
    compact them first and merge per partition-predicate (only touched
    partitions rewritten) — the operator itself is layout-agnostic.
    """
    from pyspark.sql import Window

    tagged = base.withColumn("_src", F.lit(0)).unionByName(
        updates.withColumn("_src", F.lit(1))
    )
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(version_col).desc(), F.col("_src").desc()
    )
    return (
        tagged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src")
    )


def latest_wins_merge_with_deletes(
    base: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    version_col: str,
) -> DataFrame:
    """CDC compaction with DELETE tombstones — the full
    insert/update/delete merge. ``updates`` rows where ``_deleted``
    is true are tombstones: if the tombstone is the newest version of
    its key, the key disappears from the compacted output (a LATER
    re-insert resurrects it, standard CDC semantics). Same
    single-shuffle rank-1-per-key shape as latest_wins_merge, with the
    tombstone filter applied AFTER the winner is chosen — filtering
    tombstones first would wrongly resurrect the older live row.
    Idempotent under replay like the base merge. Base rows without the
    marker column are treated as live."""
    from pyspark.sql import Window

    if "_deleted" not in base.columns:
        base = base.withColumn("_deleted", F.lit(False))
    tagged = base.withColumn("_src", F.lit(0)).unionByName(
        updates.withColumn("_src", F.lit(1))
    )
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(version_col).desc(), F.col("_src").desc()
    )
    return (
        tagged.withColumn("_rn", F.row_number().over(w))
        .filter(
            (F.col("_rn") == 1)
            & ~F.coalesce(F.col("_deleted"), F.lit(False))
        )
        .drop("_rn", "_src", "_deleted")
    )


def merge_agg_delta(
    state: DataFrame | None,
    delta: DataFrame,
    keys: list[str],
    sum_cols: list[str],
) -> DataFrame:
    """Incremental materialized-aggregate maintenance: fold a delta
    batch's partial SUM/COUNT aggregates into the maintained state
    without touching historical rows — the O(|delta| + |state|) path
    that replaces a full recompute. SUM and COUNT are commutative
    monoids, so state + delta-partials == recompute-from-scratch
    EXACTLY (integer/decimal sums); avg/rate views derive downstream.

    Shape at 100 TB: the delta aggregates map-side first (tiny), then
    one full-outer merge on the group key against the state table —
    the same join a MERGE INTO runs."""
    partial = delta.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[F.sum(c).alias(f"sum_{c}") for c in sum_cols],
    )
    if state is None:
        return partial
    val_cols = ["n_rows"] + [f"sum_{c}" for c in sum_cols]
    # Explicit aliases: state and delta often share lineage (slices of
    # the same source frame), so s[k]/d[k] attribute references would
    # be ambiguous self-join references.
    s = state.select(
        *keys, *[F.col(c).alias(f"_s_{c}") for c in val_cols]
    ).alias("_mad_s")
    d = partial.select(
        *keys, *[F.col(c).alias(f"_d_{c}") for c in val_cols]
    ).alias("_mad_d")
    # NULL-SAFE key equality: a NULL group key is a real group (GROUP
    # BY treats all NULLs as one), but a name-list equi-join would
    # never match NULL to NULL — the state's NULL group and the
    # delta's NULL group would survive as two separate rows forever.
    cond = None
    for k in keys:
        c = F.col(f"_mad_s.{k}").eqNullSafe(F.col(f"_mad_d.{k}"))
        cond = c if cond is None else (cond & c)
    merged = s.join(d, cond, "full_outer")
    key_cols = [
        F.coalesce(F.col(f"_mad_s.{k}"), F.col(f"_mad_d.{k}")).alias(k)
        for k in keys
    ]
    out_cols = [
        (
            F.coalesce(F.col(f"_s_{c}"), F.lit(0))
            + F.coalesce(F.col(f"_d_{c}"), F.lit(0))
        ).alias(c)
        for c in val_cols
    ]
    return merged.select(*key_cols, *out_cols)


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis-Spirakis A-ES): key = ln(u)/w with u an md5-derived
    uniform per row, keep the top-k keys per ``lang`` stratum.
    Higher weight -> higher inclusion probability, exactly the
    w_i/sum(w) first-draw law of weighted sampling.

    Deterministic because u comes from the row id, not an RNG: reruns,
    retries and engines all pick the SAME sample — the property that
    makes a 100 TB sampling job idempotent and its audit replayable.
    One projection + one top-k window on the stratum key (single
    shuffle); rows with non-positive weight are excluded (ln(u)/w
    would invert the order)."""
    from pyspark.sql import Window

    u = (
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 13), 16, 10
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(float(16**13 + 1))
    keyed = df.filter(F.col(weight_col) > 0).select(
        "*", (F.log(u) / F.col(weight_col)).alias("_es_key")
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("_es_key").desc(), F.col(id_col).asc()
    )
    return (
        keyed.select("*", F.row_number().over(w).alias("_rk"))
        .filter(F.col("_rk") <= k)
        .drop("_es_key", "_rk")
    )
