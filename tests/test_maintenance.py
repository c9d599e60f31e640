from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import maintenance

SF = "/root/testdata/sf0.001"


def test_hash_sample_deterministic_and_sized(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    s1 = maintenance.hash_sample(docs, "doc_id", pct=25)
    s2 = maintenance.hash_sample(docs, "doc_id", pct=25)
    ids1 = sorted(r["doc_id"] for r in s1.select("doc_id").collect())
    ids2 = sorted(r["doc_id"] for r in s2.select("doc_id").collect())
    assert ids1 == ids2  # stable across runs
    n_total = docs.count()
    assert 0.15 * n_total < len(ids1) < 0.35 * n_total  # ~25%
    # nested property: a 10% sample is a subset of the 25% sample
    ids10 = {
        r["doc_id"]
        for r in maintenance.hash_sample(docs, "doc_id", pct=10)
        .select("doc_id")
        .collect()
    }
    assert ids10 <= set(ids1)


def test_hash_sample_rejects_pct_out_of_range(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    with pytest.raises(ValueError):
        maintenance.hash_sample(docs, "doc_id", pct=101)


def test_skew_profile_planted_skew(spark):
    """A key with half of all rows must surface with skew_ratio >> 1."""
    base = spark.range(0, 1000).select(
        (F.col("id") % 100).alias("k"), F.col("id").alias("v")
    )
    heavy = spark.range(0, 1000).select(
        F.lit(999).alias("k"), F.col("id").alias("v")
    )
    prof = maintenance.skew_profile(base.unionAll(heavy), "k").collect()
    assert prof[0]["key"] == "999"
    assert prof[0]["n_rows"] == 1000
    assert prof[0]["share"] == 0.5
    assert prof[0]["skew_ratio"] > 15  # 101 keys, mean ~19.8 rows


def test_stratified_split_deterministic_and_partitioned(spark):
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import maintenance

    df = spark.range(1000).withColumnRenamed("id", "k")
    a = maintenance.stratified_split(df, "k")
    b = maintenance.stratified_split(df, "k")
    rows_a = {r["k"]: r["split"] for r in a.collect()}
    rows_b = {r["k"]: r["split"] for r in b.collect()}
    assert rows_a == rows_b  # same key -> same split, always
    counts = {s: 0 for s in ("train", "val", "test")}
    for s in rows_a.values():
        counts[s] += 1
    assert counts["train"] + counts["val"] + counts["test"] == 1000
    assert counts["train"] > 800  # ~90%
    assert 10 < counts["val"] < 120 and 10 < counts["test"] < 120


def test_zorder_bucket_rectangle_bound(spark):
    """The z-curve locality guarantee is exact: dropping s low bits of
    a k-dim interleave fixes the top bits of every dimension, so one
    bucket spans at most 2^ceil(s/k) values per dim (s=14, k=2 ->
    128)."""
    from pyspark.sql import functions as F

    from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import layout

    df = spark.range(20000).select(
        (F.col("id") * 2654435761 % 4096).alias("x"),
        (F.col("id") * 40503 % 4096).alias("y"),
    )
    stats = layout.zorder_bucket_stats(df, ["x", "y"])
    rows = stats.collect()
    assert rows  # non-degenerate
    for r in rows:
        assert r.max_x - r.min_x <= 127
        assert r.max_y - r.min_y <= 127


def test_merge_agg_delta_handles_new_and_missing_keys(spark):
    """Keys present only in state (no new rows) and only in delta
    (first appearance) both survive the full-outer fold with correct
    zero-filled arithmetic."""
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import maintenance

    base = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 10)], "k string, v long"
    )
    delta = spark.createDataFrame([("b", 5), ("c", 7)], "k string, v long")
    state = maintenance.merge_agg_delta(None, base, ["k"], ["v"])
    state = maintenance.merge_agg_delta(state, delta, ["k"], ["v"])
    got = {r.k: (r.n_rows, r.sum_v) for r in state.collect()}
    assert got == {"a": (2, 3), "b": (2, 15), "c": (1, 7)}


def test_merge_agg_delta_merges_null_group_key(spark):
    """A NULL group key is ONE group (GROUP BY semantics): the state's
    NULL row and the delta's NULL row must merge via null-safe key
    equality, not survive as two forever-separate rows — and slices of
    the SAME source frame must not trip self-join ambiguity."""
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import maintenance

    src_df = spark.createDataFrame(
        [(None, 1), (None, 2), ("a", 10), (None, 4), ("a", 20)],
        "k string, v long",
    )
    b1 = src_df.filter(F.col("v") < 4)
    b2 = src_df.filter(F.col("v") >= 4)
    state = maintenance.merge_agg_delta(None, b1, ["k"], ["v"])
    state = maintenance.merge_agg_delta(state, b2, ["k"], ["v"])
    got = {r.k: (r.n_rows, r.sum_v) for r in state.collect()}
    assert got == {None: (3, 7), "a": (2, 30)}
    # one NULL row, not two
    assert sum(1 for k in got if k is None) == 1


def test_chunk_documents_null_text_yields_no_chunks(spark):
    """NULL text produces NO chunks (no phantom empty chunk riding
    greatest(NULL-overlap, 0)); empty text still yields exactly one."""
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import chunking

    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "a b c")], "doc_id long, text string"
    )
    out = chunking.chunk_documents(df, "doc_id", "text", 4, 1)
    ids = [r.doc_id for r in out.collect()]
    assert 1 not in ids
    assert ids.count(2) == 1
    assert ids.count(3) == 1


def test_weighted_sample_favors_heavy_weights(spark):
    """With weights 100 vs 1, the heavy rows must dominate the sample
    (law of the key ln(u)/w), the draw must be deterministic across
    reruns, and k bounds the output."""
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import maintenance

    rows = [(i, "en", 100.0 if i < 20 else 1.0) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, lang string, w double")
    s1 = {r.id for r in maintenance.weighted_sample(df, "id", "w", k=15).collect()}
    s2 = {r.id for r in maintenance.weighted_sample(df, "id", "w", k=15).collect()}
    assert s1 == s2  # deterministic
    assert len(s1) == 15
    heavy = sum(1 for i in s1 if i < 20)
    assert heavy >= 10  # 20 heavy rows carry ~91% of the weight mass


def test_zvalue_three_dims_roundtrip(spark):
    """The interleave generalizes beyond 2-D: a 3-dim z-value must
    decode back to its inputs exactly."""
    from pyspark.sql import functions as F

    from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import layout

    df = spark.createDataFrame(
        [(11, 250, 3), (0, 0, 0), (255, 255, 255), (128, 64, 200)],
        "x long, y long, z long",
    )
    rows = df.select(
        "x", "y", "z",
        layout.zvalue([F.col("x"), F.col("y"), F.col("z")]).alias("m"),
    ).collect()
    for r in rows:
        x = sum(((r.m >> (3 * i)) & 1) << i for i in range(layout.BITS))
        y = sum(((r.m >> (3 * i + 1)) & 1) << i for i in range(layout.BITS))
        z = sum(((r.m >> (3 * i + 2)) & 1) << i for i in range(layout.BITS))
        assert (x, y, z) == (r.x, r.y, r.z)
