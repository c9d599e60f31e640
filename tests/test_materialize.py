"""SPARK_GRAFT_DURABLE switch: localCheckpoint vs persist(DISK_ONLY).

On a cluster with executor churn, localCheckpoint blocks die with
their executor; docs/CLUSTER.md prescribes persist(DISK_ONLY). The
switch makes that substitution code, not prose: every lineage-cut in
the engine routes through plans.materialize.materialize().
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import functions as F

from advanced_real_time_data_pipeline_and_analytical_processing_spark.plans.materialize import (
    durable_mode,
    materialize,
)


def test_default_is_memory_and_disk_persist(spark, monkeypatch):
    """r14: non-durable materialize persists (stats + partitioning stay
    visible to the planner; clearCache() can free the blocks) instead
    of localCheckpoint (ExistingRDD scan: unknown stats, unreleasable
    via clearCache). See plans/materialize.py docstring for the
    measured A/B."""
    monkeypatch.delenv("SPARK_GRAFT_DURABLE", raising=False)
    assert not durable_mode()
    df = materialize(spark.range(10).withColumn("x", F.col("id") * 2))
    try:
        assert df.storageLevel == StorageLevel.MEMORY_AND_DISK
        # the plan is an InMemoryRelation (NOT an opaque ExistingRDD
        # scan), so the planner keeps statistics and partitioning
        assert "InMemoryRelation" in df._jdf.queryExecution().toString()
        assert df.count() == 10
    finally:
        df.unpersist()


def test_durable_mode_persists_disk_only(spark, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DURABLE", "1")
    assert durable_mode()
    df = materialize(spark.range(10).withColumn("x", F.col("id") * 2))
    try:
        assert df.storageLevel == StorageLevel.DISK_ONLY
        assert df.count() == 10
    finally:
        df.unpersist()


def test_same_values_both_modes(spark, monkeypatch):
    base = spark.range(50).withColumn("g", F.col("id") % 5)
    monkeypatch.delenv("SPARK_GRAFT_DURABLE", raising=False)
    a = sorted(map(tuple, materialize(base).groupBy("g").count().collect()))
    monkeypatch.setenv("SPARK_GRAFT_DURABLE", "1")
    df = materialize(base)
    try:
        b = sorted(map(tuple, df.groupBy("g").count().collect()))
    finally:
        df.unpersist()
    assert a == b


def test_operators_run_durable_end_to_end(spark, monkeypatch):
    """Operators that route lineage cuts through materialize() must
    produce identical results in durable mode — run the iterative
    cluster propagation (most materialize-dependent operator: eager
    per-round cuts) and the minhash pipeline both ways."""
    from pyspark.sql import Row

    from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import dedup

    rows = [Row(doc_id=i, text=f"chain doc {i // 3} shared body words here") for i in range(30)]
    df = spark.createDataFrame(rows)

    def run():
        pairs = dedup.minhash_near_dup(df, "doc_id", "text")
        edges = pairs.select("id_a", "id_b")
        clusters = dedup.duplicate_clusters(
            edges, df.select("doc_id"), "doc_id"
        )
        return sorted(map(tuple, clusters.collect()))

    monkeypatch.delenv("SPARK_GRAFT_DURABLE", raising=False)
    local = run()
    monkeypatch.setenv("SPARK_GRAFT_DURABLE", "1")
    try:
        durable = run()
    finally:
        for (_, rdd) in spark.sparkContext._jsc.getPersistentRDDs().items():
            rdd.unpersist()
    assert local == durable
    assert len(local) == 30  # every doc labeled


def test_durable_iterative_loops_release_old_rounds(spark, monkeypatch):
    """Durable mode persists a fresh DISK_ONLY frame per iterative
    round; without release() the cache grows unboundedly over a
    long-lived session. After an operator returns, only the frames the
    RESULT still needs may stay cached — not one per round."""
    from pyspark.sql import Row

    from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import dedup, graph

    monkeypatch.setenv("SPARK_GRAFT_DURABLE", "1")

    def n_cached():
        return sum(
            1
            for (_, rdd) in spark.sparkContext._jsc.getPersistentRDDs().items()
        )

    # a 40-node chain: label propagation needs many rounds to converge
    edges = spark.createDataFrame(
        [Row(u=i, v=i + 1) for i in range(39)]
    ).selectExpr("u as id_a", "v as id_b")
    vertices = spark.range(40).selectExpr("id as doc_id")
    try:
        before = n_cached()
        out = dedup.duplicate_clusters(
            edges.selectExpr("id_a", "id_b"), vertices, "doc_id"
        )
        assert out.count() == 40
        # rounds are checkpointed (not persisted) and the loop-invariant
        # edge/initial-label persists are released at operator exit
        assert n_cached() - before <= 2

        before = n_cached()
        pr = graph.pagerank_micro(
            spark.createDataFrame([Row(u=i, v=i + 1) for i in range(20)])
        )
        assert pr.count() > 0
        assert n_cached() - before <= 2
    finally:
        for (_, rdd) in spark.sparkContext._jsc.getPersistentRDDs().items():
            rdd.unpersist()
