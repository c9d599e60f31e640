"""Both session factory paths must pin the gate's semantics.

VERDICT r6 #2: `get_spark` historically left `spark.sql.ansi.enabled`
at the Spark 4 default (ON), so local pytest sessions ran under
DIFFERENT overflow/cast semantics than the driver gate (which routes
through `configure_session`, ANSI off). One divergent conf is exactly
how a silent-int64-wrap bug class stays invisible locally: ANSI-on
throws where the gate wraps. Assert both factories agree.
"""

from __future__ import annotations

from advanced_real_time_data_pipeline_and_analytical_processing_spark.session import configure_session


def test_get_spark_pins_ansi_off(spark):
    assert spark.conf.get("spark.sql.ansi.enabled") == "false"


def test_configure_session_pins_ansi_off(spark):
    # flip it the way a hostile driver session might, then re-pin
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        configure_session(spark)
        assert spark.conf.get("spark.sql.ansi.enabled") == "false"
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "false")


def test_factories_agree_on_gate_confs(spark):
    configure_session(spark)
    for conf, want in [
        ("spark.sql.ansi.enabled", "false"),
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    ]:
        assert spark.conf.get(conf) == want, conf


# Each factory's effective confs. A change here changes the engine's
# semantics or sizing, not just how session.py spells them.
SEMANTICS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.ansi.enabled": "false",
    "spark.sql.legacy.sizeOfNull": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}
# get_spark's builder-only confs
BUILDER_ONLY = {
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
    "spark.ui.enabled": "false",
    "spark.sql.codegen.cache.maxEntries": "512",
}


def test_factories_effective_confs(spark):
    for k, v in {**SEMANTICS, **BUILDER_ONLY}.items():
        assert spark.conf.get(k) == v, k
    # configure_session sets the semantics on a session that lacks them
    # and leaves get_spark's builder confs alone (the static ones cannot
    # be unset per session)
    session = spark.newSession()
    runtime_builder = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.streaming.checkpointFileManagerClass",
    ]
    for k in [*SEMANTICS, *runtime_builder]:
        session.conf.unset(k)
    configure_session(session)
    for k, v in SEMANTICS.items():
        assert session.conf.get(k) == v, k
    for k in runtime_builder:
        assert session.conf.get(k, None) != BUILDER_ONLY[k], k


def test_configure_session_leaves_checkpoint_manager_unset(spark):
    """Only get_spark's local sessions commit checkpoints through the
    FileSystem manager; a cluster session keeps Spark's default, whose
    no-overwrite rename is atomic on HDFS."""
    key = "spark.sql.streaming.checkpointFileManagerClass"
    assert spark.conf.get(key).endswith(".FileSystemBasedCheckpointFileManager")
    session = spark.newSession()
    session.conf.unset(key)
    configure_session(session)
    assert session.conf.get(key, None) is None


# The ten registry queries of the benchmark's analytics mix, and the
# registry's running-stats drain in place of the mix's own drain.
REPEATED_QUERIES = (
    "flagship_event_stats",
    "validation_split",
    "row_hash_documents",
    "q1_pricing_summary",
    "q14_promo_revenue",
    "exact_dedup_docs",
    "count_min_frequencies",
    "stopword_profile",
    "events_table_profile",
    "weekly_ohlc",
    "stateful_running_counts",
)


def test_repeated_query_set_reuses_generated_classes(spark):
    """A second pass over a repeated query set compiles almost nothing:
    the generated-class cache holds the set's working set (~115 classes
    for these queries; Spark's default cache of 100 entries recompiled
    ~80 of them every pass). events_table_profile still compiles a few
    classes of its own every pass."""
    import __spark_entry__ as entry

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    queries = entry.queries()
    per_pass = []
    for _ in range(2):
        before = compiles.getCount()
        for name in REPEATED_QUERIES:
            queries[name](spark, "/root/testdata/sf0.001").collect()
        per_pass.append(compiles.getCount() - before)
    assert per_pass[1] <= 8, per_pass
