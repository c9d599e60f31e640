"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what a production cluster submit would set:
AQE on (runtime shuffle coalescing, skew-join handling, dynamic join
selection), Arrow for pandas boundaries, UTC session timezone (required
for DuckDB-oracle comparability), shuffle partitions sized to cores
rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The engine's SQL semantics, all runtime-settable: both factories apply
# them, and deploy/spark-submit.conf.template must carry the same values.
SESSION_CONF = {
    # DuckDB-oracle comparability: timestamps render and bucket in UTC
    "spark.sql.session.timeZone": "UTC",
    # Spark 4 defaults ANSI mode ON; under ANSI a no-match
    # regexp_extract '' -> CAST(... AS BIGINT) raises instead of
    # yielding NULL, and integer overflow errors instead of wrapping.
    # The engine's semantics (and every oracle comparison) are defined
    # with ANSI off (VERDICT r6 #2).
    "spark.sql.ansi.enabled": "false",
    # size(NULL) = NULL (SQL / DuckDB len() semantics), not the legacy
    # -1 the non-ANSI default resurrects — a NULL text row must profile
    # as NULL tokens, not -1 tokens
    "spark.sql.legacy.sizeOfNull": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # testdata events.parquet stores ts as TIMESTAMP(NANOS); Spark has no
    # nanos timestamp type — read as long and convert at the catalog layer.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}
# get_spark pins these again after getOrCreate, which may hand back a
# pre-existing session whose builder configs never applied
_REPINNED = ("spark.sql.ansi.enabled", "spark.sql.legacy.sizeOfNull")


def put_checkout_on_worker_path() -> None:
    """Prepend the checkout holding this package to PYTHONPATH, which
    the JVM launched next (and so every Python worker it starts)
    inherits. Python workers (pandas UDFs, mapInPandas, Python data
    sources) import the package too, but they start from the JVM's
    environment, not from the driver's sys.path: without this they find
    the package only when the working directory is the checkout."""
    checkout = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    if checkout not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([checkout, *paths])


def get_spark(
    app_name: str = "artdpap-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard config.

    On a real cluster the master/memory settings come from spark-submit;
    everything set here is master-agnostic except ``local[N]``.
    """
    cpus = str(cpus or os.environ.get("SPARK_GRAFT_CPUS", "32"))
    put_checkout_on_worker_path()
    # `spark.driver.memory` set through builder.config is SILENTLY
    # IGNORED when the JVM is launched from a plain Python process (the
    # gateway starts before the conf applies). To actually size the
    # local-mode heap, set SPARK_DRIVER_MEMORY and we inject it at JVM
    # launch via PYSPARK_SUBMIT_ARGS. Opt-in only: measured on this
    # suite, big heaps (16-48g) run SLOWER than the compact default
    # (worse locality, larger G1 regions) — don't "fix" what profiling
    # says isn't broken.
    mem = os.environ.get("SPARK_DRIVER_MEMORY")
    if (
        mem
        and "PYSPARK_SUBMIT_ARGS" not in os.environ
        and SparkSession.getActiveSession() is None
    ):
        os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-memory {mem} pyspark-shell"
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config(map=SESSION_CONF)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.driver.memory", mem or "8g")  # cluster-submit path only
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Generated-class cache (JVM-wide, static: builder time only).
        # Spark's default of 100 entries thrashes on a repeated query
        # set. Measured on perfbench's analytics_mix (10 registry
        # queries + a running-stats drain, local[2]): a cold pass
        # compiles 117 distinct classes and 111 of them recur every
        # pass, so at 100 each warm pass recompiled ~91 (Janino + JIT).
        # 512 holds that working set ~4.6 times over while bounding how
        # many one-shot classes (4 per ingest micro-batch) stay loaded.
        .config("spark.sql.codegen.cache.maxEntries", "512")
        # Streaming checkpoints commit through the FileSystem API, not
        # Spark's default FileContext manager. Without a native Hadoop
        # library the local file system forks a `readlink` for every
        # link check, and FileContext's rename checks both paths of
        # each log file (8 forks per file); the FileSystem manager does
        # the same check-then-rename on the same RawLocalFileSystem and
        # writes the same files, so old checkpoints resume. Measured
        # on perfbench's workloads (seed 5, local[2]): `readlink`s per
        # warm ingest micro-batch 24 -> 0, per running-stats drain
        # 136 -> 0. A builder config on purpose: the file source's log
        # is built lazily on the stream thread from the reader's
        # session, so a conf set only around `.start()` leaves it on
        # FileContext. Local sessions only: configure_session and the
        # cluster template keep the default, whose no-overwrite rename
        # is atomic on HDFS (docs/CLUSTER.md).
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager",
        )
    )
    # Scale-dependent overrides without code edits (optimization guide
    # §9: configs are deployment-specific): SPARK_GRAFT_CONF holds
    # ;-separated key=value pairs applied LAST, so a cluster submit (or
    # an A/B probe) can tune shuffle codec, join strategy, partition
    # sizing etc. while local defaults stay fixed and bench-comparable.
    # Caveats (ADVICE r14): env pairs OVERRIDE a caller's extra_conf on
    # key collision (deployment beats code — by design); values cannot
    # contain ';'; and like extra_conf they are builder-time configs, so
    # a pre-existing session returned by getOrCreate() ignores them
    # (only the _REPINNED semantics re-apply).
    env_conf = os.environ.get("SPARK_GRAFT_CONF", "")
    pairs = dict(
        p.split("=", 1) for p in env_conf.split(";") if "=" in p
    )
    for k, v in {**(extra_conf or {}), **pairs}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    for k in _REPINNED:
        spark.conf.set(k, SESSION_CONF[k])
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine configs to an externally provided
    session (the driver hands us one; master/memory are fixed by then)."""
    for k, v in SESSION_CONF.items():
        spark.conf.set(k, v)
    return spark
