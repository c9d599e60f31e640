"""Stateful streaming operators and the bounded drain that runs them.

The reference has no stateful event-time logic at all (SURVEY.md §2.9:
processing-time micro-batches only, unbounded dropDuplicates state its
lone stateful op). This module supplies the per-key state a real
pipeline needs, maintained across micro-batches:

- ``running_user_stats``: per-key running count and sum, computed by
  Spark's native streaming aggregate (state-store merge in the JVM, no
  Python worker);
- ``drain``: runs a bounded stream to completion with an availableNow
  trigger, its checkpoint in this process's ``scratch_dir()``;
  ``drain_to_parquet`` drains into a parquet sink there. Event-time
  sessions are ``windows.session_windows`` (Spark's session window)
  drained here in append mode.

Scale notes: state lives in the state store partitioned by grouping
key — the shuffle is on the key, state size is O(distinct keys), and
each micro-batch touches only keys present in the batch.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from advanced_real_time_data_pipeline_and_analytical_processing_spark.sinks.writers import write_partitions


def running_user_stats(stream_df: DataFrame) -> DataFrame:
    """Per-user_id running (count, sum(value)) maintained in the state store.

    Output mode 'update': one row per key per micro-batch the key
    appears in, carrying the cumulative totals so far — the streaming
    generalization of the reference's per-batch aggregate table
    (code/helpers.py:148-204), which recomputed from scratch per batch.

    A plain count and sum need no custom state: Spark's own streaming
    aggregate keeps them in the state store and merges each batch's
    partial aggregate JVM-side, with no rows sent to a Python worker.
    A NaN or NULL value adds 0 (pandas ``fillna(0.0)`` semantics); a
    NULL key is a group of its own. A total that is NaN (a key saw both
    +inf and -inf) is emitted as NaN, as the fold computes it.
    """
    value = F.coalesce(F.nanvl(F.col("value").cast("double"), F.lit(0.0)), F.lit(0.0))
    return (
        stream_df.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum(value).alias("sum_value"))
        .select(F.col("user_id").cast("bigint").alias("user_id"), "n_events", "sum_value")
    )


def _scratch_root() -> str:
    """Where bounded streams keep their scratch (see ``drain``: nothing
    there needs to be durable). Its cost is fsync-bound (offset/commit
    WAL + one state-store delta file per partition per batch), so it
    belongs on the fastest ephemeral storage the host has:
    SPARK_GRAFT_STREAM_SCRATCH if set (point it at local NVMe on a
    cluster), else /dev/shm when present (r14: measured 5.98 -> 5.45 s
    stateful_session_report, 7.78 -> 6.02 s stream_outer_join_report
    solo medians moving /tmp-on-disk -> tmpfs), else the system temp
    dir. A RESUMABLE long-lived stream (not this API) must keep its
    checkpoint on durable shared storage instead.

    r15 (ADVICE r14): /dev/shm is elected only when it has >= 1 GiB
    free — RAM-backed tmpfs is tiny in some container runtimes (Docker
    defaults it to 64 MB), where electing it turns runs that worked on
    /tmp into ENOSPC failures. The env override is unconditional (the
    operator trusts an explicit setting)."""
    root = os.environ.get("SPARK_GRAFT_STREAM_SCRATCH")
    if root:
        return root
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        try:
            st = os.statvfs(shm)
            if st.f_bavail * st.f_frsize >= 1 << 30:
                return shm
        except OSError:
            pass
    return tempfile.gettempdir()


@functools.cache
def _scratch_dir_under(root: str) -> str:
    os.makedirs(root, exist_ok=True)
    path = tempfile.mkdtemp(prefix="spark_graft_", dir=root)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def scratch_dir() -> str:
    """This process's one scratch dir under ``_scratch_root()``, made on
    first use (the root too, if missing) and removed at interpreter
    exit. Every bounded stream keeps its staged inputs, checkpoint and
    sink here; sinks must outlive their drain because the returned
    frames read them lazily."""
    return _scratch_dir_under(_scratch_root())


def drain(
    spark: SparkSession,
    streamed: DataFrame,
    write_batch: Callable[[DataFrame, int], None],
    shuffle_partitions: int | None = None,
    output_mode: str = "update",
) -> None:
    """Run a bounded streaming DataFrame to completion with an
    availableNow trigger, handing each micro-batch to ``write_batch``.

    The checkpoint only orders the micro-batches of this one run: on
    failure the whole drain re-runs from its staged inputs, and an
    idempotent ``write_batch`` makes a replayed micro-batch harmless.
    So it lives in ``scratch_dir()`` and is removed when the drain
    ends, completed or not. In a ``session.get_spark`` session the
    checkpoint's offset, commit and state-store files commit through
    the FileSystem API, so a drain starts no ``readlink`` child process
    (perfbench's running-stats drain: 210 child processes before, 70
    after). output_mode defaults to "update" (stateful running
    aggregates); pass "append" for append-only plans — stream-stream
    joins only support append.

    `shuffle_partitions` scopes the STATE STORE partition count to this
    query (a new checkpoint pins it permanently): stateful queries pay a
    per-state-partition cost every micro-batch (store open/commit), so
    the right number tracks key cardinality and state size, not the
    session's scan parallelism — 32 partitions for 150 keys measured
    3.4× slower than 8."""
    checkpoint = os.path.join(scratch_dir(), f"ckpt_{uuid.uuid4().hex[:12]}")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if shuffle_partitions:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        (
            streamed.writeStream.foreachBatch(write_batch)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    finally:
        if shuffle_partitions:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        shutil.rmtree(checkpoint, ignore_errors=True)


def drain_to_parquet(
    spark: SparkSession,
    streamed: DataFrame,
    shuffle_partitions: int | None = None,
    output_mode: str = "update",
) -> DataFrame:
    """``drain`` into an executor-side parquet sink, then read the
    result back.

    Rows never funnel through the driver (Spark's memory sink would
    hold every update row in driver memory — a scale-killer at
    100 TB). The per-batch write is ``sinks.writers.write_partitions``
    (dynamic partition overwrite keyed on batch id, no ``_SUCCESS``
    marker), so a replayed micro-batch is idempotent. The sink lives in
    ``scratch_dir()`` until exit."""
    out = os.path.join(scratch_dir(), f"out_drain_{uuid.uuid4().hex[:12]}")

    def write_batch(df: DataFrame, batch_id: int) -> None:
        write_partitions(df.withColumn("_batch_id", F.lit(batch_id)), out, "_batch_id")

    drain(spark, streamed, write_batch, shuffle_partitions, output_mode)
    # The sink holds exactly the stream's columns: read them back with
    # the schema already known (no inference job); _batch_id comes from
    # partition discovery.
    return spark.read.schema(streamed.schema).parquet(out).drop("_batch_id")
