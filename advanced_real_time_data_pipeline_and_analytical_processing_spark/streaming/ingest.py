"""Streaming file-ingest pipeline — the reference's core loop, Spark-first.

Reference behavior (``code/Main.py:44-170``): watch a bucket folder,
per micro-batch: read files, clean, validate/split, quarantine bad rows,
enrich good rows, append to serving store, write audit record, move the
consumed files to ``processed/`` (or ``qurantine/`` on failure).

Fixes applied vs the reference (SURVEY.md §4.3):
- §4.3-1 double read: the stream reads the DATA directly
  (``readStream.format('csv'|'json')`` with explicit schema) instead of
  whole-text discovery + batch re-read.
- §4.3-2 unbounded dedup state: the file source's checkpointed
  exactly-once file tracking does the work of
  ``dropDuplicates(file_path)``, but it is no more bounded: its log
  keeps every file it ever saw, about 107 B per file in
  ``sources/0/*.compact`` (ROADMAP item 12).
- §4.3-3 action storm: the success path runs the sink writes and
  nothing else — one job each for the good and the quarantine writes,
  no shuffle; the one-row audit record is written from the driver
  without a job. The two writes run at the same time over the batch's
  one cached frame, the quarantine write on a helper thread that lives
  for the batch. Every batch writes both sinks: a batch without bad
  rows runs an empty quarantine write, which adds no partition. On
  clean traffic (the reference's own file has no bad row) that is one
  more job per batch: a warm clean 500-row batch at ``local[2]`` took
  wall 348 ms, JVM CPU 585 ms and 2 jobs, against 394 ms, 440 ms and
  1 job when the good write ran alone (medians of three processes a
  side, 20 warm batches each, on a shared 4 vCPU host). On a batch
  with bad rows the overlap cut perfbench ``ingest_trickle``'s
  ``op_p50_s`` by 31%. The good/bad/total counts and the batch's file
  list come from ``observe()`` metrics collected during the good write
  (the reference ran >=12 actions per batch). The
  batch's expressions are built once per stream, and its two per-batch
  values (batch id, ingestion time) reach the generated code as
  referenced objects, not inlined literals, so a warm batch compiles no
  new classes. The storage protocol's own fixed cost is cut as well:
  both sink writes go through ``sinks.writers.write_partitions``, which
  skips the ``_SUCCESS`` marker that dynamic overwrite deletes with its
  staging dir, and ``session.get_spark`` sessions commit the stream's
  checkpoint logs through the FileSystem API. Without a native Hadoop
  library each local link check or permission set is a child process:
  a warm batch starts 24 of them (none a ``readlink``), against 52 before.
- §4.3-6/7: typed empty frames, quarantine keyed by batch + source file
  column rather than comma-joined table names.
- §4.3-8 at-least-once side effects: the good and quarantine sinks are
  written with dynamic-partition-overwrite keyed on ``batch_id`` — a
  replayed micro-batch overwrites exactly its own partition, so the data
  sinks are idempotent under foreachBatch's at-least-once contract. The
  audit sink stays append-only on purpose: it is an attempt log, and a
  replay SHOULD leave a second record.
- K5 file lifecycle (reference ``code/utils.py:48-78``,
  ``code/Main.py:153-156,169``): after a successful batch the consumed
  source files move to ``processed_dir``; if the batch raises they move
  to ``failed_dir``. Implemented with the Hadoop FileSystem API (rename,
  copy+delete fallback semantics on object stores) so the same code
  serves file:// in tests and s3a:// in production. (Spark's own
  ``cleanSource`` archiving is not used: it delays a batch's files until
  a later batch commits and cannot route by outcome.)
"""

from __future__ import annotations

import datetime as dt
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field, replace
from typing import Callable

from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.util import inheritable_thread_target

from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators.cleaning import drop_all_null_rows, trim_exprs
from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators.enrichment import row_hash_expr
from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators.validation import (
    ERROR_COL,
    RuleSet,
)
from advanced_real_time_data_pipeline_and_analytical_processing_spark.sinks.bootstrap import (
    bootstrap_ingest_dirs,
)
from advanced_real_time_data_pipeline_and_analytical_processing_spark.sinks.writers import (
    AuditRecord,
    write_audit,
    write_partitions,
)


@dataclass
class IngestConfig:
    source_dir: str
    fmt: str  # "csv" | "json" | "parquet" | "orc" (readStream.format name)
    schema: StructType
    rules: RuleSet
    good_dir: str
    quarantine_dir: str
    audit_dir: str
    checkpoint_dir: str
    max_files_per_trigger: int | None = 1000  # ingest backpressure
    trigger: dict = field(default_factory=lambda: {"availableNow": True})
    # K5 file lifecycle: where consumed source files are moved after the
    # batch. None disables the corresponding move.
    processed_dir: str | None = None
    failed_dir: str | None = None
    # K1/K2 composition hook: called once per micro-batch with the
    # enriched GOOD frame (data cols + file_path + ingestion_ts +
    # row_hash) and the batch id, AFTER the parquet good sink — the
    # slot deploy/job_ingest.py uses to add the staged JDBC MERGE
    # (reference Main.py wrote each batch to Postgres). Must be
    # idempotent under foreachBatch's at-least-once replay contract
    # (upsert_jdbc keyed on row_hash is; a blind append is not).
    on_good: Callable[[DataFrame, int], None] | None = None


def build_stream(spark: SparkSession, cfg: IngestConfig) -> DataFrame:
    reader = (
        spark.readStream.format(cfg.fmt)
        .schema(cfg.schema)
        .option("pathGlobFilter", f"*.{cfg.fmt}")
    )
    if cfg.fmt == "csv":
        reader = reader.option("header", "true")
    if cfg.max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(cfg.max_files_per_trigger))
    return reader.load(cfg.source_dir)


def move_files(spark: SparkSession, paths: list[str], dest_dir: str | None) -> None:
    """K5: relocate source files into `dest_dir` (reference
    ``code/utils.py:48-78`` did boto3 copy+delete; Hadoop FS ``rename``
    is the portable equivalent — atomic on HDFS/local, copy+delete on
    object stores). Driver-side over file METADATA only: the path list
    is bounded by maxFilesPerTrigger, never row data."""
    if not dest_dir or not paths:
        return
    hconf = spark._jsc.hadoopConfiguration()
    # by full name: one py4j round trip, not one per package segment
    HPath = getattr(spark._jvm, "org.apache.hadoop.fs.Path")
    dest = HPath(dest_dir)
    fs = dest.getFileSystem(hconf)
    fs.mkdirs(dest)
    for p in paths:
        src = HPath(p)
        src_fs = src.getFileSystem(hconf)
        if src_fs.exists(src):  # replayed batch: file already moved
            src_fs.rename(src, HPath(dest, src.getName()))


def _listed_files(marked: DataFrame, cap: int | None) -> list[str]:
    """The batch's files by a distinct over the persisted frame, for the
    failure path when the good write's observation never arrived. Size
    cap: one row per file, at most maxFilesPerTrigger rows. A listing
    that fails in Spark itself (e.g. the source read is what broke)
    moves nothing, so the batch's own error is the one re-raised."""
    listing = marked.select("file_path").distinct()
    if cap:
        listing = listing.limit(cap)
    try:
        return [r[0] for r in listing.collect()]
    except PySparkException:
        return []


def process_batch(cfg: IngestConfig) -> Callable[[DataFrame, int], None]:
    """foreachBatch body: one persisted pass, good/bad split, both sinks
    idempotent on replay, exact audit counts and the routed file list
    from observe() metrics.

    The quarantine write does not wait for the good one: it starts on a
    one-worker pool made for the batch, and the good write, its
    observation and ``on_good`` run on the stream thread meanwhile. The
    audit record, the file move and the unpersist come after both
    writes have ended. If either write fails the batch writes a FAILURE
    audit, moves its files to ``failed_dir`` and re-raises: the good
    write's error if it failed, else the quarantine write's.

    The batch's expressions are built once here, not per micro-batch:
    the stream's schema is fixed at ``cfg.schema`` and Column objects
    are reusable across frames, so a batch pays only for its writes."""
    data_cols = cfg.schema.fieldNames()
    trimmed = trim_exprs(cfg.schema)
    # file_path is materialized INSIDE the persisted plan: evaluating
    # input_file_name() above a cache returns '' on cache hits.
    marks = (
        cfg.rules.error_expr(data_cols).alias(ERROR_COL),
        F.input_file_name().alias("file_path"),
    )
    is_good, is_bad = F.col(ERROR_COL).isNull(), F.col(ERROR_COL).isNotNull()
    batch_metrics = (
        F.count(F.lit(1)).alias("total"),
        F.count(F.when(is_bad, F.lit(1))).alias("bad"),
        # one entry per file, at most maxFilesPerTrigger of them
        F.collect_set("file_path").alias("files"),
    )
    # hash over the DATA columns only (reference recipe,
    # code/helpers.py:208-215) so replays produce identical idempotency
    # keys.
    row_hash = row_hash_expr(data_cols).alias("row_hash")

    def _run(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.columns != data_cols:
            raise ValueError(f"batch columns {batch_df.columns} != schema {data_cols}")
        spark = batch_df.sparkSession
        # The batch's values reach generated code as referenced objects:
        # Spark inlines an int or timestamp literal into the generated
        # source, which would make every batch's classes new. The
        # partition value is a string (same batch_id=N directory), and
        # the one ingestion instant is read from a one-element array
        # literal; its date folds to a string literal (session time zone).
        ingested = dt.datetime.now(dt.timezone.utc)
        batch_key = F.lit(str(batch_id))
        ingestion_ts = F.inline(F.array(F.struct(F.lit(ingested).alias("ingestion_ts"))))
        quarantine_date = F.date_format(F.lit(ingested), "yyyy-MM-dd")
        # trim, then all-null drop, and validate(), prebuilt
        marked = drop_all_null_rows(batch_df.select(*trimmed)).select("*", *marks).persist()
        files: list[str] | None = None  # set once the observation arrives
        try:
            quarantined = marked.filter(is_bad).withColumn("quarantine_date", quarantine_date).withColumn("batch_id", batch_key)
            # The helper thread carries the stream thread's job group and
            # tags, so stopping the query cancels the quarantine job too.
            # Outside pyspark's pinned-thread mode (PYSPARK_PIN_THREAD=false)
            # there is no JVM thread state to carry, and pyspark returns
            # the session instead of a wrapper. Leaving the `with` block
            # joins the helper; if both writes fail, the good write's
            # error is the one that propagates.
            carry = inheritable_thread_target(spark)
            write_quarantine = carry(write_partitions) if callable(carry) else write_partitions
            with ThreadPoolExecutor(max_workers=1) as pool:
                quarantine_write = pool.submit(write_quarantine, quarantined, cfg.quarantine_dir, "batch_id")
                obs = Observation()
                observed = marked.observe(obs, *batch_metrics)
                enriched = observed.filter(is_good).drop(ERROR_COL).select("*", ingestion_ts, row_hash)
                write_partitions(enriched.withColumn("batch_id", batch_key), cfg.good_dir, "batch_id")
                metrics = obs.get  # filled by the write above — no extra jobs
                total, bad_count = int(metrics["total"]), int(metrics["bad"])
                files = list(metrics["files"])

                if cfg.on_good is not None:
                    # K1/K2 slot (e.g. staged JDBC MERGE): recomputes from
                    # the persisted `marked`, so no second source scan; the
                    # Observation already captured its metrics above.
                    cfg.on_good(enriched, batch_id)
            quarantine_write.result()  # re-raises the quarantine write's error
            write_audit(
                spark,
                cfg.audit_dir,
                AuditRecord(
                    batch_id=batch_id,
                    source=cfg.source_dir,
                    fmt=cfg.fmt,
                    total_rows=total,
                    good_rows=total - bad_count,
                    bad_rows=bad_count,
                    status="SUCCESS",
                ),
            )
            move_files(spark, files, cfg.processed_dir)
        except Exception as exc:  # reference T6: failure audit, then re-raise
            write_audit(
                spark,
                cfg.audit_dir,
                AuditRecord(
                    batch_id=batch_id,
                    source=cfg.source_dir,
                    fmt=cfg.fmt,
                    total_rows=0,
                    good_rows=0,
                    bad_rows=0,
                    status="FAILURE",
                    message=str(exc)[:500],
                ),
            )
            if files is None and cfg.failed_dir:
                files = _listed_files(marked, cfg.max_files_per_trigger)
            move_files(spark, files or [], cfg.failed_dir)
            raise
        finally:
            marked.unpersist()

    return _run


def start_ingest(spark: SparkSession, cfg: IngestConfig):
    """Start the streaming query. With trigger=availableNow this drains
    the existing backlog and stops (backfill mode); with processingTime
    it runs continuously (reference T1). Storage locations are
    bootstrapped first (K6 — the reference's ``initialize_bucket`` at
    ``code/Main.py:34`` holds the same pre-stream slot)."""
    bootstrap_ingest_dirs(spark, cfg)
    stream = build_stream(spark, cfg)
    writer = (
        stream.writeStream.foreachBatch(process_batch(cfg))
        .option("checkpointLocation", cfg.checkpoint_dir)
        .trigger(**cfg.trigger)
    )
    return writer.start()


def run_ingest_once(spark: SparkSession, cfg: IngestConfig) -> None:
    """Synchronous availableNow drain. Kept as the backfill entry point;
    the ingest tests run the pipeline through it. The caller's config is
    left as it is."""
    start_ingest(spark, replace(cfg, trigger={"availableNow": True})).awaitTermination()

