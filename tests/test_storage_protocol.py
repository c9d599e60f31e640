"""The storage protocol's fixed cost per micro-batch on a local file
system, and what it leaves on disk.

Without a native Hadoop library, Hadoop's local file system starts a
child process (`readlink`, `chmod`) for each link check and permission
set. The JVM's own `jdk.ProcessStart` flight-recorder events count
them, read back through `jdk.jfr.Recording`/`RecordingFile` over py4j.
The budgets hold with or without a native library (with one there are
fewer processes, not more).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import types as T

from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import validation as V
from advanced_real_time_data_pipeline_and_analytical_processing_spark.streaming import ingest as ing
from advanced_real_time_data_pipeline_and_analytical_processing_spark.streaming import stateful

CHECKPOINT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
FILE_CONTEXT_MANAGER = "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"

SCHEMA = T.StructType(
    [
        T.StructField("sensor_id", T.StringType()),
        T.StructField("temperature_C", T.DoubleType()),
        T.StructField("humidity", T.DoubleType()),
    ]
)
# one good row, one out of range, one without a key
CSV_MIXED = "sensor_id,temperature_C,humidity\ns1,21.5,40\ns3,61.79,30\n,22.0,33\n"


class ProcessStarts:
    """Commands of the processes the driver's JVM starts between
    ``start()`` and ``stop()``, from its `jdk.ProcessStart` events."""

    def __init__(self, spark, tmp_path):
        self.jvm = spark._jvm
        self.dump = str(tmp_path / f"process-starts-{uuid.uuid4().hex}.jfr")
        self.recording = getattr(self.jvm, "jdk.jfr.Recording")()
        self.recording.enable("jdk.ProcessStart").withoutStackTrace()

    def start(self) -> None:
        self.recording.start()

    def stop(self) -> list[str]:
        self.recording.stop()
        path = getattr(self.jvm, "java.io.File")(self.dump).toPath()
        self.recording.dump(path)
        self.recording.close()
        events = getattr(self.jvm, "jdk.jfr.consumer.RecordingFile").readAllEvents(path)
        return [events.get(i).getString("command") for i in range(events.size())]


def programs(commands: list[str]) -> list[str]:
    return [os.path.basename(c.split()[0]) for c in commands]


def ingest_cfg(tmp_path, **kw) -> ing.IngestConfig:
    d = {k: str(tmp_path / k) for k in ("source", "good", "quarantine", "audit", "checkpoint", "processed")}
    os.makedirs(d["source"], exist_ok=True)
    return ing.IngestConfig(
        source_dir=d["source"],
        fmt="csv",
        schema=SCHEMA,
        rules=V.RuleSet(rules=[V.NotNullRule(["sensor_id"]), V.RangeRule("temperature_C", -50, 50)]),
        good_dir=d["good"],
        quarantine_dir=d["quarantine"],
        audit_dir=d["audit"],
        checkpoint_dir=d["checkpoint"],
        processed_dir=d["processed"],
        **kw,
    )


def land(cfg, name: str, order: int = 0) -> None:
    """Write one source file; ``order`` spaces modification times so a
    one-file trigger takes files in that order."""
    path = os.path.join(cfg.source_dir, name)
    with open(path, "w") as fh:
        fh.write(CSV_MIXED)
    t = os.path.getmtime(path) + 10 * order
    os.utime(path, (t, t))


def drain_running_stats(spark, tmp_path):
    src = tmp_path / "drain_src"
    for i, rows in enumerate([[(1, 10.0), (2, 1.0)], [(1, 2.0), (3, 7.0)]]):
        spark.createDataFrame(rows, "user_id bigint, value double").coalesce(1).write.parquet(str(src / f"f{i}"))
    stream = spark.readStream.schema("user_id bigint, value double").option("maxFilesPerTrigger", "1").parquet(str(src / "*"))
    return stateful.drain_to_parquet(spark, stateful.running_user_stats(stream))


def test_warm_ingest_micro_batch_process_budget(spark, tmp_path):
    """A warm micro-batch (the previous batch's commit, then its own
    offset and file-source logs, sink writes, audit row and file move)
    starts no `readlink` and at most 24 processes: checkpoint logs commit
    through the FileSystem API and the sink writes skip `_SUCCESS`."""
    cfg = ingest_cfg(tmp_path, max_files_per_trigger=1)
    for i in range(3):
        land(cfg, f"m{i}.csv", i)
    body = ing.process_batch(cfg)
    starts = ProcessStarts(spark, tmp_path)
    window: list[str] = []

    def measured(batch_df, batch_id):
        body(batch_df, batch_id)
        if batch_id == 1:
            starts.start()
        elif batch_id == 2:
            window.extend(starts.stop())

    (
        ing.build_stream(spark, cfg)
        .writeStream.foreachBatch(measured)
        .option("checkpointLocation", cfg.checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )

    assert sorted(os.listdir(cfg.processed_dir)) == ["m0.csv", "m1.csv", "m2.csv"]
    # Left out: the collector's cleanup of a dropped session clone's
    # artifact dir (`rm -rf <tmp>/artifacts-...` on the Cleaner thread),
    # which lands in whichever window the GC happens to run in.
    storage = [c for c in window if not (c.startswith("rm ") and "/artifacts-" in c)]
    assert "readlink" not in programs(storage), storage
    assert len(storage) <= 24, storage


def test_drain_starts_no_readlink(spark, tmp_path):
    starts = ProcessStarts(spark, tmp_path)
    starts.start()
    try:
        final = drain_running_stats(spark, tmp_path)
    finally:
        commands = starts.stop()
    assert final.count() == 4
    assert "readlink" not in programs(commands), commands


def test_sinks_keep_no_success_marker_or_staging_dir(spark, tmp_path):
    """`_SUCCESS` is skipped, and dynamic overwrite still removes its
    staging dir: the good, quarantine and drain sinks hold only their
    partition dirs."""
    cfg = ingest_cfg(tmp_path)
    land(cfg, "a.csv")
    land(cfg, "b.csv", 1)
    ing.run_ingest_once(spark, cfg)
    drained = drain_running_stats(spark, tmp_path)
    drain_sink = drained.inputFiles()[0].split("/_batch_id=")[0].removeprefix("file:")

    for sink, key in ((cfg.good_dir, "batch_id"), (cfg.quarantine_dir, "batch_id"), (drain_sink, "_batch_id")):
        entries = os.listdir(sink)
        assert entries and all(e.startswith(f"{key}=") for e in entries), (sink, entries)
        for root, _, files in os.walk(sink):
            assert not any(f.startswith(("_SUCCESS", "._SUCCESS")) for f in files), (root, files)
    assert spark.read.parquet(cfg.good_dir).count() == 2
    assert spark.read.parquet(cfg.quarantine_dir).count() == 4


def test_file_context_checkpoint_resumes_under_file_system_manager(spark, tmp_path):
    """A checkpoint written by Spark's default FileContext manager
    resumes under the FileSystem pin: the first run's batch is not
    processed again, and the new file is processed once."""
    cfg = ingest_cfg(tmp_path)
    land(cfg, "a.csv")
    pinned = spark.conf.get(CHECKPOINT_MANAGER)
    assert pinned.endswith(".FileSystemBasedCheckpointFileManager")
    starts = ProcessStarts(spark, tmp_path)
    spark.conf.set(CHECKPOINT_MANAGER, FILE_CONTEXT_MANAGER)
    starts.start()
    try:
        ing.run_ingest_once(spark, cfg)
    finally:
        first = starts.stop()
        spark.conf.set(CHECKPOINT_MANAGER, pinned)
    if not getattr(spark._jvm, "org.apache.hadoop.util.NativeCodeLoader").isNativeCodeLoaded():
        assert "readlink" in programs(first)  # FileContext's link checks: the first run used it

    land(cfg, "b.csv", 1)
    ing.run_ingest_once(spark, cfg)
    ing.run_ingest_once(spark, cfg)  # nothing new: no batch

    audit = sorted((r["batch_id"], r["status"], r["total_rows"]) for r in spark.read.parquet(cfg.audit_dir).collect())
    assert audit == [(0, "SUCCESS", 3), (1, "SUCCESS", 3)]
    good = spark.read.parquet(cfg.good_dir)
    assert sorted((r["batch_id"], os.path.basename(r["file_path"])) for r in good.collect()) == [(0, "a.csv"), (1, "b.csv")]
    assert sorted(f for f in os.listdir(os.path.join(cfg.checkpoint_dir, "commits")) if not f.startswith(".")) == ["0", "1"]
