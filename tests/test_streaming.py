"""End-to-end streaming ingest: staged file drops, availableNow drain,
good/quarantine/audit outputs (replicates the reference's golden-record
semantics: total = good + bad; reference audit sample
code/audit/audit_date=2025-08-19/part-00011-*.json)."""

from __future__ import annotations

import datetime as dt
import os
import subprocess
import sys
import threading
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators import validation as V
from advanced_real_time_data_pipeline_and_analytical_processing_spark.streaming.ingest import (
    IngestConfig,
    run_ingest_once,
)
from advanced_real_time_data_pipeline_and_analytical_processing_spark.streaming.windows import (
    session_windows,
    sliding_avg,
    tumbling_counts,
)

SCHEMA = T.StructType(
    [
        T.StructField("sensor_id", T.StringType()),
        T.StructField("temperature_C", T.DoubleType()),
        T.StructField("humidity", T.DoubleType()),
    ]
)

CSV_GOOD = "sensor_id,temperature_C,humidity\ns1,21.5,40\ns2,19.0,50\n"
CSV_MIXED = "sensor_id,temperature_C,humidity\ns3,61.79,30\ns4,25.0,45\n,22.0,33\n"


@pytest.fixture()
def dirs(tmp_path):
    d = {
        k: str(tmp_path / k)
        for k in ("source", "good", "quarantine", "audit", "checkpoint")
    }
    os.makedirs(d["source"])
    return d


def write_file(dirs, name, content):
    with open(os.path.join(dirs["source"], name), "w") as fh:
        fh.write(content)


def read_batch(spark, dirs):
    """The source dir's files as one static micro-batch frame."""
    return spark.read.option("header", "true").schema(SCHEMA).csv(dirs["source"])


def make_cfg(dirs):
    return IngestConfig(
        source_dir=dirs["source"],
        fmt="csv",
        schema=SCHEMA,
        rules=V.RuleSet(
            rules=[
                V.NotNullRule(["sensor_id"]),
                V.NumericRule(["temperature_C"]),
                V.RangeRule("temperature_C", -50, 50),
                V.HeavyNullRule(0.5),
            ]
        ),
        good_dir=dirs["good"],
        quarantine_dir=dirs["quarantine"],
        audit_dir=dirs["audit"],
        checkpoint_dir=dirs["checkpoint"],
    )


def test_ingest_end_to_end(spark, dirs):
    write_file(dirs, "a.csv", CSV_GOOD)
    write_file(dirs, "b.csv", CSV_MIXED)
    run_ingest_once(spark, make_cfg(dirs))

    good = spark.read.parquet(dirs["good"])
    assert good.count() == 3  # s1, s2, s4
    assert {"file_path", "ingestion_ts", "row_hash"} <= set(good.columns)

    bad = spark.read.parquet(dirs["quarantine"])
    bad_rows = {r["error_reason"] for r in bad.collect()}
    assert bad.count() == 2
    assert "out_of_range:temperature_C" in bad_rows  # s3 at 61.79
    assert "null_key:sensor_id" in bad_rows

    audit = spark.read.parquet(dirs["audit"]).collect()
    total = sum(r["total_rows"] for r in audit)
    goodc = sum(r["good_rows"] for r in audit)
    badc = sum(r["bad_rows"] for r in audit)
    assert (total, goodc, badc) == (5, 3, 2)
    assert all(r["status"] == "SUCCESS" for r in audit)


def test_ingest_exactly_once_on_rerun(spark, dirs):
    write_file(dirs, "a.csv", CSV_GOOD)
    cfg = make_cfg(dirs)
    run_ingest_once(spark, cfg)
    run_ingest_once(spark, cfg)  # same checkpoint: no files re-processed
    assert spark.read.parquet(dirs["good"]).count() == 2

    write_file(dirs, "c.csv", "sensor_id,temperature_C,humidity\ns9,10.0,1\n")
    run_ingest_once(spark, cfg)  # only the new file
    assert spark.read.parquet(dirs["good"]).count() == 3


def test_drain_helpers_leave_caller_trigger(spark, dirs):
    """run_ingest_once drains with availableNow on a copy: a config
    reused for start_ingest afterwards keeps its own trigger, also
    across a second drain."""
    write_file(dirs, "a.csv", CSV_GOOD)
    cfg = make_cfg(dirs)
    cfg.trigger = {"processingTime": "10 seconds"}
    run_ingest_once(spark, cfg)
    assert cfg.trigger == {"processingTime": "10 seconds"}
    assert spark.read.parquet(dirs["good"]).count() == 2

    run_ingest_once(spark, cfg)
    assert cfg.trigger == {"processingTime": "10 seconds"}


def _events(spark):
    rows = [
        ("2024-01-01 00:05:00", "u1", "click", 1.0),
        ("2024-01-01 00:20:00", "u1", "click", 2.0),
        ("2024-01-01 01:10:00", "u1", "view", 3.0),
        ("2024-01-01 02:30:00", "u2", "click", 4.0),
    ]
    return spark.createDataFrame(
        rows, "ts_s string, user_id string, event_type string, value double"
    ).select(F.to_timestamp("ts_s").alias("ts"), "user_id", "event_type", "value")


def test_tumbling_counts_batch(spark):
    out = {
        (str(r["window_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in tumbling_counts(_events(spark)).collect()
    }
    assert out[("2024-01-01 00:00:00", "click")] == (2, 3.0)
    assert out[("2024-01-01 01:00:00", "view")] == (1, 3.0)


def test_session_windows_batch(spark):
    # u1: events at 00:05 and 00:20 (gap 15m < 30m -> one session), then 01:10 (new session)
    out = session_windows(_events(spark), gap="30 minutes").collect()
    u1 = sorted(
        [r for r in out if r["user_id"] == "u1"], key=lambda r: r["session_start"]
    )
    assert len(u1) == 2
    assert u1[0]["n_events"] == 2


def test_streaming_tumbling_with_watermark(spark, tmp_path):
    """Drive the SAME builder through a real streaming query (memory sink)."""
    src = str(tmp_path / "stream_src")
    os.makedirs(src)
    _events(spark).write.parquet(src + "/batch1.parquet")
    stream = (
        spark.readStream.schema(
            "ts timestamp, user_id string, event_type string, value double"
        )
        .parquet(src + "/*.parquet")
    )
    agg = tumbling_counts(stream.withWatermark("ts", "2 hours"))
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("tumb_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # append mode emits only watermark-closed windows; with max ts 02:30 and
    # 2h watermark nothing closes — switch to complete-mode check instead
    rows = spark.sql("SELECT * FROM tumb_out").collect()
    assert rows == []  # nothing finalized yet: correct append-mode semantics


@pytest.mark.parametrize("drain", ["parquet", "memory"])
def test_stateful_running_counts_across_batches(spark, tmp_path, drain):
    """State must accumulate across micro-batches: two files drained one
    per trigger; the final per-key totals cover both. Runs through the
    parquet drain and through Spark's memory sink, which keeps every
    update row."""
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.streaming import stateful

    src = tmp_path / "src"
    src.mkdir()
    df1 = spark.createDataFrame([(1, 10.0), (1, 5.0), (2, 1.0)], "user_id bigint, value double")
    df2 = spark.createDataFrame([(1, 2.0), (3, 7.0)], "user_id bigint, value double")
    df1.coalesce(1).write.parquet(str(src / "f1"))
    df2.coalesce(1).write.parquet(str(src / "f2"))

    stream = (
        spark.readStream.schema("user_id bigint, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    updates = stateful.running_user_stats(stream)
    if drain == "parquet":
        final = stateful.drain_to_parquet(spark, updates)
    else:
        (
            updates.writeStream.format("memory")
            .queryName("running_counts_out")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        final = spark.table("running_counts_out")
    from pyspark.sql import functions as F2

    rows = {
        r["user_id"]: (r["n_events"], r["sum_value"])
        for r in final.groupBy("user_id")
        .agg(
            F2.max("n_events").alias("n_events"),
            F2.max_by("sum_value", "n_events").alias("sum_value"),
        )
        .collect()
    }
    assert rows == {1: (3, 17.0), 2: (1, 1.0), 3: (1, 7.0)}


def test_running_user_stats_matches_fillna_fold_on_hostile_values(spark, tmp_path, monkeypatch):
    """The native running aggregate keeps the pandas operator's
    contract: NaN and NULL values add 0 (``fillna(0.0)``), ±inf sums as
    IEEE does (inf + -inf = NaN, and a NaN total stays NaN), a NULL key
    is a group of its own, every batch emits its keys' cumulative
    totals, and the output schema is the one the pandas operator
    declared."""
    import math

    from pyspark.sql import types as T2

    from advanced_real_time_data_pipeline_and_analytical_processing_spark.streaming import stateful

    nan, inf = float("nan"), float("inf")
    batches = [
        [(1, 1.5), (1, nan), (2, inf), (None, None), (4, None)],
        [(1, None), (1, 2.25), (2, -inf), (None, 4.0), (None, nan), (3, -inf), (3, 1.0)],
    ]
    src = tmp_path / "src"
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "user_id bigint, value double")
        df.coalesce(1).write.parquet(str(src / f"f{i}"))
    stream = (
        spark.readStream.schema("user_id bigint, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    updates = stateful.running_user_stats(stream)
    parent_schema = T2._parse_datatype_string("user_id bigint, n_events bigint, sum_value double")
    assert [(f.name, f.dataType) for f in updates.schema] == [
        (f.name, f.dataType) for f in parent_schema
    ]
    scratch = tmp_path / "scratch"
    scratch.mkdir()
    monkeypatch.setenv("SPARK_GRAFT_STREAM_SCRATCH", str(scratch))
    drained = stateful.drain_to_parquet(spark, updates)
    assert drained.schema == parent_schema
    # the sink keeps each batch's rows under its _batch_id partition
    (out,) = [
        os.path.join(stateful.scratch_dir(), e)
        for e in os.listdir(stateful.scratch_dir())
        if e.startswith("out_drain_")
    ]

    # the pandas operator's fold: per batch, per key present in it
    want, state = {}, {}
    for b, rows in enumerate(batches):
        for key in {k for k, _ in rows}:
            vals = [0.0 if v is None or math.isnan(v) else v for k, v in rows if k == key]
            n, total = state.get(key, (0, 0.0))
            state[key] = (n + len(vals), total + sum(vals))
            want[(b, key)] = state[key]

    def norm(n, total):
        return n, "nan" if math.isnan(total) else total

    got = {
        (r["_batch_id"], r["user_id"]): norm(r["n_events"], r["sum_value"])
        for r in spark.read.parquet(out).collect()
    }
    assert got == {k: norm(*v) for k, v in want.items()}
    assert got[(1, 2)] == (2, "nan") and got[(1, None)] == (3, 4.0)


def test_drain_scratch_lifecycle_and_exit_sweep(spark, tmp_path, monkeypatch):
    """A drain's sink lands in this process's scratch dir, its
    checkpoint is already gone when the drain returns, and the sink
    outlives the call (the returned frame reads it lazily). A process
    that made its scratch dir removes it when it exits."""
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.streaming import stateful

    scratch = tmp_path / "scratch"
    scratch.mkdir()
    monkeypatch.setenv("SPARK_GRAFT_STREAM_SCRATCH", str(scratch))

    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(
        [(1, 10.0), (2, 1.0)], "user_id bigint, value double"
    ).coalesce(1).write.parquet(str(src / "f1"))
    stream = (
        spark.readStream.schema("user_id bigint, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    final = stateful.drain_to_parquet(spark, stateful.running_user_stats(stream))
    assert final.count() == 2  # frame readable while the sink lives

    assert os.listdir(scratch) == [os.path.basename(stateful.scratch_dir())]
    entries = os.listdir(stateful.scratch_dir())
    assert len([e for e in entries if e.startswith("out_drain_")]) == 1, entries
    assert not any(e.startswith("ckpt_") for e in entries)  # WAL swept already

    # exit removal, in a Spark-free process of its own
    child_root = tmp_path / "child"
    child_root.mkdir()
    code = (
        "import os\n"
        "from advanced_real_time_data_pipeline_and_analytical_processing_spark.streaming import stateful\n"
        "open(os.path.join(stateful.scratch_dir(), 'sink'), 'w').close()\n"
        "print(stateful.scratch_dir())\n"
    )
    env = dict(os.environ, SPARK_GRAFT_STREAM_SCRATCH=str(child_root))
    done = subprocess.run(
        [sys.executable, "-c", code],
        cwd=Path(__file__).resolve().parents[1],
        env=env,
        capture_output=True,
        text=True,
        check=True,
    )
    assert done.stdout.strip().startswith(str(child_root))
    assert not os.path.exists(done.stdout.strip())
    assert os.listdir(child_root) == []


def test_failed_write_batch_leaves_no_checkpoint(spark, tmp_path, monkeypatch):
    """A drain whose batch writer raises re-raises, restores the
    session's shuffle partitions and removes its checkpoint."""
    from pyspark.errors import StreamingQueryException

    from advanced_real_time_data_pipeline_and_analytical_processing_spark.streaming import stateful

    monkeypatch.setenv("SPARK_GRAFT_STREAM_SCRATCH", str(tmp_path / "scratch"))
    src = tmp_path / "src"
    spark.createDataFrame([(1, 10.0)], "user_id bigint, value double").write.parquet(str(src))
    stream = spark.readStream.schema("user_id bigint, value double").parquet(str(src))

    def write_batch(df, batch_id):
        raise RuntimeError("sink down")

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(StreamingQueryException, match="sink down"):
        stateful.drain(spark, stream, write_batch, shuffle_partitions=3)
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    assert os.listdir(stateful.scratch_dir()) == []


def test_scratch_root_skips_low_space_devshm(monkeypatch):
    """r15 (ADVICE r14): /dev/shm is elected only with >= 1 GiB free —
    a container with Docker's 64 MB default must fall back to the
    system temp dir instead of ENOSPC-ing mid-drain."""
    import tempfile

    from advanced_real_time_data_pipeline_and_analytical_processing_spark.streaming import stateful

    monkeypatch.delenv("SPARK_GRAFT_STREAM_SCRATCH", raising=False)

    class TinyFS:
        f_bavail = 1024
        f_frsize = 4096  # 4 MB free

    monkeypatch.setattr(os, "statvfs", lambda p: TinyFS())
    assert stateful._scratch_root() == tempfile.gettempdir()

    class BigFS:
        f_bavail = 1 << 20
        f_frsize = 4096  # 4 GiB free

    monkeypatch.setattr(os, "statvfs", lambda p: BigFS())
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        assert stateful._scratch_root() == "/dev/shm"

    # explicit env override is unconditional
    monkeypatch.setenv("SPARK_GRAFT_STREAM_SCRATCH", "/somewhere/else")
    assert stateful._scratch_root() == "/somewhere/else"


def test_scratch_dir_one_per_root_and_creates_missing_root(tmp_path, monkeypatch):
    """One root gives one dir however often it is asked for; a root
    that does not exist yet is created (perfbench points the variable
    at a dir nothing else makes)."""
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.streaming import stateful

    root = tmp_path / "not" / "yet"
    monkeypatch.setenv("SPARK_GRAFT_STREAM_SCRATCH", str(root))
    first = stateful.scratch_dir()
    assert stateful.scratch_dir() == first
    assert os.path.dirname(first) == str(root)
    assert os.listdir(root) == [os.path.basename(first)]

    other = tmp_path / "other"
    monkeypatch.setenv("SPARK_GRAFT_STREAM_SCRATCH", str(other))
    assert os.path.dirname(stateful.scratch_dir()) == str(other)


def test_file_lifecycle_processed_routing(spark, dirs, tmp_path):
    """K5 (reference code/utils.py:48-78): after a successful batch the
    consumed source files — clean AND dirty, à la the reference's
    '- Copy.csv' corrupt fixture — move to processed/, the bad ROWS land
    in the quarantine sink, and the source dir is drained."""
    processed = str(tmp_path / "processed")
    write_file(dirs, "clean.csv", CSV_GOOD)
    write_file(dirs, "corrupt.csv", CSV_MIXED)
    cfg = make_cfg(dirs)
    cfg.processed_dir = processed
    run_ingest_once(spark, cfg)

    assert os.listdir(dirs["source"]) == []
    assert sorted(os.listdir(processed)) == ["clean.csv", "corrupt.csv"]
    # bad rows still quarantined even though their file was processed
    assert spark.read.parquet(dirs["quarantine"]).count() == 2
    # and the stream does NOT re-ingest moved-away files on a later drain
    write_file(dirs, "late.csv", "sensor_id,temperature_C,humidity\ns8,1.0,2\n")
    run_ingest_once(spark, cfg)
    assert spark.read.parquet(dirs["good"]).count() == 4


def test_file_lifecycle_failed_routing(spark, dirs, tmp_path, monkeypatch):
    """A batch that raises routes its files to failed_dir and writes a
    FAILURE audit (reference T6 + K5 quarantine move, code/Main.py:160-170)."""
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.streaming import ingest as ing

    failed = str(tmp_path / "failed")
    write_file(dirs, "a.csv", CSV_GOOD)
    cfg = make_cfg(dirs)
    cfg.failed_dir = failed

    real_audit = ing.write_audit
    calls = {"n": 0}

    def flaky_audit(spark_, out_dir, rec):
        # first SUCCESS audit attempt explodes -> batch fails after the
        # good write; FAILURE audit + file move must still happen
        if rec.status == "SUCCESS" and calls["n"] == 0:
            calls["n"] += 1
            raise RuntimeError("audit store down")
        return real_audit(spark_, out_dir, rec)

    monkeypatch.setattr(ing, "write_audit", flaky_audit)
    with pytest.raises(Exception):
        run_ingest_once(spark, cfg)
    assert os.listdir(failed) == ["a.csv"]
    audit = spark.read.parquet(dirs["audit"]).collect()
    assert {r["status"] for r in audit} == {"FAILURE"}


def test_ingest_batch_replay_is_idempotent(spark, dirs):
    """§4.3-8: re-running a batch's foreachBatch body (at-least-once
    replay) must not duplicate rows — dynamic partition overwrite on
    batch_id makes the data sinks idempotent."""
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.streaming.ingest import process_batch

    write_file(dirs, "a.csv", CSV_GOOD)
    write_file(dirs, "b.csv", CSV_MIXED)
    cfg = make_cfg(dirs)
    batch_df = read_batch(spark, dirs)
    body = process_batch(cfg)
    body(batch_df, 7)
    body(batch_df, 7)  # replay of the same micro-batch
    assert spark.read.parquet(dirs["good"]).count() == 3
    assert spark.read.parquet(dirs["quarantine"]).count() == 2


def _spark_work(spark, fn) -> tuple[int, int, int]:
    """(jobs, stages run, shuffle bytes written) of what ``fn`` fires,
    read from the status store above a job-id watermark taken first."""
    sc = spark.sparkContext._jsc.sc()
    first = sc.dagScheduler().nextJobId()
    fn()
    sc.listenerBus().waitUntilEmpty()
    store = sc.statusStore()
    jobs = stages = shuffle = 0
    for jid in range(first, sc.dagScheduler().nextJobId()):
        jobs += 1
        ids = store.job(jid).stageIds()
        for k in range(ids.size()):
            stage = store.lastStageAttempt(ids.apply(k))
            if stage.status().toString() != "SKIPPED":
                stages += 1
                shuffle += stage.shuffleWriteBytes()
    return jobs, stages, shuffle


def test_process_batch_runs_only_its_sink_writes(spark, dirs, tmp_path, monkeypatch):
    """§4.3-3: inside foreachBatch a micro-batch fires one single-stage
    job per Spark sink write — good and quarantine, the latter empty for
    a clean batch; the audit record is written from the driver — and
    nothing else: the counts and the routed file list ride the good
    write's observe(). Its expressions are built once per stream, not
    once per batch."""
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.streaming import ingest as ing

    built = {"trim_exprs": 0, "error_expr": 0, "row_hash_expr": 0}

    def counting(name, fn):
        def wrapped(*args):
            built[name] += 1
            return fn(*args)

        return wrapped

    monkeypatch.setattr(ing, "trim_exprs", counting("trim_exprs", ing.trim_exprs))
    monkeypatch.setattr(ing, "row_hash_expr", counting("row_hash_expr", ing.row_hash_expr))
    monkeypatch.setattr(V.RuleSet, "error_expr", counting("error_expr", V.RuleSet.error_expr))

    write_file(dirs, "mixed.csv", CSV_MIXED)
    write_file(dirs, "clean.csv", CSV_GOOD)
    later = os.path.getmtime(os.path.join(dirs["source"], "mixed.csv")) + 10
    os.utime(os.path.join(dirs["source"], "clean.csv"), (later, later))  # second batch
    processed = str(tmp_path / "processed")
    cfg = make_cfg(dirs)
    cfg.processed_dir = processed
    cfg.max_files_per_trigger = 1
    body = ing.process_batch(cfg)
    work: list[tuple[int, int, int]] = []

    def measured(batch_df, batch_id):
        work.append(_spark_work(spark, lambda: body(batch_df, batch_id)))

    (
        ing.build_stream(spark, cfg)
        .writeStream.foreachBatch(measured)
        .option("checkpointLocation", cfg.checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )

    assert work == [(2, 2, 0), (2, 2, 0)]
    assert built == {"trim_exprs": 1, "error_expr": 1, "row_hash_expr": 1}
    assert sorted(os.listdir(processed)) == ["clean.csv", "mixed.csv"]
    assert spark.read.parquet(dirs["good"]).count() == 3
    assert spark.read.parquet(dirs["quarantine"]).count() == 2
    audit = {r["batch_id"]: r for r in spark.read.parquet(dirs["audit"]).collect()}
    assert [(audit[b]["total_rows"], audit[b]["bad_rows"]) for b in (0, 1)] == [(3, 2), (2, 0)]


def test_warm_micro_batches_compile_no_new_classes(spark, dirs):
    """ROADMAP item 6, ingest half: the batch id and the ingestion time
    reach generated code as referenced objects, not inlined literals, so
    from the 2nd micro-batch on a batch reuses the cached classes. The
    batch_id=N directories, one ingestion instant per batch and the
    quarantine date in the session time zone are kept."""
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.streaming import ingest as ing

    for i in range(4):
        name = f"m{i}.csv"
        write_file(dirs, name, CSV_MIXED)
        t = os.path.getmtime(os.path.join(dirs["source"], name)) + 10 * i
        os.utime(os.path.join(dirs["source"], name), (t, t))  # one batch each, in order
    cfg = make_cfg(dirs)
    cfg.max_files_per_trigger = 1
    body = ing.process_batch(cfg)
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles: list[int] = []

    def measured(batch_df, batch_id):
        body(batch_df, batch_id)
        compiles.append(codegen.METRIC_COMPILATION_TIME().getCount())

    # a session time zone whose date is not UTC's for most of the day
    zone = dt.timezone(dt.timedelta(hours=14))
    days = {dt.datetime.now(zone).strftime("%Y-%m-%d")}
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "+14:00")
    try:
        (
            ing.build_stream(spark, cfg)
            .writeStream.foreachBatch(measured)
            .option("checkpointLocation", cfg.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    days.add(dt.datetime.now(zone).strftime("%Y-%m-%d"))

    assert len(compiles) == 4
    assert compiles[3] == compiles[1], compiles
    assert sorted(f for f in os.listdir(dirs["good"]) if not f.startswith((".", "_"))) == [f"batch_id={b}" for b in range(4)]
    good = spark.read.parquet(dirs["good"])
    assert dict(good.dtypes)["ingestion_ts"] == "timestamp"
    per_batch = good.groupBy("batch_id").agg(F.countDistinct("ingestion_ts").alias("n"))
    assert {r["batch_id"]: r["n"] for r in per_batch.collect()} == {b: 1 for b in range(4)}
    bad = spark.read.parquet(dirs["quarantine"])
    assert bad.count() == 8
    assert {r["quarantine_date"] for r in bad.select("quarantine_date").distinct().collect()} <= days


def test_good_write_failure_routes_files_to_failed_dir(spark, dirs, tmp_path):
    """When the good write itself raises, its observation never arrives:
    the batch's files are still listed, moved to failed_dir, and a
    FAILURE audit is written. The quarantine write does not depend on
    the good one (the reference writes it first), so it still lands."""
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.streaming.ingest import (
        build_stream,
        process_batch,
    )

    failed = str(tmp_path / "failed")
    write_file(dirs, "a.csv", CSV_GOOD)
    write_file(dirs, "b.csv", CSV_MIXED)
    cfg = make_cfg(dirs)
    cfg.failed_dir = failed
    with open(cfg.good_dir, "w") as fh:  # a file where the sink dir should be
        fh.write("not a directory")

    query = (
        build_stream(spark, cfg)
        .writeStream.foreachBatch(process_batch(cfg))
        .option("checkpointLocation", cfg.checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception):
        query.awaitTermination()
    assert sorted(os.listdir(failed)) == ["a.csv", "b.csv"]
    assert os.listdir(dirs["source"]) == []
    audit = spark.read.parquet(dirs["audit"]).collect()
    assert [(r["batch_id"], r["status"]) for r in audit] == [(0, "FAILURE")]
    bad = spark.read.parquet(dirs["quarantine"]).collect()
    assert sorted((r["batch_id"], r["error_reason"]) for r in bad) == [
        (0, "null_key:sensor_id"),
        (0, "out_of_range:temperature_C"),
    ]


def test_sink_writes_run_at_the_same_time(spark, dirs, monkeypatch):
    """The good and quarantine writes of one micro-batch are in flight
    together: each meets the other at a two-party barrier before it
    writes, so a batch that ran them one after the other times out."""
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.streaming import ingest as ing

    barrier = threading.Barrier(2, timeout=30)
    real = ing.write_partitions

    def meet(df, path, partition_col):
        barrier.wait()
        real(df, path, partition_col)

    monkeypatch.setattr(ing, "write_partitions", meet)
    write_file(dirs, "b.csv", CSV_MIXED)
    ing.process_batch(make_cfg(dirs))(read_batch(spark, dirs), 0)
    assert spark.read.parquet(dirs["good"]).count() == 1
    assert spark.read.parquet(dirs["quarantine"]).count() == 2


def test_every_batch_job_runs_in_the_query_job_group(spark, dirs):
    """Stopping a query cancels its job group, the query's run id. The
    quarantine write's helper thread inherits that group, so every job a
    micro-batch runs is in it."""
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.streaming import ingest as ing

    write_file(dirs, "mixed.csv", CSV_MIXED)
    write_file(dirs, "clean.csv", CSV_GOOD)
    cfg = make_cfg(dirs)
    cfg.max_files_per_trigger = 1
    body = ing.process_batch(cfg)
    sc = spark.sparkContext._jsc.sc()
    jobs: list[int] = []

    def measured(batch_df, batch_id):
        first = sc.dagScheduler().nextJobId()
        body(batch_df, batch_id)
        jobs.extend(range(first, sc.dagScheduler().nextJobId()))

    query = (
        ing.build_stream(spark, cfg)
        .writeStream.foreachBatch(measured)
        .option("checkpointLocation", cfg.checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    sc.listenerBus().waitUntilEmpty()
    group = set(spark.sparkContext.statusTracker().getJobIdsForGroup(str(query.runId)))
    assert jobs and set(jobs) <= group, (jobs, group)


def test_sink_writes_run_outside_pinned_thread_mode(spark, dirs, monkeypatch):
    """With PYSPARK_PIN_THREAD=false pyspark's inheritable_thread_target
    returns the session it was given, not a wrapper; the batch still
    writes both sinks."""
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.streaming import ingest as ing

    monkeypatch.setattr(ing, "inheritable_thread_target", lambda session: session)
    write_file(dirs, "b.csv", CSV_MIXED)
    ing.process_batch(make_cfg(dirs))(read_batch(spark, dirs), 0)
    assert spark.read.parquet(dirs["good"]).count() == 1
    assert spark.read.parquet(dirs["quarantine"]).count() == 2


def test_clean_batch_leaves_no_quarantine_partition(spark, dirs):
    """A batch without bad rows still runs the quarantine write, with no
    rows: it adds no batch_id=N dir, no staging dir and no _SUCCESS, and
    the partitions of earlier batches stay as they were."""
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.streaming.ingest import process_batch

    body = process_batch(make_cfg(dirs))
    write_file(dirs, "b.csv", CSV_MIXED)
    body(read_batch(spark, dirs), 2)
    os.remove(os.path.join(dirs["source"], "b.csv"))
    write_file(dirs, "a.csv", CSV_GOOD)
    body(read_batch(spark, dirs), 3)

    assert sorted(os.listdir(dirs["quarantine"])) == ["batch_id=2"]
    assert {r["batch_id"] for r in spark.read.parquet(dirs["quarantine"]).collect()} == {2}
    assert spark.read.parquet(dirs["quarantine"]).count() == 2
    audit = {r["batch_id"]: (r["status"], r["bad_rows"]) for r in spark.read.parquet(dirs["audit"]).collect()}
    assert audit == {2: ("SUCCESS", 2), 3: ("SUCCESS", 0)}


def test_quarantine_write_failure_fails_the_batch(spark, dirs, tmp_path):
    """A quarantine write that raises fails the batch after the good
    write has landed: its error is re-raised, a FAILURE audit is written
    and the files go to failed_dir. When the body returns, no job of the
    batch is still running and its helper thread has ended."""
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.streaming.ingest import process_batch

    failed = str(tmp_path / "failed")
    write_file(dirs, "b.csv", CSV_MIXED)
    cfg = make_cfg(dirs)
    cfg.failed_dir = failed
    with open(cfg.quarantine_dir, "w") as fh:  # a file where the sink dir should be
        fh.write("not a directory")
    threads = set(threading.enumerate())

    with pytest.raises(Exception, match="ParentNotDirectoryException") as err:
        process_batch(cfg)(read_batch(spark, dirs), 0)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    assert spark.sparkContext.statusTracker().getActiveJobsIds() == []
    assert set(threading.enumerate()) <= threads
    assert cfg.quarantine_dir in str(err.value)
    audit = spark.read.parquet(dirs["audit"]).collect()
    assert [(r["batch_id"], r["status"]) for r in audit] == [(0, "FAILURE")]
    assert os.listdir(failed) == ["b.csv"]
    assert os.listdir(dirs["good"]) == ["batch_id=0"]
    assert spark.read.parquet(dirs["good"]).count() == 1


def test_good_write_error_wins_when_both_writes_fail(spark, dirs, monkeypatch):
    """If both sink writes raise, the batch re-raises the good write's
    error, even when the quarantine write failed first."""
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.streaming import ingest as ing

    quarantine_failed = threading.Event()

    def broken(df, path, partition_col):
        if path == dirs["quarantine"]:
            quarantine_failed.set()
        else:
            quarantine_failed.wait(10)
        raise RuntimeError(f"cannot write {path}")

    monkeypatch.setattr(ing, "write_partitions", broken)
    write_file(dirs, "b.csv", CSV_MIXED)
    with pytest.raises(RuntimeError) as err:
        ing.process_batch(make_cfg(dirs))(read_batch(spark, dirs), 0)
    assert str(err.value) == f"cannot write {dirs['good']}"


def test_watermarked_streaming_dedup(spark, tmp_path):
    """T4: duplicates within the watermark are dropped across
    micro-batches, with bounded state (dropDuplicatesWithinWatermark)."""
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.streaming.dedup import (
        dedup_within_watermark,
    )

    src = tmp_path / "src"
    src.mkdir()
    rows1 = [("k1", "2024-01-01 00:00:00", 1.0), ("k2", "2024-01-01 00:01:00", 2.0)]
    rows2 = [("k1", "2024-01-01 00:05:00", 99.0), ("k3", "2024-01-01 00:06:00", 3.0)]
    for i, rows in enumerate([rows1, rows2]):
        (
            spark.createDataFrame(rows, "k string, ts_s string, v double")
            .select("k", F.to_timestamp("ts_s").alias("ts"), "v")
            .coalesce(1)
            .write.parquet(str(src / f"f{i}"))
        )
    stream = (
        spark.readStream.schema("k string, ts timestamp, v double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    deduped = dedup_within_watermark(stream, ["k"], "ts")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = {r["k"]: r["v"] for r in spark.sql("SELECT * FROM dedup_out").collect()}
    # k1's second arrival (00:05, within the 10-minute watermark) dropped
    assert out == {"k1": 1.0, "k2": 2.0, "k3": 3.0}


def test_multi_format_dispatch(spark, dirs, tmp_path):
    """S7: one csv + one json file in the same source dir, one stream
    per format (pathGlobFilter split at the source, schemas fixed at
    plan time) — both land in their own good sinks. deploy/job_ingest.py
    runs the same dispatch, one ingest config per format."""
    write_file(dirs, "a.csv", CSV_GOOD)
    write_file(dirs, "b.json", '{"sensor_id": "j1", "temperature_C": 7.5, "humidity": 11.0}\n')
    base = make_cfg(dirs)
    json_dirs = {k: str(tmp_path / f"json_{k}") for k in ("good", "quarantine", "audit", "checkpoint")}
    cfgs = [
        base,
        IngestConfig(
            source_dir=dirs["source"],
            fmt="json",
            schema=SCHEMA,
            rules=base.rules,
            good_dir=json_dirs["good"],
            quarantine_dir=json_dirs["quarantine"],
            audit_dir=json_dirs["audit"],
            checkpoint_dir=json_dirs["checkpoint"],
        ),
    ]
    for cfg in cfgs:
        run_ingest_once(spark, cfg)
    assert spark.read.parquet(dirs["good"]).count() == 2  # csv rows only
    jrows = spark.read.parquet(json_dirs["good"]).collect()
    assert [r["sensor_id"] for r in jrows] == ["j1"]


def test_stream_static_enrich(spark, tmp_path):
    """Stream × static dim: broadcast join per micro-batch, no state —
    the plan the stream_static_enrichment query drains."""
    src = tmp_path / "src"
    src.mkdir()
    _events(spark).write.parquet(str(src / "b1"))
    dim = spark.createDataFrame(
        [("click", "engagement"), ("view", "passive")], "event_type string, category string"
    )
    stream = spark.readStream.schema(
        "ts timestamp, user_id string, event_type string, value double"
    ).parquet(str(src / "*"))
    enriched = stream.join(F.broadcast(dim), ["event_type"], "left")
    q = (
        enriched.writeStream.format("memory")
        .queryName("enrich_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM enrich_out").collect()
    assert len(rows) == 4
    cats = {r["event_type"]: r["category"] for r in rows}
    assert cats == {"click": "engagement", "view": "passive"}


def test_stream_stream_interval_join(spark, tmp_path):
    """Two watermarked streams, interval-bounded join: clicks within
    6 hours after an impression match; later clicks don't."""
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.streaming.joins import (
        stream_stream_interval_join,
    )

    imp_dir, clk_dir = tmp_path / "imp", tmp_path / "clk"
    imp_dir.mkdir(), clk_dir.mkdir()
    imps = [("u1", "2024-01-01 00:00:00"), ("u2", "2024-01-01 01:00:00")]
    clks = [
        ("u1", "2024-01-01 00:10:00"),  # within 6 h of u1 impression -> match
        ("u2", "2024-01-01 08:00:00"),  # 7 h after u2 impression -> no match
    ]
    (
        spark.createDataFrame(imps, "user_id string, ts_s string")
        .select("user_id", F.to_timestamp("ts_s").alias("imp_ts"))
        .write.parquet(str(imp_dir / "b"))
    )
    (
        spark.createDataFrame(clks, "user_id string, ts_s string")
        .select("user_id", F.to_timestamp("ts_s").alias("clk_ts"))
        .write.parquet(str(clk_dir / "b"))
    )
    imp_stream = spark.readStream.schema("user_id string, imp_ts timestamp").parquet(
        str(imp_dir / "*")
    )
    clk_stream = spark.readStream.schema("user_id string, clk_ts timestamp").parquet(
        str(clk_dir / "*")
    )
    joined = stream_stream_interval_join(
        imp_stream,
        clk_stream,
        on=["user_id"],
        left_ts="imp_ts",
        right_ts="clk_ts",
        left_watermark="2 hours",
        right_watermark="2 hours",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM ssj_out").collect()
    assert [(r["user_id"],) for r in rows] == [("u1",)]


def test_supervised_restart_recovers_from_checkpoint(spark, dirs):
    """T5/R2: a query that dies mid-stream is restarted by the
    supervisor and resumes from its checkpoint; the idempotent sinks
    leave exactly-once results."""
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.streaming.ingest import (
        process_batch,
        start_ingest,
    )
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.streaming.supervision import (
        run_supervised,
    )

    write_file(dirs, "a.csv", CSV_GOOD)
    write_file(dirs, "b.csv", CSV_MIXED)
    cfg = make_cfg(dirs)
    cfg.max_files_per_trigger = 1  # two micro-batches

    state = {"failed": False}
    inner = process_batch(cfg)

    def flaky_body(batch_df, batch_id):
        inner(batch_df, batch_id)
        if not state["failed"]:
            state["failed"] = True
            raise RuntimeError("transient crash after first batch")

    def start():
        stream = spark.readStream.format("csv").schema(cfg.schema).option(
            "header", "true"
        ).option("maxFilesPerTrigger", "1").load(cfg.source_dir)
        return (
            stream.writeStream.foreachBatch(flaky_body)
            .option("checkpointLocation", cfg.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )

    run_supervised(start, max_restarts=2, backoff_s=0.1)
    assert state["failed"] is True  # the crash really happened
    assert spark.read.parquet(dirs["good"]).count() == 3
    assert spark.read.parquet(dirs["quarantine"]).count() == 2


def test_supervised_restart_after_file_move_replays_nothing(spark, dirs, tmp_path):
    """The same crash with file routing on: batch 0 raises after its
    whole body (sinks, audit, move to processed/) and before its commit.
    The restart replays batch 0 over a file already moved away: it reads
    no rows, moves nothing and writes a second SUCCESS audit for batch 0
    with zero counts. Good and quarantine rows land exactly once, both
    files end in processed/ and none in failed/."""
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.streaming.ingest import (
        process_batch,
    )
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.streaming.supervision import (
        run_supervised,
    )

    processed, failed = str(tmp_path / "processed"), str(tmp_path / "failed")
    write_file(dirs, "a.csv", CSV_GOOD)
    write_file(dirs, "b.csv", CSV_MIXED)
    cfg = make_cfg(dirs)
    cfg.max_files_per_trigger = 1  # two micro-batches
    cfg.processed_dir = processed
    cfg.failed_dir = failed

    state = {"failed": False}
    inner = process_batch(cfg)

    def flaky_body(batch_df, batch_id):
        inner(batch_df, batch_id)
        if not state["failed"]:
            state["failed"] = True
            raise RuntimeError("transient crash after the move, before the commit")

    def start():
        stream = spark.readStream.format("csv").schema(cfg.schema).option(
            "header", "true"
        ).option("maxFilesPerTrigger", "1").load(cfg.source_dir)
        return (
            stream.writeStream.foreachBatch(flaky_body)
            .option("checkpointLocation", cfg.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )

    run_supervised(start, max_restarts=2, backoff_s=0.1)
    assert state["failed"] is True  # the crash really happened
    good = sorted(r.sensor_id for r in spark.read.parquet(dirs["good"]).collect())
    assert good == ["s1", "s2", "s4"]
    bad = spark.read.parquet(dirs["quarantine"]).collect()
    assert sorted(r.error_reason for r in bad) == [
        "null_key:sensor_id", "out_of_range:temperature_C",
    ]
    assert sorted(os.listdir(processed)) == ["a.csv", "b.csv"]
    assert not os.path.exists(failed) or os.listdir(failed) == []
    assert os.listdir(dirs["source"]) == []
    audit = sorted(
        (r.batch_id, r.total_rows, r.good_rows, r.bad_rows, r.status)
        for r in spark.read.parquet(dirs["audit"]).collect()
    )
    assert audit == [
        (0, 0, 0, 0, "SUCCESS"),  # the replay over the moved-away file
        (0, 2, 2, 0, "SUCCESS"),
        (1, 3, 1, 2, "SUCCESS"),
    ]


def test_sliding_avg_exact_integer_contract(spark):
    """avg_value = floor(sum(round(v*1e4)) * 100 / n) / 1e6 — exact
    integer arithmetic, no float summation (the sf0.1 drift fix)."""
    import datetime as dt

    rows = [
        ("a", dt.datetime(2024, 1, 1, 0, 5), 1.00005),   # scaled 10001 (round half up)
        ("a", dt.datetime(2024, 1, 1, 0, 20), 2.0),      # scaled 20000
    ]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    out = sliding_avg(df)
    got = {(str(r.window_start), r.event_type): r.avg_value for r in out.collect()}
    # both events land in the 00:00 window and the 23:30 window
    # sum_scaled = 30001; floor(30001 * 100 / 2) = 1500050 -> 1.50005
    assert got[("2024-01-01 00:00:00", "a")] == 1.50005
    assert len(got) == 2


def test_session_close_on_event_time_timeout(spark, tmp_path):
    """Sessions must close via the watermark, not data arrival: a key
    that never reappears still emits exactly one closed session once
    the watermark passes last_event + gap (append mode). Three
    single-file micro-batches advance the watermark past the gap."""
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.streaming import stateful

    def ts(sec):
        return dt.datetime(2024, 1, 1, 0, 0, 0) + dt.timedelta(seconds=sec)

    src = tmp_path / "src"
    src.mkdir()
    b1 = spark.createDataFrame(
        [(1, ts(0)), (1, ts(60)), (2, ts(0))], "user_id bigint, ts timestamp"
    )
    # far-future events: advance the watermark past 60 + gap for users
    # 1 and 2, while starting a new live session for user 3
    b2 = spark.createDataFrame([(3, ts(100_000))], "user_id bigint, ts timestamp")
    b3 = spark.createDataFrame([(3, ts(100_001))], "user_id bigint, ts timestamp")
    b1.coalesce(1).write.parquet(str(src / "f1"))
    b2.coalesce(1).write.parquet(str(src / "f2"))
    b3.coalesce(1).write.parquet(str(src / "f3"))

    stream = (
        spark.readStream.schema("user_id bigint, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    closed = session_windows(stream, gap="100 seconds", watermark="10 seconds").select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        # session_end is the last event + gap
        (F.unix_micros("session_end") - 100 * 10**6).alias("session_end_us"),
        "n_events",
    )
    final = stateful.drain_to_parquet(spark, closed, output_mode="append")
    rows = {r.user_id: r for r in final.collect()}
    # users 1 and 2 timed out and emitted exactly one session each;
    # user 3's session is still live (never emitted)
    assert set(rows) == {1, 2}
    assert rows[1].n_events == 2
    assert rows[1].session_start_us == 1704067200 * 10**6
    assert rows[1].session_end_us == (1704067200 + 60) * 10**6
    assert rows[2].n_events == 1


def test_eventgen_stream_exactly_once_across_restart(spark, tmp_path):
    """The streaming face of the custom source: offsets checkpoint,
    the query is KILLED and restarted from the checkpoint, and the
    landed rows must be gap-free and duplicate-free — exactly-once
    from a pure generator + offset replay, no source-side
    bookkeeping."""
    import time

    from advanced_real_time_data_pipeline_and_analytical_processing_spark.sources import eventgen

    eventgen.register(spark)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run_until(min_rows, timeout_s=90):
        q = (
            spark.readStream.format("eventgen")
            .option("rows_per_batch", "50")
            .option("n_users", "17")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="500 milliseconds")
            .start()
        )
        deadline = time.time() + timeout_s
        n = 0
        while time.time() < deadline and n < min_rows:
            try:
                n = spark.read.parquet(out).count()
            except Exception:
                n = 0
            time.sleep(0.5)
        q.stop()
        q.awaitTermination()
        return n

    assert run_until(100) >= 100
    first_leg = spark.read.parquet(out).count()
    assert run_until(first_leg + 100) >= first_leg + 100  # resumed, grew

    rows = sorted(
        (r.event_id, r.user_id, r.event_type) for r in spark.read.parquet(out).collect()
    )
    ids = [r[0] for r in rows]
    assert ids == list(range(len(ids)))  # contiguous: no gaps, no dups
    # rows regenerate identically: spot-check against the pure function
    for i in (0, 1, len(ids) - 1):
        assert rows[i][:3] == eventgen.gen_row(ids[i], 17)[:3]


def test_orc_streaming_ingest(spark, tmp_path):
    """The file-arrival source dispatches on fmt generically; prove the
    built-in ORC format works end to end through the same ingest
    pipeline used for csv/json (schema-explicit, availableNow drain)."""
    import os as _os

    src = str(tmp_path / "orc_src")
    _os.makedirs(src)
    spark.createDataFrame(
        [("s1", 21.5, 40.0), ("s2", 19.0, 50.0)],
        "sensor_id string, temperature_C double, humidity double",
    ).coalesce(1).write.orc(src + "/stage")
    # move the part file in with an .orc suffix for the glob filter
    part = [f for f in _os.listdir(src + "/stage") if f.endswith(".orc")][0]
    _os.rename(_os.path.join(src, "stage", part), _os.path.join(src, "drop1.orc"))

    stream = (
        spark.readStream.format("orc")
        .schema(SCHEMA)
        .option("pathGlobFilter", "*.orc")
        .load(src)
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("orc_ingest_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM orc_ingest_out").collect()
    assert sorted(r.sensor_id for r in rows) == ["s1", "s2"]


def test_on_good_hook_receives_enriched_good_rows(spark, dirs):
    """r11 (ADVICE r10): the on_good composition slot — the K1/K2 JDBC
    MERGE's attachment point in deploy/job_ingest.py — fires once per
    micro-batch with the ENRICHED good frame (data cols + file_path +
    ingestion_ts + row_hash) and never sees quarantined rows."""
    write_file(dirs, "a.csv", CSV_GOOD)
    write_file(dirs, "b.csv", CSV_MIXED)
    seen: list[tuple[int, int, set]] = []

    def recorder(df, batch_id):
        rows = df.collect()
        seen.append((batch_id, len(rows), set(df.columns)))
        assert all(r["sensor_id"] in {"s1", "s2", "s4"} for r in rows)

    cfg = make_cfg(dirs)
    cfg.on_good = recorder
    run_ingest_once(spark, cfg)
    assert sum(n for _, n, _ in seen) == 3  # the good rows only
    for _, _, cols in seen:
        assert {"sensor_id", "file_path", "ingestion_ts", "row_hash"} <= cols
