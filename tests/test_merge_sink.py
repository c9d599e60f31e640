"""Streaming CDC-merge sink: per-batch latest-wins upsert into a
manifest-flipped parquet snapshot (the file-table analogue of the
jdbc_upsert idempotent MERGE)."""

from __future__ import annotations

import os

from pyspark.sql import Row

from advanced_real_time_data_pipeline_and_analytical_processing_spark.sinks import merge_sink
from advanced_real_time_data_pipeline_and_analytical_processing_spark.streaming import stateful


def test_merge_batch_upserts_and_replays_idempotently(spark, tmp_path):
    table = str(tmp_path / "tbl")
    b0 = spark.createDataFrame(
        [Row(k=1, v="a", ver=0), Row(k=2, v="b", ver=0)]
    )
    merge_sink.merge_batch(spark, b0, table, ["k"], "ver", batch_id=0)
    b1 = spark.createDataFrame([Row(k=2, v="b2", ver=1), Row(k=3, v="c", ver=1)])
    merge_sink.merge_batch(spark, b1, table, ["k"], "ver", batch_id=1)

    got = {r.k: (r.v, r.ver) for r in merge_sink.read_table(spark, table).collect()}
    assert got == {1: ("a", 0), 2: ("b2", 1), 3: ("c", 1)}

    # replay batch 1 (at-least-once foreachBatch): state must not change
    merge_sink.merge_batch(spark, b1, table, ["k"], "ver", batch_id=1)
    again = {r.k: (r.v, r.ver) for r in merge_sink.read_table(spark, table).collect()}
    assert again == got


def test_merge_batch_crash_leaves_old_snapshot_readable(spark, tmp_path):
    """The manifest flips only after the new snapshot is fully written:
    a half-written snapshot dir without a manifest flip is invisible."""
    table = str(tmp_path / "tbl")
    b0 = spark.createDataFrame([Row(k=1, v="a", ver=0)])
    merge_sink.merge_batch(spark, b0, table, ["k"], "ver", batch_id=0)
    # simulate a crash: junk snapshot dir exists, manifest not flipped
    os.makedirs(os.path.join(table, "snap_99"), exist_ok=True)
    got = {r.k: r.v for r in merge_sink.read_table(spark, table).collect()}
    assert got == {1: "a"}


def test_streaming_merge_sink_end_to_end(spark, tmp_path):
    src_dir = str(tmp_path / "in")
    table = str(tmp_path / "tbl")
    os.makedirs(src_dir)
    spark.createDataFrame(
        [Row(k=1, v="a", ver=0), Row(k=2, v="b", ver=0), Row(k=2, v="b2", ver=1)]
    ).coalesce(1).write.mode("append").parquet(src_dir)

    stream = spark.readStream.schema("k bigint, v string, ver bigint").parquet(
        src_dir
    )
    stateful.drain(
        spark,
        stream,
        lambda batch, batch_id: merge_sink.merge_batch(
            batch.sparkSession, batch, table, ["k"], "ver", batch_id
        ),
    )

    rows = merge_sink.read_table(spark, table).collect()
    got = {r.k: (r.v, r.ver) for r in rows}
    # within one batch the in-batch max-version row must win too —
    # exactly ONE row per key survives
    assert len(rows) == 2
    assert got == {1: ("a", 0), 2: ("b2", 1)}


# ------------------------------------------------------ skewed join


def test_salted_join_matches_plain_join_under_skew(spark):
    """90% of probe rows share one key. AQE's skew-join handling (which
    replaced a hand-salted join) must split the hot partition and still
    return exactly the rows a nested-loop join over the inputs gives."""
    probe_rows = [(1 if i % 10 else i, i) for i in range(1000)]
    build_rows = [(k, f"attr{k}") for k in range(0, 1000, 10)] + [(1, "hot")]
    probe = spark.createDataFrame(probe_rows, "key long, payload long").repartition(4)
    build = spark.createDataFrame(build_rows, "key long, attr string")
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "8",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        joined = probe.join(build, ["key"]).select("key", "payload", "attr")
        got = sorted(map(tuple, joined.collect()))
        plan = joined._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
    assert "skew=true" in plan
    expected = sorted(
        (pk, payload, attr)
        for pk, payload in probe_rows
        for bk, attr in build_rows
        if pk == bk
    )
    assert got == expected


def test_vacuum_removes_superseded_snapshots_only(spark, tmp_path):
    table = str(tmp_path / "vtbl")
    for i in range(4):
        b = spark.createDataFrame([Row(k=1, v=f"v{i}", ver=i)])
        merge_sink.merge_batch(spark, b, table, ["k"], "ver", batch_id=i)
    assert len([d for d in os.listdir(table) if d.startswith("snap_")]) == 4
    removed = merge_sink.vacuum(table, keep_latest=1)
    left = [d for d in os.listdir(table) if d.startswith("snap_")]
    assert left == ["snap_3"] and len(removed) == 3
    # table still reads the current state
    assert merge_sink.read_table(spark, table).first().v == "v3"

