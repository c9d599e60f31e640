"""The staged-stream helper behind the registry's streaming queries:
the stage dir never outlives its builder, and tick rows land at the
requested event time whatever the fixture's ts encoding. The CDC
upsert's feed never outlives its builder either."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as em
from advanced_real_time_data_pipeline_and_analytical_processing_spark import catalog
from advanced_real_time_data_pipeline_and_analytical_processing_spark.streaming import stateful

STAGED = (
    "stateful_session_report",
    "stream_static_enrichment",
    "stateful_running_counts",
    "stream_stream_join",
    "stream_outer_join_report",
    "chained_window_rollup",
    "streaming_dedup",
)

LATEST_NS = 1_700_000_000_123_456_789


def write_fixture(sf_dir, unit: str = "us") -> None:
    """A two-event events table (ts stored as timestamp[unit]), the
    customer dimension the enrichment query joins and a two-order
    orders table for the CDC upsert."""
    os.makedirs(sf_dir, exist_ok=True)
    ts = pa.array([LATEST_NS - 5_000_000_000, LATEST_NS], type=pa.timestamp("ns"))
    events = pa.table(
        {
            "event_id": pa.array([1, 2], type=pa.int64()),
            "user_id": pa.array([10, 11], type=pa.int64()),
            "ts": ts if unit == "ns" else ts.cast(pa.timestamp("us"), safe=False),
            "event_type": pa.array(["click", "purchase"]),
            "value": pa.array([1.5, 2.5]),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array([10, 11], type=pa.int64()),
            "c_mktsegment": pa.array(["BUILDING", "MACHINERY"]),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": pa.array([7, 8], type=pa.int64()),
            "o_orderstatus": pa.array(["O", "F"]),
            "o_totalprice": pa.array([10.5, 20.25]),
        }
    )
    pq.write_table(events, os.path.join(sf_dir, "events.parquet"))
    pq.write_table(customer, os.path.join(sf_dir, "customer.parquet"))
    pq.write_table(orders, os.path.join(sf_dir, "orders.parquet"))


@pytest.mark.parametrize("name", STAGED + ("streaming_upsert",))
def test_failed_drain_leaves_no_stage_dir(spark, tmp_path, monkeypatch, name):
    sf_dir = str(tmp_path / "sf")
    write_fixture(sf_dir)
    monkeypatch.setenv("SPARK_GRAFT_STREAM_SCRATCH", str(tmp_path / "scratch"))

    def failing_drain(*args, **kwargs):
        raise RuntimeError("drain failed")

    monkeypatch.setattr(stateful, "drain", failing_drain)
    with pytest.raises(RuntimeError, match="drain failed"):
        em.queries()[name](spark, sf_dir)
    left = os.listdir(stateful.scratch_dir())
    assert [d for d in left if d.startswith(("stream_stage_", "cdc_feed_"))] == []


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_tick_lands_at_requested_microsecond(spark, tmp_path, unit):
    """A timestamp[ns] events file reads as nanos-as-long bigint, a
    timestamp[us] one as a timestamp; a tick written beside either
    reads back, after normalize_event_time, at the exact microsecond."""
    sf_dir = str(tmp_path / "sf")
    write_fixture(sf_dir, unit)
    tick_us = 1_700_000_100_000_001
    with em._staged_events(spark, sf_dir, links=("f1_events.parquet",)) as stage:
        ts_type = {f.name: f.dataType.simpleString() for f in stage.schema}["ts"]
        assert (ts_type == "bigint") == (unit == "ns")
        assert stage.max_event_us() == LATEST_NS // 1000
        stage.write_tick("f2", tick_us, user_id=[-1, -1], event_type=["purchase", "click"])
        tick = catalog.normalize_event_time(
            spark.read.schema(stage.schema).parquet(os.path.join(stage.dir, "f2_tick.parquet"))
        )
        rows = tick.select(
            F.unix_micros("ts").alias("us"), "user_id", "event_type", "event_id"
        ).collect()
    assert [(r.us, r.user_id, r.event_type, r.event_id) for r in rows] == [
        (tick_us, -1, "purchase", None),
        (tick_us, -1, "click", None),
    ]
    assert not os.path.exists(stage.dir)
