"""The registry's two session queries run one operator, Spark's native
session window, so they share one boundary and one late-row behaviour:

- a gap of exactly ``gap`` stays in the session, ``gap + 1 µs`` splits
  it, and both oracles agree (through tools/check_oracle's comparators);
- a row behind the watermark for a key with an open session does not
  fail the streaming report;
- the report's executed streaming plan holds the session-window state
  store and no Python-worker state operator."""

from __future__ import annotations

import datetime as dt
import os
from collections import Counter

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.streaming import DataStreamWriter

import __spark_entry__ as em
from tools import check_oracle as runner

GAP_US = 1800 * 10**6  # both queries' 30-minute gap
T0_US = 1704067200 * 10**6  # 2024-01-01 00:00:00 UTC

# user 1: exactly the gap (merges); user 2: gap + 1 µs (splits);
# user 3: gap - 1 µs (merges)
BOUNDARY = [(1, 0), (1, GAP_US), (2, 0), (2, GAP_US + 1), (3, 0), (3, GAP_US - 1)]
SESSIONS = {1: 1, 2: 2, 3: 1}


def write_events(sf_dir, rows) -> str:
    """``rows`` of (user_id, µs after T0) as sf_dir's events table;
    returns its path."""
    os.makedirs(sf_dir)
    n = len(rows)
    path = os.path.join(sf_dir, "events.parquet")
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n), type=pa.int64()),
                "ts": pa.array([T0_US + us for _, us in rows], type=pa.timestamp("us")),
                "user_id": pa.array([u for u, _ in rows], type=pa.int64()),
                "event_type": pa.array(["click"] * n),
                "value": pa.array([1.0] * n),
                "props": pa.array(['{"k": 1}'] * n),
            }
        ),
        path,
    )
    return path


@pytest.mark.parametrize("name", ["native_session_windows", "stateful_session_report"])
def test_gap_boundary_matches_oracle(spark, tmp_path, name):
    sf_dir = str(tmp_path / "sf")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{write_events(sf_dir, BOUNDARY)}'")
    sdf = em.queries()[name](spark, sf_dir)
    rows = sdf.collect()
    sql = em.oracle_sql()[name]
    try:
        v = runner.judge(sdf.columns, [tuple(r) for r in rows], con, sql)
    finally:
        con.close()
    assert v["pass"], v
    assert Counter(r.user_id for r in rows) == SESSIONS


def test_row_behind_watermark_is_sessionized(spark, tmp_path, monkeypatch):
    """The report's own sessionizer over a two-file stream: batch 1
    holds user 1 at 0 s and 100 s and user 2 at 5,000 s (watermark
    4,990 s after it); batch 2 holds user 1 at 150 s, behind that
    watermark, and user 3 far in the future. The drain completes and
    emits user 1's session once."""
    sf_dir = str(tmp_path / "sf")
    write_events(sf_dir, [(1, 0)])
    src = tmp_path / "stream"
    batches = [[(1, 0), (1, 100), (2, 5_000)], [(1, 150), (3, 1_000_000)]]
    for i, batch in enumerate(batches):
        rows = [(u, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)) for u, s in batch]
        part = spark.createDataFrame(rows, "user_id bigint, ts timestamp").coalesce(1)
        part.write.parquet(str(src / f"f{i}"))
    stream = (
        spark.readStream.schema("user_id bigint, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "*"))
    )
    monkeypatch.setattr(em._EventStage, "read_stream", lambda self, **kw: stream)

    out = em.queries()["stateful_session_report"](spark, sf_dir).collect()
    user1 = [r for r in out if r.user_id == 1]
    assert len(user1) == 1
    assert user1[0].session_start_us == T0_US


def test_report_plan_runs_the_native_session_state_store(spark, tmp_path, monkeypatch):
    started = []
    start = DataStreamWriter.start

    def recording_start(self, *args, **kwargs):
        q = start(self, *args, **kwargs)
        started.append(q)
        return q

    monkeypatch.setattr(DataStreamWriter, "start", recording_start)
    sf_dir = str(tmp_path / "sf")
    write_events(sf_dir, BOUNDARY)
    em.queries()["stateful_session_report"](spark, sf_dir).collect()

    (q,) = started
    plan = q._jsq.explainInternal(False)
    assert "SessionWindowStateStoreSave " in plan, plan
    assert "SessionWindowStateStoreRestore " in plan, plan
    assert "InPandasWithState" not in plan, plan
    operators = {op["operatorName"] for op in q.lastProgress["stateOperators"]}
    assert operators == {"sessionWindowStateStoreSaveExec"}, operators
