"""Streaming upsert sink: foreachBatch + latest-wins merge into a
parquet table.

The reference's streaming sink is a blind JDBC append per micro-batch
(code/utils.py:195-207) — a replayed batch (foreachBatch is
at-least-once) lands twice. This sink closes that gap for file-table
targets the same way jdbc_upsert.py does for JDBC ones: every batch is
MERGED by key, so replays are no-ops.

Mechanics per micro-batch:
1. read the current table state (empty on first batch),
2. `maintenance.latest_wins_merge(current, batch, keys, version)`,
3. write the merged result to a NEW versioned directory, then flip a
   manifest file to point at it (write-new-then-flip, never
   in-place overwrite — readers either see the old snapshot or the
   new one, and a crash mid-write leaves the old snapshot intact).

This is deliberately snapshot-isolation-by-manifest — the same idea
(tiny, file-based) that table formats like Delta/Iceberg/Hudi
industrialize. At 100 TB you would use one of those; the operator
contract (merge per batch, idempotent replay) is identical, which is
the point of testing it here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..operators.maintenance import latest_wins_merge

_MANIFEST = "_CURRENT"


def current_snapshot_dir(table_dir: str) -> str | None:
    manifest = os.path.join(table_dir, _MANIFEST)
    if not os.path.exists(manifest):
        return None
    with open(manifest, encoding="utf-8") as fh:
        name = fh.read().strip()
    return os.path.join(table_dir, name) if name else None


def read_table(spark: SparkSession, table_dir: str) -> DataFrame | None:
    snap = current_snapshot_dir(table_dir)
    return spark.read.parquet(snap) if snap else None


def merge_batch(
    spark: SparkSession,
    batch: DataFrame,
    table_dir: str,
    key_cols: list[str],
    version_col: str,
    batch_id: int,
) -> None:
    """foreachBatch body: merge ``batch`` into the table at
    ``table_dir``. Replaying the same (batch_id, rows) is a no-op
    because the merge keeps max-version rows and the snapshot flip is
    atomic at the manifest."""
    os.makedirs(table_dir, exist_ok=True)
    current = read_table(spark, table_dir)
    # base is empty on the first batch — the merge still self-compacts
    # a batch that carries several versions of one key
    base = current if current is not None else batch.limit(0)
    merged = latest_wins_merge(base, batch, key_cols, version_col)
    new_dir = os.path.join(table_dir, f"snap_{batch_id}")
    merged.write.mode("overwrite").parquet(new_dir)
    tmp = os.path.join(table_dir, _MANIFEST + ".tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(f"snap_{batch_id}")
    os.replace(tmp, os.path.join(table_dir, _MANIFEST))


def start_merge_stream(
    source: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    key_cols: list[str],
    version_col: str,
):
    """Wire a streaming source into the merge sink under an
    availableNow trigger: drain the backlog, then stop."""

    def _sink(batch: DataFrame, batch_id: int) -> None:
        merge_batch(
            batch.sparkSession, batch, table_dir, key_cols, version_col, batch_id
        )

    return (
        source.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def vacuum(table_dir: str, keep_latest: int = 1) -> list[str]:
    """Remove snapshot directories superseded by the manifest (keeping
    the current one plus ``keep_latest - 1`` most recent others for
    debug reads). Without this, every merge batch leaks
    its predecessor's full snapshot — at table size S and B batches,
    O(S*B) dead storage. Safe order: the manifest always points at a
    kept snapshot, and removal never touches it, so concurrent readers
    of the CURRENT snapshot are unaffected (readers of already-
    superseded snapshots race with vacuum by design, as in every
    snapshot-table format). Returns the removed paths.

    No production caller yet: whether the serving-table stage keeps it
    is ROADMAP item 8's decision."""
    import shutil

    manifest = os.path.join(table_dir, _MANIFEST)
    if not os.path.exists(manifest):
        return []
    with open(manifest, encoding="utf-8") as fh:
        current = fh.read().strip()
    snaps = sorted(
        (d for d in os.listdir(table_dir) if d.startswith("snap_")),
        key=lambda d: int(d.split("_", 1)[1]),
        reverse=True,
    )
    keep = {current, *snaps[: max(keep_latest - 1, 0)]}
    removed: list[str] = []
    for d in snaps:
        if d not in keep:
            path = os.path.join(table_dir, d)
            shutil.rmtree(path, ignore_errors=True)
            removed.append(path)
    return removed


# ---------------------------------------------------------------------------
# Time travel: read the table AS OF an earlier batch
# ---------------------------------------------------------------------------
# Snapshots are retained until vacuum() trims them, so any batch id
# still on disk is a readable point-in-time view — the same AS OF
# contract table formats expose, driven by the same manifest-per-
# snapshot layout. Bucketed tables rewrite only touched buckets, so
# "as of batch B" per bucket means its newest snapshot with id <= B.

