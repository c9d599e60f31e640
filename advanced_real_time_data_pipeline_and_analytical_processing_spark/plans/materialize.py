"""Materialization barrier with a durability switch.

``materialize(df)`` is the engine's standard compute-once barrier for
multi-consumer frames (dedup shingles, simhash/phash fingerprints,
inverted-index weights, ...); iterative-loop rounds go through
``materialize_round`` (which additionally truncates the logical plan).

Local mode / single-job batch: ``persist(MEMORY_AND_DISK)`` — keeps
statistics and output partitioning visible to the planner (see
``materialize`` docstring; this was localCheckpoint before r14), fine
when losing an executor just fails the job and the job is rerun.

Cluster mode with executor churn (the 1000-executor case in
docs/CLUSTER.md): set ``SPARK_GRAFT_DURABLE=1`` and every call site
switches to ``persist(StorageLevel.DISK_ONLY)`` — recomputable-on-loss
storage that survives executor death, at the cost of keeping lineage
(plans grow across iterative rounds, which is why it is a switch and
not the default). The env var is read per call, so a test can flip it
without rebuilding the session.
"""

from __future__ import annotations

import os
import tempfile

from pyspark import StorageLevel
from pyspark.sql import DataFrame


def durable_mode() -> bool:
    return os.environ.get("SPARK_GRAFT_DURABLE", "") not in ("", "0", "false")


def materialize(df: DataFrame) -> DataFrame:
    """Compute-once barrier for a multi-consumer frame: persist
    (MEMORY_AND_DISK locally, DISK_ONLY under SPARK_GRAFT_DURABLE=1),
    lazily — the first consumer computes it.

    r14 OPTIMIZATION: this was ``localCheckpoint`` in non-durable mode.
    localCheckpoint compiles the subtree to an RDD and rescans it as
    ``Scan ExistingRDD`` — UNKNOWN stats and UNKNOWN partitioning
    downstream, so consumers lose broadcast candidacy and re-Exchange
    data the barrier already partitioned; its blocks are also invisible
    to ``spark.catalog.clearCache()``, so a long-lived session
    accumulates them until a full GC. persist keeps the
    InMemoryRelation in the plan: statistics survive (AQE can still
    broadcast small materialized frames), output partitioning survives,
    and the blocks drop on clearCache. Measured on the r14 A/B probe
    (medians of 5, identical result hashes): media_phash_pairs 6.27 →
    2.72 s, dedup_survivors 4.18 → 3.31 s, sketch_accuracy_profile
    3.45 → 3.05 s, others within noise. NOT for iterative loops — a
    persisted plan keeps lineage, and a loop that references the
    previous round on both sides doubles the logical plan per round;
    loops stay on :func:`materialize_round`, which truncates the plan.
    Every materialize() call site is single-pass multi-consumer, and
    every upstream is deterministic (md5-derived keys, no rand()), so
    a recompute-on-eviction yields identical rows."""
    return df.persist(
        StorageLevel.DISK_ONLY if durable_mode() else StorageLevel.MEMORY_AND_DISK
    )


def materialize_round(df: DataFrame, eager: bool = False) -> DataFrame:
    """Materialize one iterative-loop round.

    Durable mode uses a RELIABLE ``checkpoint()`` (not persist): persist
    keeps lineage, and an iterative loop's plan references the previous
    round on BOTH sides of its join, so the logical plan doubles per
    round — by ~round 30 merely rendering the plan string OOMs the
    driver (caught by test_durable_iterative_loops_release_old_rounds
    on a 40-round chain). checkpoint() writes blocks to the checkpoint
    dir (HDFS on a real cluster — survives executor churn, the whole
    point of durable mode) AND truncates lineage, so round N's plan is
    O(1) regardless of N. Eager always, so the caller may immediately
    :func:`release` the previous round. Set
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` at submit
    time to have the ContextCleaner delete superseded checkpoint files
    (docs/CLUSTER.md).

    Non-durable mode: ``localCheckpoint`` exactly as before."""
    if durable_mode():
        sc = df.sparkSession.sparkContext
        if not sc._jsc.sc().getCheckpointDir().isDefined():
            # A local-FS tempdir checkpoint is only valid when driver and
            # executors share the filesystem, i.e. local[*] masters. On a
            # real cluster each executor would write blocks to its OWN
            # disk and the re-read fails — don't mask a missing
            # submit-time config there; fail loudly and point at the
            # cluster doc.
            if not sc.master.startswith("local"):
                raise RuntimeError(
                    "durable mode needs spark.checkpoint.dir set to a "
                    "shared filesystem (HDFS/S3) on non-local masters — "
                    "set it at submit time; see docs/CLUSTER.md"
                )
            sc.setCheckpointDir(
                os.path.join(
                    tempfile.gettempdir(), "spark_graft_checkpoints"
                )
            )
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=eager)


def persist_on_key(df: DataFrame, *key_cols: str) -> DataFrame:
    """Persist a loop-invariant frame hash-partitioned on its join key.

    For a frame an iterative loop joins EVERY round (edge lists), a
    lineage cut via localCheckpoint is the wrong barrier: the resulting
    ExistingRDD scan reports unknown outputPartitioning, so each round
    re-Exchanges the full frame. ``repartition(key).persist()`` instead
    materializes once AND advertises hash(key) partitioning + in-
    partition ordering through InMemoryRelation, so every round's
    sort-merge join reads the big side as a bare InMemoryTableScan —
    no per-round Exchange AND no per-round Sort (plan-verified; only
    the small per-round side exchanges, or broadcasts under AQE).
    Lineage is retained, which is exactly right for a shallow
    loop-invariant: a lost executor recomputes the one join instead of
    failing the job. Storage level follows the durability switch. Pair
    with :func:`release` at operator exit (durable mode frees it;
    non-durable leaves it to the ContextCleaner like any cached
    frame)."""
    level = StorageLevel.DISK_ONLY if durable_mode() else StorageLevel.MEMORY_AND_DISK
    return (
        df.repartition(*[df[c] for c in key_cols])
        .sortWithinPartitions(*key_cols)
        .persist(level)
    )


def release(df: DataFrame | None) -> None:
    """Release a frame previously returned by :func:`materialize`.

    Durable mode: unpersist the DISK_ONLY blocks — iterative operators
    (duplicate_clusters, pagerank_micro, bfs_min_dist) persist a fresh
    frame per round, so without this the disk cache grows unboundedly
    over a long-lived session. Call ONLY after every successor that
    reads ``df`` has been eagerly materialized (materialize_round does
    that).

    Non-durable mode: deliberately a NO-OP. Since r14 materialize()
    persists via the CacheManager, and at several call sites release()
    runs while a LAZY successor still references the frame (pagerank's
    edge list under the lazy rank chain) — unpersisting here would
    silently recompute those lineages. The caller therefore owns
    cleanup in long-lived non-durable sessions: call
    ``spark.catalog.clearCache()`` between logical jobs (bench.py does
    this after every timed query); ContextCleaner alone will NOT free
    persisted frames the CacheManager still pins (ADVICE r14)."""
    if df is not None and durable_mode():
        try:
            df.unpersist()
        except Exception:
            pass
