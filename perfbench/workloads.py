"""The workloads. Each drives the engine's public API, closed loop with
one client, and returns a ``Run``: per-op latencies, failures, the set-up
phases and the process-tree CPU and peak memory of the timed region.

Every workload has the same shape: stage seeded inputs and bootstrap
output locations, warm up with the same op at the timed size, run ops
until ``seconds`` have passed, then check every op's output outside the
timed region.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from typing import Callable

import procstat


@dataclass
class Ctx:
    root: str  # checkout root (cwd)
    scratch: str  # pinned scratch dir, inside the checkout
    seed: int
    seconds: float
    spark: object
    tracer: object  # tracing.Tracer, or NullTracer whose hooks are no-ops


@dataclass
class Run:
    attempted: int = 0
    latencies: list[float] = field(default_factory=list)  # of the ops that finished
    op_ids: list[int] = field(default_factory=list)  # tracer op of each latency
    failed: int = 0
    phases: dict[str, float] = field(default_factory=dict)
    first_op_at: float = 0.0  # time.monotonic() when the first timed op began
    cpu_s: float = 0.0
    bench_cpu_s: float = 0.0  # the benchmark's own CPU inside the timed region
    peak_rss_mb: float = 0.0
    wall_s: float = 0.0
    info: dict = field(default_factory=dict)


def timed(run: Run, name: str, fn: Callable[[], object]):
    """Run a setup phase once, record its duration, return its result."""
    t0 = time.monotonic()
    out = fn()
    run.phases[name] = time.monotonic() - t0
    return out


class TimedRegion:
    """Process-tree CPU and peak RSS from enter to exit. CPU the benchmark
    spends on its own work in between (memory sampling, output digests,
    polling) is left out."""

    def __init__(self, run: Run):
        self.run = run

    def __enter__(self):
        self.run.bench_cpu_s = 0.0
        self.cpu0 = procstat.tree_cpu_s()
        self.steal0 = procstat.host_steal_s()
        self.rss = procstat.PeakRss().__enter__()
        self.t0 = time.monotonic()
        self.run.first_op_at = self.t0
        return self

    def __exit__(self, *exc):
        self.run.wall_s = time.monotonic() - self.t0
        self.rss.__exit__(*exc)
        self.run.bench_cpu_s += self.rss.cpu_s
        self.run.cpu_s = procstat.tree_cpu_s() - self.cpu0 - self.run.bench_cpu_s
        # contention from other guests on the host: explains outlier runs
        self.run.info["host_steal_s"] = procstat.host_steal_s() - self.steal0
        self.run.info["bench_cpu_s"] = self.run.bench_cpu_s
        self.run.peak_rss_mb = self.rss.peak_mb
        self.run.info["peak_rss_mb_by_process"] = self.rss.peak_by_name


def _wait_for(run: Run, path: str, query) -> bool:
    """True once ``path`` exists; False if the stream stopped or a minute
    passed first. The polling's CPU is the benchmark's own."""
    c0 = time.thread_time()
    deadline = time.monotonic() + 60
    polls = 0
    try:
        while not os.path.exists(path):
            polls += 1
            if time.monotonic() > deadline or (polls % 100 == 0 and not query.isActive):
                return False
            time.sleep(0.005)
        return True
    finally:
        run.bench_cpu_s += time.thread_time() - c0


# --------------------------------------------------------------------------
# ingest_trickle: op = one 500-row CSV, from landing to its move to processed/
# --------------------------------------------------------------------------

INGEST_FILES = 48  # staged per run; more than a run can consume
INGEST_WARMUP_OPS = 4  # the first is cold (JVM, codegen): several seconds
INGEST_MIN_OPS = 6  # timed ops a run makes at least, however slow the host


def ingest_trickle(ctx: Ctx) -> Run:
    import gen
    from pyspark.sql.types import _parse_datatype_string

    from advanced_real_time_data_pipeline_and_analytical_processing_spark.operators.validation import (
        reference_ruleset,
    )
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.sinks.bootstrap import (
        bootstrap_ingest_dirs,
    )
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.streaming.ingest import (
        IngestConfig,
        start_ingest,
    )

    run, spark, tr = Run(), ctx.spark, ctx.tracer
    d = {k: os.path.join(ctx.scratch, "ingest", k) for k in ("staged", "source", "processed", "good", "quarantine", "audit", "checkpoint")}
    truths: list[dict] = []

    def stage():
        os.makedirs(d["staged"])
        for i in range(INGEST_FILES):
            text, truth = gen.ingest_file(ctx.seed, i)
            with open(os.path.join(d["staged"], f"f{i:05d}.csv"), "w") as f:
                f.write(text)
            truths.append(truth)

    timed(run, "stage_inputs", stage)
    cfg = IngestConfig(
        source_dir=d["source"],
        fmt="csv",
        schema=_parse_datatype_string(gen.SENSOR_DDL),
        rules=reference_ruleset(),
        good_dir=d["good"],
        quarantine_dir=d["quarantine"],
        audit_dir=d["audit"],
        checkpoint_dir=d["checkpoint"],
        max_files_per_trigger=1,
        trigger={"processingTime": "0 seconds"},
        processed_dir=d["processed"],
    )
    timed(run, "sinks_bootstrap", lambda: tr.call("sinks.bootstrap_s", bootstrap_ingest_dirs, spark, cfg))
    t0 = time.monotonic()
    query = start_ingest(spark, cfg)
    run.phases["start_stream"] = time.monotonic() - t0
    landed: list[int] = []

    def op(i: int) -> float | None:
        """Latency of file ``i``, or None if it never reached processed/."""
        name = f"f{i:05d}.csv"
        t0 = time.monotonic()
        os.rename(os.path.join(d["staged"], name), os.path.join(d["source"], name))
        landed.append(i)
        if not _wait_for(run, os.path.join(d["processed"], name), query):
            return None
        return time.monotonic() - t0

    try:
        t0 = time.monotonic()
        for i in range(INGEST_WARMUP_OPS):
            op(i)
        run.phases["warmup"] = time.monotonic() - t0
        i = warm = INGEST_WARMUP_OPS
        min_ops = max(INGEST_MIN_OPS, tr.min_ops)
        with TimedRegion(run):
            while i < INGEST_FILES and (time.monotonic() - run.first_op_at < ctx.seconds or i - warm < min_ops):
                tr.begin_op(i - warm)
                latency = op(i)
                if latency is None:  # the stream failed: no later file can land
                    break
                run.latencies.append(latency)
                run.op_ids.append(i - warm)
                tr.end_op(i - warm, triggers=1)
                i += 1
    finally:
        query.stop()
    run.attempted = len(landed) - warm
    run.failed = _check_ingest(d, truths, landed[warm:])
    run.info["rows_per_op"] = gen.ROWS_PER_FILE
    return run


def _check_ingest(d: dict, truths: list[dict], ops: list[int]) -> int:
    """Per file: the audit record, good rows, distinct row hashes and the
    quarantine reason histogram equal the generator's truth."""
    import pyarrow.dataset as ds

    def table(path, cols):
        if not os.path.isdir(path):
            return {}
        return ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=cols).to_pydict()

    good = table(d["good"], ["file_path", "row_hash", "batch_id"])
    bad = table(d["quarantine"], ["file_path", "error_reason", "batch_id"])
    audit = table(d["audit"], ["batch_id", "total_rows", "good_rows", "bad_rows", "status"])
    batch_of: dict[str, int] = {}
    good_n: dict[str, int] = {}
    hashes: dict[str, set] = {}
    for fp, h, b in zip(good.get("file_path", []), good.get("row_hash", []), good.get("batch_id", [])):
        name = os.path.basename(fp)
        batch_of[name] = b
        good_n[name] = good_n.get(name, 0) + 1
        hashes.setdefault(name, set()).add(h)
    reasons: dict[str, dict] = {}
    for fp, r in zip(bad.get("file_path", []), bad.get("error_reason", [])):
        hist = reasons.setdefault(os.path.basename(fp), {})
        hist[r] = hist.get(r, 0) + 1
    audits: dict[int, list] = {}
    for row in zip(*(audit.get(k, []) for k in ("batch_id", "total_rows", "good_rows", "bad_rows", "status"))):
        audits.setdefault(row[0], []).append(row[1:])
    failed = 0
    for i in ops:
        name, t = f"f{i:05d}.csv", truths[i]
        ok = (
            good_n.get(name) == t["good"]
            and len(hashes.get(name, ())) == t["good"]
            and reasons.get(name, {}) == t["reasons"]
            and audits.get(batch_of.get(name)) == [(t["total"], t["good"], t["bad"], "SUCCESS")]
        )
        failed += not ok
    return failed


# --------------------------------------------------------------------------
# analytics_mix: op = one pass over registry queries and a stateful drain
# --------------------------------------------------------------------------

DRAIN = "running_user_stats_drain"  # the one member that is not a registry query

# (query, why it is in the mix)
MIX = [
    ("flagship_event_stats", "reference surface: the flagship per-type aggregate"),
    ("validation_split", "reference surface: the rule engine per row (operators.validation)"),
    ("row_hash_documents", "reference surface: the lineage hash per row (operators.enrichment)"),
    ("q1_pricing_summary", "reference surface: scan-heavy grouped aggregate"),
    ("q14_promo_revenue", "joins: fact-dimension join"),
    ("exact_dedup_docs", "dedup: min-id survivor per distinct text (operators.dedup)"),
    ("count_min_frequencies", "sketches: Count-Min estimates (operators.sketches)"),
    ("stopword_profile", "text: tokenise and score (operators.text)"),
    ("events_table_profile", "profile: one-scan table profile (operators.profile)"),
    ("weekly_ohlc", "timeseries: OHLC resample as one hash aggregate"),
    (DRAIN, "stateful drain: the pandas-state boundary per key and JVM state-store commits (streaming.stateful)"),
]
# Left out to fit the run budget: ANN (cosine_topk: ~1 s a pass, 2 s cold),
# graph (user_triangles: ~1 s a pass, 4 s cold) and streaming_dedup (~2.3 s
# a pass; its JVM state store is measured through DRAIN's).
# stateful_running_counts is left out because it disagrees with its oracle
# on these tables, and stateful_session_report because it takes ~16 s a
# pass at local[2].
ANALYTICS_REPLICAS = 2  # copies of the sf0.001-sized committed fixture
# The cold pass takes 2-3x a warm one; after one more pass the pass time
# has levelled to within the pass-to-pass noise (it then drifts down by
# ~1.5% a pass). Every run warms up and times the same pass indices, so
# that drift is the same in every run.
ANALYTICS_WARMUP_PASSES = 2
ANALYTICS_MIN_PASSES = 3  # timed passes a run makes at least: a median of three

DRAIN_FILES, DRAIN_ROWS, DRAIN_KEYS = 2, 300, 100  # one file is one micro-batch
DRAIN_SCHEMA = "event_id bigint, user_id bigint, event_type string, value double"


def running_user_stats_drain(spark, data: str):
    """The streaming form of the reference's per-sensor aggregate:
    ``sources.eventgen`` rows staged as files, drained one file per
    micro-batch through ``running_user_stats``. Each key's last update
    row holds its final totals."""
    from pyspark.sql import functions as F

    from advanced_real_time_data_pipeline_and_analytical_processing_spark.streaming import stateful

    stream = spark.readStream.schema(DRAIN_SCHEMA).option("maxFilesPerTrigger", 1).parquet(os.path.join(data, "drain"))
    drained = stateful.drain_to_parquet(spark, stateful.running_user_stats(stream))
    return drained.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("sum_value", "n_events").alias("sum_value"),
    )


def analytics_mix(ctx: Ctx) -> Run:
    import gen
    from oracle import Oracle

    import __spark_entry__ as entry
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.sinks.bootstrap import (
        initialize_layout,
    )

    run, spark, tr = Run(), ctx.spark, ctx.tracer
    base = os.path.join(ctx.scratch, "analytics")
    data = os.path.join(base, "tables")

    def stage():
        fold = gen.stateful_files(ctx.seed, os.path.join(data, "drain"), DRAIN_FILES, DRAIN_ROWS, DRAIN_KEYS)
        return gen.analytics_tables(ctx.root, ctx.seed, data, ANALYTICS_REPLICAS), fold

    counts, fold = timed(run, "stage_inputs", stage)
    timed(run, "sinks_bootstrap", lambda: tr.call("sinks.bootstrap_s", initialize_layout, spark, base, ("tables",)))
    oracle = Oracle(ctx.root)
    queries = {**entry.queries(), DRAIN: running_user_stats_drain}
    names = [name for name, _ in MIX]

    errors: list[str] = []

    def one_pass() -> dict[str, tuple | None]:
        out = {}
        for name in names:
            try:
                with tr.span("entry.query", query=name):
                    df = queries[name](spark, data)
                    out[name] = (df.columns, tr.collect(df))
            except Exception as exc:  # a failing query fails its pass, not the run
                out[name] = None
                errors.append(f"{name}: {exc}"[:500])
        return out

    warm = []
    for _ in range(ANALYTICS_WARMUP_PASSES):
        t0 = time.monotonic()
        one_pass()
        warm.append(time.monotonic() - t0)
    run.phases["warmup"] = sum(warm)
    run.info["warmup_passes_s"] = warm
    digests: list[dict[str, str]] = []
    with TimedRegion(run):
        while time.monotonic() - run.first_op_at < ctx.seconds or len(digests) < max(ANALYTICS_MIN_PASSES, tr.min_ops):
            tr.begin_op(len(digests))
            t_op = time.monotonic()
            results = one_pass()
            run.latencies.append(time.monotonic() - t_op)
            run.op_ids.append(len(digests))
            tr.end_op(len(digests))
            # digest between ops: outside the op's latency and CPU, and no
            # pass's rows are held past the next pass
            c0 = time.thread_time()
            digests.append({n: r and oracle.digest(*r) for n, r in results.items()})
            run.bench_cpu_s += time.thread_time() - c0
    run.attempted = len(digests)
    want = oracle.expected(data, os.path.join(base, "duckdb"), [n for n in names if n != DRAIN], entry.oracle_sql())
    want[DRAIN] = oracle.digest(["user_id", "n_events", "sum_value"], [(u, n, v) for u, (n, v) in fold.items()])
    bad = sorted({n for d in digests for n in names if d[n] != want[n]})
    run.failed = sum(any(d[n] != want[n] for n in names) for d in digests)
    run.info.update(table_rows=counts, mix=dict(MIX), mismatched_queries=bad, query_errors=errors)
    return run
