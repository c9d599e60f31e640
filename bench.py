"""Benchmark harness: times the engine's registry queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] (default 32) and prints ONE JSON line, the
last line on stdout.

Times are end-to-end per query (plan + execute + collect) after an
untimed warm-up, which is what a user of a long-lived engine waits for.

  python bench.py [--reps N]       every query in one JVM, timed N times
                                   (default 1) with the cache cleared
                                   after each rep; the per-query value is
                                   the median and "reps" keeps the raw runs
  python bench.py --isolate [--reps N]
                                   one fresh JVM per query: a
                                   `bench.py --reps N` child per query with
                                   SPARK_GRAFT_QUERIES set to its name.
                                   Slower wall-clock, but no query is
                                   timed under another query's JVM state;
                                   a failed child reads -1.0 and counts in
                                   "n_failed"

SPARK_GRAFT_QUERIES (comma-separated names) times a registry subset.
An unknown flag or query name exits 2 and names it. The JSON carries
"mode": "shared" | "isolate" so artifacts are self-describing.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools"))

import run_meta

import __spark_entry__ as entrymod
from advanced_real_time_data_pipeline_and_analytical_processing_spark.session import get_spark


def _options(argv: list[str]) -> argparse.Namespace:
    """--isolate and --reps from ``argv``; sf_dir, sf, cpus and the
    {name: builder} suite from SPARK_GRAFT_{SF_DIR,CPUS,QUERIES}."""
    parser = argparse.ArgumentParser(prog="bench.py", add_help=False, allow_abbrev=False)
    parser.add_argument("--isolate", action="store_true")
    parser.add_argument("--reps", type=int, default=1)
    opts = parser.parse_args(argv)
    opts.reps = max(1, opts.reps)
    opts.sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = opts.sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    opts.sf = float(sf) if sf.replace(".", "").isdigit() else sf
    opts.cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    registry = entrymod.queries()
    only = {n for n in os.environ.get("SPARK_GRAFT_QUERIES", "").split(",") if n}
    unknown = sorted(only - registry.keys())
    if unknown:
        parser.error(f"unknown query names in SPARK_GRAFT_QUERIES: {' '.join(unknown)}")
    opts.suite = {n: fn for n, fn in registry.items() if not only or n in only}
    return opts


def _warm_up(spark, cpus: str, sf_dir: str, fns) -> None:
    """Untimed warm-up before a timed pass: a JVM/codegen action, then
    one trivial mapInPandas task per core so the first Arrow query is
    not timing Python interpreter spawns (workers are reused across
    queries; a long-lived engine always runs warm), then each builder
    in ``fns`` once at the smallest scale. Each query's first run pays
    a one-time, data-size-INDEPENDENT JIT/class-load cost (the
    array-hash-heavy plans pay ~10 s at sf0.001 and sf0.1 alike; the
    rerun then takes 3-4 s at sf0.1), so the timed pass measures
    steady-state engine throughput, not JVM warmup. The small data is
    the sf0.001 beside sf_dir."""
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.range(int(cpus) * 10).repartition(int(cpus)).mapInPandas(
        lambda it: it, "id long"
    ).collect()
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if os.path.isdir(warm_dir):
        for fn in fns:
            try:
                fn(spark, warm_dir).collect()
            except Exception:
                pass  # warmup only — the timed pass surfaces real failures
            spark.catalog.clearCache()


def _payload(
    opts: argparse.Namespace, mode: str, timings: dict, reps: dict
) -> dict:
    """The artifact both modes print. "value" sums only the queries
    that ran (a failed isolate child reads -1.0)."""
    return {
        "metric": "total_query_seconds",
        "value": round(sum(v for v in timings.values() if v >= 0), 3),
        "unit": "sec",
        "queries": timings,
        "n_reps": opts.reps,
        "reps": reps,
        "sf": opts.sf,
        "mode": mode,
        # provenance: a committed snapshot is verifiably tied to the
        # tree it ran on
        "run_meta": run_meta.meta(),
    }


def _run_child(name: str, n_reps: int) -> tuple[float, list[float]]:
    """(median, raw reps) of ``name`` from a fresh-JVM `bench.py --reps
    N` child narrowed to that query; its artifact is its last stdout
    line."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--reps", str(n_reps)],
        capture_output=True,
        text=True,
        timeout=600,
        env=dict(os.environ, SPARK_GRAFT_QUERIES=name),
    )
    lines = out.stdout.strip().splitlines()
    if not lines:
        raise RuntimeError(f"exit {out.returncode}, no artifact: {out.stderr[-2000:]}")
    art = json.loads(lines[-1])
    return art["queries"][name], art["reps"][name]


def _isolate(opts: argparse.Namespace) -> None:
    """One fresh JVM per query, sequentially. A child that fails or
    prints no artifact records -1.0 so the artifact stays
    self-describing instead of dying mid-suite."""
    timings: dict[str, float] = {}
    reps: dict[str, list[float]] = {}
    for name in opts.suite:
        try:
            timings[name], reps[name] = _run_child(name, opts.reps)
        except Exception as exc:  # timing artifact must not die mid-suite
            print(f"isolate: {name} failed: {exc}", file=sys.stderr)
            timings[name], reps[name] = -1.0, []
    payload = _payload(opts, "isolate", timings, reps)
    payload["n_failed"] = sum(v < 0 for v in timings.values())
    print(json.dumps(payload))


def main() -> None:
    opts = _options(sys.argv[1:])
    if opts.isolate:
        _isolate(opts)
        return
    spark = get_spark(
        "bench",
        cpus=opts.cpus,
        shuffle_partitions=int(opts.cpus),
        # default 100-entry codegen class cache evicts the warmup
        # pass's compiled classes before the timed pass reuses them
        # (110 queries x several codegen stages each); size it to hold
        # the whole suite so warmup JIT actually transfers
        extra_conf={"spark.sql.codegen.cache.maxEntries": "5000"},
    )
    _warm_up(spark, opts.cpus, opts.sf_dir, opts.suite.values())
    reps: dict[str, list[float]] = {}
    for i, (name, fn) in enumerate(opts.suite.items()):
        reps[name] = []
        for _ in range(opts.reps):
            t0 = time.perf_counter()
            fn(spark, opts.sf_dir).collect()
            reps[name].append(round(time.perf_counter() - t0, 3))
            # drop finished queries' cached/checkpointed blocks so later
            # runs aren't timed under earlier runs' memory pressure
            # (a long-lived engine does the same housekeeping)
            spark.catalog.clearCache()
        if i % 20 == 19:
            # Python-side collect first: py4j proxies pin JVM-side
            # DataFrame/RDD handles (localCheckpoint blocks, broadcast
            # refs) until Python GC detaches them — System.gc() alone
            # can't release what the gateway still references. Kept
            # PERIODIC: a full gc.collect() costs ~0.3 s against this
            # process's object graph, so per-query it taxes the suite
            # ~50 s (measured) for no added release.
            gc.collect()
            spark._jvm.System.gc()

    timings = {n: round(statistics.median(r), 3) for n, r in reps.items()}
    payload = json.dumps(_payload(opts, "shared", timings, reps))
    # stop BEFORE printing so no teardown noise can follow the artifact:
    # the last stdout line is the artifact. A teardown that raises must
    # not drop the built payload either. Both pinned by
    # tests/test_bench_protocol.py.
    try:
        spark.stop()
    finally:
        print(payload, flush=True)


if __name__ == "__main__":
    main()
