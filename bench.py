"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Times are end-to-end per query (plan + execute + collect) after a JVM
warmup action, which is what a user of the engine actually waits for.

Modes:
  python bench.py                 shared-JVM suite (the default; fast,
                                  but numbers can swing +/-30% when a
                                  prior JVM is dying on the same box)
  python bench.py --isolate       one FRESH JVM per query (each child
                                  warms up, times one query, exits) —
                                  slower wall-clock, but every number
                                  is a clean-room measurement suitable
                                  for round-over-round comparison.
                                  Honors SPARK_GRAFT_QUERIES to subset.
  python bench.py --isolate --reps N
                                  N timed runs per query inside the
                                  query's fresh JVM; per-query value is
                                  the MEDIAN and the artifact keeps the
                                  raw reps. The box swings 4-6x per
                                  single run (docs/BENCH_NOTES.md r7);
                                  medians stop phantom regressions.
  python bench.py --isolate --prior FLOOR.json | --prior none
                                  prior-floor artifact for the
                                  noisy-window discard protocol
                                  (default: the newest
                                  BENCH_ISOLATE_r*_floor.json beside
                                  this file; `none` disables). The
                                  protocol is the r12/r13 manual rule,
                                  now machine-run (VERDICT r13 #2):
                                  if the window lands >15% over the
                                  prior floor (succeeded-query
                                  intersection), solo median-of-5
                                  probe the top-3 movers; iff ALL
                                  collapse to <= their prior floor
                                  values, discard the window whole
                                  and re-run once. Probe numbers,
                                  verdicts, and any discarded window
                                  are kept in the artifact under
                                  "noise_protocol".
  python bench.py --single NAME   internal: child process of --isolate.

The emitted JSON carries "mode": "shared" | "isolate" so artifacts are
self-describing.
"""

from __future__ import annotations

import gc
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools"))

import run_meta

import __spark_entry__ as entrymod
from advanced_real_time_data_pipeline_and_analytical_processing_spark.session import get_spark


def _reps_arg() -> int:
    if "--reps" in sys.argv:
        return max(1, int(sys.argv[sys.argv.index("--reps") + 1]))
    return 1


def _suite() -> tuple[str, str, dict]:
    """(sf_dir, sf label, {name: builder}) from the environment:
    SPARK_GRAFT_SF_DIR picks the data, SPARK_GRAFT_QUERIES (comma-
    separated names) an optional registry subset."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    only = {n for n in os.environ.get("SPARK_GRAFT_QUERIES", "").split(",") if n}
    to_run = {
        name: fn
        for name, fn in entrymod.queries().items()
        if not only or name in only
    }
    return sf_dir, sf, to_run


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
    SPARK_GRAFT_WARM_DIR, by default the sf0.001 beside sf_dir."""
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.range(int(cpus) * 10).repartition(int(cpus)).mapInPandas(
        lambda it: it, "id long"
    ).collect()
    warm_dir = os.environ.get(
        "SPARK_GRAFT_WARM_DIR",
        os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001"),
    )
    if os.path.isdir(warm_dir):
        for fn in fns:
            try:
                fn(spark, warm_dir).collect()
            except Exception:
                pass  # warmup only — the timed pass surfaces real failures
            spark.catalog.clearCache()


def _spawn_single(name: str, n_reps: int) -> dict:
    """Run one `bench.py --single NAME --reps N` child (fresh JVM) and
    return its JSON record {"name", "sec", "reps"}."""
    out = subprocess.run(
        [
            sys.executable,
            os.path.abspath(__file__),
            "--single",
            name,
            "--reps",
            str(n_reps),
        ],
        capture_output=True,
        text=True,
        timeout=600,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def _run_window(
    names: list[str], n_reps: int
) -> tuple[dict[str, float], dict[str, list[float]]]:
    """One full isolate pass: every query in its own fresh JVM,
    sequentially. Failures record -1.0 so the artifact stays
    self-describing instead of dying mid-suite."""
    timings: dict[str, float] = {}
    raw_reps: dict[str, list[float]] = {}
    for name in names:
        try:
            rec = _spawn_single(name, n_reps)
            timings[name] = rec["sec"]
            raw_reps[name] = rec.get("reps", [rec["sec"]])
        except Exception as exc:  # timing artifact must not die mid-suite
            print(f"isolate: {name} failed: {exc}", file=sys.stderr)
            timings[name] = -1.0
            raw_reps[name] = []
    return timings, raw_reps


def _prior_floor_path() -> str | None:
    """--prior PATH if given ('none' disables); else the newest
    BENCH_ISOLATE_r*_floor.json beside this file (highest round)."""
    if "--prior" in sys.argv:
        arg = sys.argv[sys.argv.index("--prior") + 1]
        return None if arg == "none" else arg
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    floors = glob.glob(os.path.join(here, "BENCH_ISOLATE_r*_floor.json"))
    if not floors:
        return None
    return max(
        floors,
        key=lambda p: int(re.search(r"_r(\d+)_floor", p).group(1)),
    )


# The discard rule, verbatim from docs/BENCH_NOTES.md r12/r13 (manual
# precedent) per VERDICT r13 order #2: trigger at >15% over the prior
# floor; probe the top-3 movers solo at median-of-5; discard iff ALL
# collapse to <= their prior floor values.
NOISE_TRIGGER_PCT = 15.0
NOISE_PROBE_REPS = 5
NOISE_TOP_MOVERS = 3
# per-query mover threshold used only as diffuseness EVIDENCE in the
# artifact (r12/r13 notes counted movers at +0.3 s)
NOISE_MOVER_SEC = 0.3


def _probe_movers(
    timings: dict[str, float], prior_q: dict[str, float]
) -> tuple[list[dict], bool]:
    """Solo median-of-5 probes of the top-NOISE_TOP_MOVERS positive
    movers vs the prior floor. Returns (probe records, all_collapse):
    all_collapse is True iff every probed mover's solo median is at or
    below its prior floor value — the discard condition."""
    deltas = sorted(
        (
            (timings[q] - prior_q[q], q)
            for q in timings
            if q in prior_q and timings[q] >= 0 and prior_q[q] >= 0
        ),
        reverse=True,
    )
    movers = [q for d, q in deltas[:NOISE_TOP_MOVERS] if d > 0]
    probes: list[dict] = []
    all_collapse = bool(movers)
    for q in movers:
        try:
            rec = _spawn_single(q, NOISE_PROBE_REPS)
            collapsed = rec["sec"] <= prior_q[q]
        except Exception as exc:
            print(f"isolate: probe {q} failed: {exc}", file=sys.stderr)
            rec = {"sec": -1.0, "reps": []}
            collapsed = False
        probes.append(
            {
                "query": q,
                "window_sec": timings[q],
                "prior_sec": prior_q[q],
                "probe_median": rec["sec"],
                "probe_reps": rec.get("reps", []),
                "collapsed_to_prior": collapsed,
            }
        )
        all_collapse = all_collapse and collapsed
    return probes, all_collapse


def _isolate() -> None:
    """One fresh JVM per query: spawn `bench.py --single NAME` children
    sequentially and aggregate their timings into the standard one-line
    artifact. Every measurement starts from a cold, clean JVM. With
    --reps N each child times the query N times (post-warmup, cache
    cleared between reps) and the per-query value is the median — the
    r7->r8 protocol fix for the 4-6x single-run box swings.

    Noisy-window discard protocol (r14, VERDICT r13 #2 — automates the
    rule r12/r13 applied by hand): against the prior round's floor
    artifact (see --prior), a window landing >15% high triggers solo
    median-of-5 probes of its top-3 movers; iff all collapse to <=
    their prior floor values the window is box-noise by the r12/r13
    precedent, so it is discarded WHOLE and re-run once. Both windows
    and all probe numbers land in the artifact ("noise_protocol"), so
    the per-round floor is machine-adjudicated, not hand-judged."""
    _, sf, to_run = _suite()
    names = list(to_run)
    n_reps = _reps_arg()
    timings, raw_reps = _run_window(names, n_reps)

    prior_path = _prior_floor_path()
    protocol: dict = {
        "prior": os.path.basename(prior_path) if prior_path else None,
        "trigger_pct": NOISE_TRIGGER_PCT,
        "windows": [],
        "verdict": "inactive",
    }
    prior_q: dict[str, float] = {}
    if prior_path:
        try:
            with open(prior_path) as f:
                prior_q = {
                    q: v
                    for q, v in json.load(f)["queries"].items()
                    if v >= 0
                }
        except Exception as exc:
            print(f"isolate: prior floor unreadable: {exc}", file=sys.stderr)
            protocol["prior"] = None

    def _vs_prior(t: dict[str, float]) -> tuple[float, float, int]:
        """(window total, prior total, n_movers) over the intersection
        of succeeded queries — the only comparable basis."""
        common = [q for q in t if q in prior_q and t[q] >= 0]
        wt = sum(t[q] for q in common)
        pt = sum(prior_q[q] for q in common)
        n_mov = sum(1 for q in common if t[q] - prior_q[q] > NOISE_MOVER_SEC)
        return round(wt, 3), round(pt, 3), n_mov

    if prior_q:
        w_total, p_total, n_movers = _vs_prior(timings)
        win_rec: dict = {
            "total_common": w_total,
            "prior_total_common": p_total,
            "over_pct": round(100.0 * (w_total - p_total) / p_total, 1)
            if p_total
            else 0.0,
            "n_movers_gt_0.3s": n_movers,
        }
        noisy = p_total > 0 and w_total > p_total * (1 + NOISE_TRIGGER_PCT / 100)
        if noisy:
            probes, all_collapse = _probe_movers(timings, prior_q)
            win_rec["probes"] = probes
            if all_collapse:
                # r12/r13 precedent: diffuse high window + solo collapse
                # -> environmental; discard WHOLE, re-run once.
                win_rec["verdict"] = "discarded"
                win_rec["queries"] = timings
                protocol["windows"].append(win_rec)
                protocol["verdict"] = "window1_discarded"
                print(
                    f"isolate: window +{win_rec['over_pct']}% vs prior with "
                    f"all top movers collapsing on solo probes — discarding "
                    f"and re-running (docs/BENCH_NOTES.md r12/r13 rule)",
                    file=sys.stderr,
                )
                timings, raw_reps = _run_window(names, n_reps)
                w_total, p_total, n_movers = _vs_prior(timings)
                win2: dict = {
                    "total_common": w_total,
                    "prior_total_common": p_total,
                    "over_pct": round(
                        100.0 * (w_total - p_total) / p_total, 1
                    )
                    if p_total
                    else 0.0,
                    "n_movers_gt_0.3s": n_movers,
                    "verdict": "kept",
                }
                # the re-run is kept unconditionally (max one discard —
                # a second high window is reported, never looped away),
                # but still probe its movers if it too lands high, so
                # the artifact carries the noise-class evidence.
                if p_total > 0 and w_total > p_total * (
                    1 + NOISE_TRIGGER_PCT / 100
                ):
                    probes2, collapse2 = _probe_movers(timings, prior_q)
                    win2["probes"] = probes2
                    win2["verdict"] = (
                        "kept_high_probes_collapse"
                        if collapse2
                        else "kept_high_investigate"
                    )
                protocol["windows"].append(win2)
                if protocol["verdict"] == "window1_discarded":
                    protocol["verdict"] = (
                        "window1_discarded_" + win2["verdict"]
                    )
            else:
                win_rec["verdict"] = "kept_high_investigate"
                protocol["windows"].append(win_rec)
                protocol["verdict"] = "kept_high_investigate"
        else:
            win_rec["verdict"] = "kept"
            protocol["windows"].append(win_rec)
            protocol["verdict"] = "kept"

    ok = {k: v for k, v in timings.items() if v >= 0}
    # "value" sums only succeeded queries; n_failed makes a partial
    # artifact self-describing so bench_diff can refuse/adjust instead
    # of comparing totals over different query sets.
    print(
        json.dumps(
            {
                "metric": "total_query_seconds",
                "value": round(sum(ok.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "mode": "isolate",
                "n_failed": len(timings) - len(ok),
                "n_reps": n_reps,
                "reps": raw_reps,
                "noise_protocol": protocol,
                # provenance (ADVICE r13 #3): committed _r{N} floor
                # snapshots are verifiably tied to the tree they ran on
                "run_meta": run_meta.meta(),
            }
        )
    )


def _single(name: str) -> None:
    """Child of --isolate: warm up this JVM, time ONE query --reps
    times (median reported as "sec", raw runs as "reps"), print one
    JSON record."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    n_reps = _reps_arg()
    spark = get_spark("bench-single", cpus=cpus, shuffle_partitions=int(cpus))
    fn = entrymod.queries()[name]
    _warm_up(spark, cpus, sf_dir, [fn])
    reps: list[float] = []
    for _ in range(n_reps):
        t0 = time.perf_counter()
        fn(spark, sf_dir).collect()
        reps.append(round(time.perf_counter() - t0, 3))
        spark.catalog.clearCache()
    med = sorted(reps)[len(reps) // 2] if len(reps) % 2 else round(
        (sorted(reps)[len(reps) // 2 - 1] + sorted(reps)[len(reps) // 2]) / 2, 3
    )
    payload = json.dumps({"name": name, "sec": med, "reps": reps})
    # same last-line contract as main(): stop first, artifact line last,
    # printed even if the teardown raises
    try:
        spark.stop()
    finally:
        print(payload, flush=True)


def main() -> None:
    sf_dir, sf, to_run = _suite()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        "bench",
        cpus=cpus,
        shuffle_partitions=int(cpus),
        # default 100-entry codegen class cache evicts the warmup
        # pass's compiled classes before the timed pass reuses them
        # (110 queries x several codegen stages each); size it to hold
        # the whole suite so warmup JIT actually transfers
        extra_conf={"spark.sql.codegen.cache.maxEntries": "5000"},
    )

    # SPARK_GRAFT_QUERIES subsets the suite — used by the sf1.0 scale
    # sweep to time just the most expensive queries at 10x data
    _warm_up(spark, cpus, sf_dir, to_run.values())
    timings: dict[str, float] = {}
    for i, (name, fn) in enumerate(to_run.items()):
        t0 = time.perf_counter()
        fn(spark, sf_dir).collect()
        timings[name] = round(time.perf_counter() - t0, 3)
        # drop finished queries' cached/checkpointed blocks so later
        # queries aren't timed under earlier queries' memory pressure
        # (a long-lived engine does the same housekeeping); GC kick
        # lets the ContextCleaner release localCheckpoint RDD blocks
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

    total = round(sum(timings.values()), 3)
    payload = json.dumps(
        {
            "metric": "total_query_seconds",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            "mode": "shared",
            "run_meta": run_meta.meta(),
        }
    )
    # stop BEFORE printing so no teardown noise can follow the artifact:
    # the driver parses the LAST stdout line (VERDICT r14 #2 — r13's
    # stored tail began mid-JSON and the round-over-round comparison was
    # lost). A teardown that raises must not drop the built payload
    # either. Both pinned by tests/test_bench_protocol.py.
    try:
        spark.stop()
    finally:
        print(payload, flush=True)


if __name__ == "__main__":
    if "--isolate" in sys.argv:
        _isolate()
    elif "--single" in sys.argv:
        _single(sys.argv[sys.argv.index("--single") + 1])
    else:
        main()
