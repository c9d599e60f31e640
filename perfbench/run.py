"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Pins the environment, runs one workload
in this fresh process and prints one JSON result as the last stdout line:
with ``--trace 0`` the end-to-end metrics, with ``--trace 1`` the
per-layer metrics of a traced run (spans and counters are also written
to ``.perfbench_run/trace-<workload>-<seed>.json``). See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
PACKAGE = "advanced_real_time_data_pipeline_and_analytical_processing_spark"
WORKLOADS = ("ingest_trickle", "analytics_mix")
CORES = 2  # local[K]: K <= nproc on every host the benchmark targets
DRIVER_MEMORY = "1g"
# A run never reaches the C2 compiler's steady state; its background
# compiles would dominate CPU per op and keep every op getting faster
# through the run, so the JIT is pinned to its C1 tier.
JIT = "-XX:TieredStopAtLevel=1"
DEADLINE_S = 170  # a run that has not finished by then is killed, tree and all


def _process_age_s() -> float:
    """Seconds since this process started (from /proc, so interpreter
    start-up and imports count towards setup)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _pin_environment(scratch: str) -> dict:
    """Fixed cores, shuffle partitions, heap and scratch directories, all
    inside the checkout. Returns the record written into every result."""
    cores = min(CORES, os.cpu_count() or 1)
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_STREAM_SCRATCH=os.path.join(scratch, "stream"),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        TMPDIR=tmp,
    )
    for var in ("PYSPARK_SUBMIT_ARGS", "SPARK_GRAFT_CONF", "SPARK_GRAFT_DURABLE", "SPARK_GRAFT_CPUS"):
        os.environ.pop(var, None)
    conf = {
        "spark.local.dir": os.path.join(scratch, "local"),
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"{JIT} -Djava.io.tmpdir={tmp} -XX:-UsePerfData -Dderby.system.home={tmp}",
    }
    return {"cores": cores, "shuffle_partitions": cores, "driver_memory": DRIVER_MEMORY, "scratch": os.path.relpath(scratch, ROOT), "conf": conf}


def _watchdog(signum, frame) -> None:
    import procstat

    print(f"perfbench: no result after {DEADLINE_S}s; stopping", file=sys.stderr)
    for pid in procstat.tree_pids()[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    os._exit(3)


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it, and wait until it exits
    (its Python workers go with it)."""
    from pyspark import SparkContext

    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    SparkContext._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        proc.wait(timeout=60)


def _load_avg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _provenance() -> dict:
    """``tools/run_meta.meta()``; git may not search above the checkout."""
    from gen import load_tool

    os.environ["GIT_CEILING_DIRECTORIES"] = os.path.dirname(ROOT)
    return load_tool(ROOT, "run_meta").meta()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no engine package {PACKAGE}/ under {ROOT}; run from the repository root", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    signal.signal(signal.SIGALRM, _watchdog)
    signal.alarm(DEADLINE_S)
    scratch = os.path.join(ROOT, ".perfbench_run", args.workload)
    shutil.rmtree(scratch, ignore_errors=True)
    env = _pin_environment(scratch)
    load_start = _load_avg()

    import pyspark

    import tracing
    import workloads
    from advanced_real_time_data_pipeline_and_analytical_processing_spark.session import get_spark

    tracer = tracing.Tracer() if args.trace else tracing.NullTracer()
    t0 = time.monotonic()
    spark = tracer.call("session.get_spark_s", get_spark, "perfbench", cpus=env["cores"], shuffle_partitions=env["shuffle_partitions"], extra_conf=env["conf"])
    get_spark_s = time.monotonic() - t0
    age_at_session = _process_age_s()
    try:
        tracer.attach(spark)
        ctx = workloads.Ctx(ROOT, scratch, args.seed, args.seconds, spark, tracer)
        run = getattr(workloads, args.workload)(ctx)
    finally:
        tracer.detach()
        _stop_spark(spark)
    # process start -> first timed op
    setup_s = age_at_session + (run.first_op_at - t0 - get_spark_s)
    n = run.attempted
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "ops": n,
        "failed": run.failed,
        "setup_phases_s": {"process_to_session": age_at_session, **run.phases},
        "timed_wall_s": run.wall_s,
        "latencies_s": run.latencies,
        **run.info,
        "env": {
            **env,
            "nproc": os.cpu_count(),
            "loadavg_1m_start": load_start,
            "loadavg_1m_end": _load_avg(),
            "pyspark": pyspark.__version__,
            "python": platform.python_version(),
            "provenance": _provenance(),
        },
    }
    metrics = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(run.latencies), "s"),
        "cpu_s_per_op": (run.cpu_s / len(run.latencies), "s"),
        "peak_rss_mb": (run.peak_rss_mb, "MB"),
    }
    if args.trace:
        layers = tracer.metrics(run.latencies, run.op_ids)
        record["trace"] = {**tracer.summary(), "layers": {k: v for k, (v, _) in layers.items()}}
        metrics = {k: layers[k] for k in tracing.PRINTED}
        tracer.write(os.path.join(ROOT, ".perfbench_run", f"trace-{args.workload}-{args.seed}.json"), record)
    print(json.dumps({"run": record}, default=str))
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": n,
                "failed": run.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    shutil.rmtree(scratch, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
