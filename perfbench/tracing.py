"""Per-layer tracing, installed entirely from the benchmark's own files.

What is read, and from where:
- wrapped calls into the repo's public functions (operators, sinks,
  catalog, plans, streaming), rebound in every loaded module of the repo
  that holds them under their own name;
- streaming progress (``durationMs``, ``stateOperators``) through a
  ``StreamingQueryListener``;
- jobs, stages and SQL executions from Spark's status stores, above
  watermarks taken before each op;
- Catalyst phase times from ``queryExecution().tracker()``, codegen
  counters from ``CodeGenerator``/``CodegenMetrics`` and JIT/GC times from
  the JVM's management beans.

Spans (name, start, end, parent, op id) are kept in memory and written
out at the end. Spans from Spark's own records (triggers and their
phases, jobs) get as parent the innermost span that contains them in
time. A layer's self time is its spans' duration minus the part covered
by child spans; the op's own span is the ``bench`` layer, so its self
time is what no layer accounts for.

Traced and untraced ops alternate in one run in ABBA order, so the
tracing overhead is measured in the same process.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import itertools
import json
import pkgutil
import re
import statistics
import sys
import threading
import time
from datetime import datetime

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

PACKAGE = "advanced_real_time_data_pipeline_and_analytical_processing_spark"
LAYERS = ("session", "sources", "operators", "streaming", "sinks", "plans", "catalog", "entry", "spark", "bench")

# module -> layer of the spans its wrapped public functions open
_WRAPPED_MODULES = {
    f"{PACKAGE}.catalog": "catalog",
    f"{PACKAGE}.plans.materialize": "plans",
    f"{PACKAGE}.sinks.writers": "sinks",
    f"{PACKAGE}.sinks.bootstrap": "sinks",
    f"{PACKAGE}.streaming.stateful": "streaming",
    f"{PACKAGE}.streaming.dedup": "streaming",
}
_WRAPPED_PACKAGES = {f"{PACKAGE}.operators": "operators"}
# single functions wrapped under another module's layer
_WRAPPED_FUNCTIONS = {(f"{PACKAGE}.streaming.ingest", "move_files"): "sinks"}
# per-operator SQL metric display name -> counter
_SQL_METRICS = {
    "data sent to Python workers": "python_sent",
    "data returned from Python workers": "python_received",
    "number of written files": "files",
}
# streaming trigger phases in execution order -> span name
_TRIGGER_PHASES = (
    ("latestOffset", "sources.latest_offset"),
    ("walCommit", "streaming.wal_commit"),
    ("getBatch", "sources.get_batch"),
    ("queryPlanning", "streaming.query_planning"),
    ("addBatch", "streaming.add_batch"),
    ("commitOffsets", "streaming.commit_offsets"),
)
# Spark records times in whole milliseconds
_SLACK_S = 0.002
# The per-layer metrics printed in the result line. Each time in it is
# measured on every workload; times that only some workloads can have
# (Catalyst phases, wrapped-call times, state-store times, per-layer self
# times of layers a workload does not pass through) would read exactly 0
# on the others, so they are in the run record and the trace file only,
# with their call counts printed here.
PRINTED = (
    "streaming.trigger_ms",
    "streaming.add_batch_ms",
    "streaming.query_planning_ms",
    "streaming.wal_commit_ms",
    "streaming.commit_offsets_ms",
    "sources.latest_offset_ms",
    "sources.get_batch_ms",
    "sources.input_rows",
    "sources.input_bytes",
    "streaming.state_instances",
    "streaming.state_rows",
    "streaming.state_memory_bytes",
    # not python_bytes_sent: Spark 4.1's FlatMapGroupsInPandasWithState
    # never updates it, so it would read 0 on every run
    "streaming.python_bytes_received",
    "operators.calls",
    "sinks.write_audit_calls",
    "sinks.output_files",
    "sinks.output_bytes",
    "catalog.load_table_calls",
    "plans.materialize_calls",
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "spark.codegen_compiles",
    "spark.jit_compile_ms",
    "spark.gc_ms",
    "self.sources_s",
    "self.streaming_s",
    "self.spark_s",
    "session.get_spark_s",
    "sinks.bootstrap_s",
    "trace.overhead_s",
)
# counters that are wrapped-call times: counter -> span-name prefix
_CALL_TIMES = {
    "operators.plan_build_ms": "operators.",
    "sinks.write_audit_s": "sinks.write_audit",
    "sinks.move_files_s": "sinks.move_files",
    "catalog.load_table_s": "catalog.load_table",
    "plans.materialize_s": "plans.materialize",
}


class NullTracer:
    """The hooks the workloads call; no-ops when tracing is off."""

    min_ops = 1  # timed-loop iterations a run makes at least

    def attach(self, spark) -> None:
        pass

    def detach(self) -> None:
        pass

    def call(self, name, fn, *args, **kwargs):
        return fn(*args, **kwargs)

    @contextlib.contextmanager
    def span(self, name, **attrs):
        yield

    def collect(self, df):
        return df.collect()

    def begin_op(self, op_id: int) -> None:
        pass

    def end_op(self, op_id: int, triggers: int = 0) -> None:
        pass


class ProgressLog(StreamingQueryListener):
    """Keeps every ``QueryProgressEvent`` of the session as its progress
    JSON (``batchId``, ``durationMs``, ``stateOperators`` ...)."""

    def __init__(self, spark):
        super().__init__()
        self._spark = spark
        self._lock = threading.Lock()
        self._events: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        record = json.loads(event.progress.json)
        with self._lock:
            self._events.append(record)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self) -> list[dict]:
        """Every event posted so far, oldest first; clears the log. Waits
        for Spark's listener bus to deliver what is queued."""
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        with self._lock:
            out, self._events = self._events, []
        return out


class Span:
    __slots__ = ("id", "name", "start", "end", "parent", "op", "attrs")

    def __init__(self, id, name, start, end, parent=None, op=None, attrs=None):
        self.id, self.name, self.start, self.end = id, name, start, end
        self.parent, self.op, self.attrs = parent, op, attrs

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    def as_dict(self) -> dict:
        d = {k: getattr(self, k) for k in ("id", "name", "start", "end", "parent", "op")}
        if self.attrs:
            d["attrs"] = self.attrs
        return d


def size_bytes(text: str) -> float:
    """Total of an SQL size metric's display string: ``12.3 KiB``, or
    ``total (min, med, max (stageId: taskId))`` then the values."""
    lines = text.strip().splitlines()
    m = re.match(r"\s*([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)?", lines[-1] if lines else "")
    if not m:
        return 0.0
    scale = {None: 1, "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}[m.group(2)]
    return float(m.group(1).replace(",", "")) * scale


def nest(spans: list[Span], root: Span) -> None:
    """Give each parentless span the innermost span (jobs excluded) that
    contains it in time, else ``root``."""
    holders = [s for s in spans if s.name != "spark.job"]
    for s in spans:
        if s.parent is not None:
            continue
        best = root
        for c in holders:
            inside = c.start - _SLACK_S <= s.start and s.end <= c.end + _SLACK_S
            if c is not s and inside and c.end - c.start < best.end - best.start:
                best = c
        s.parent = best.id


def self_times(spans: list[Span], root: Span) -> dict[str, float]:
    """Seconds of ``root``'s interval per layer: each span's duration,
    clipped to the root, minus the union of its children's."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}

    def walk(s: Span, layer: str) -> None:
        lo, hi = max(s.start, root.start), min(s.end, root.end)
        covered, cur = 0.0, None
        for c in sorted(kids.get(s.id, ()), key=lambda c: c.start):
            c_lo, c_hi = max(c.start, lo), min(c.end, hi)
            if c_hi <= c_lo:
                continue
            if cur is None or c_lo > cur[1]:
                covered += cur[1] - cur[0] if cur else 0.0
                cur = [c_lo, c_hi]
            else:
                cur[1] = max(cur[1], c_hi)
        covered += cur[1] - cur[0] if cur else 0.0
        out[layer] = out.get(layer, 0.0) + max(hi - lo - covered, 0.0)
        for c in kids.get(s.id, ()):
            walk(c, c.layer)

    walk(root, "bench")
    return out


def trigger_start(p: dict) -> float:
    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


def _mostly_within(p: dict, root: Span) -> bool:
    """A trigger belongs to the op that holds most of it: a trigger may
    start listing before the op's file lands, and the previous op's
    trigger may still be committing when this op starts."""
    start = trigger_start(p)
    end = start + p["durationMs"].get("triggerExecution", 0) / 1000
    overlap = min(end, root.end) - max(start, root.start)
    return overlap >= (end - start) / 2


def _outermost(spans: list[Span], prefix: str) -> list[Span]:
    """Spans named ``prefix...`` that have no ancestor of the same kind."""
    by_id = {s.id: s for s in spans}

    def nested(s: Span) -> bool:
        p = by_id.get(s.parent)
        while p is not None:
            if p.name.startswith(prefix):
                return True
            p = by_id.get(p.parent)
        return False

    return [s for s in spans if s.name.startswith(prefix) and not nested(s)]


class Tracer(NullTracer):
    min_ops = 4  # one full ABBA cycle

    def __init__(self):
        self.spans: list[Span] = []
        self.ops: list[dict] = []
        self.setup: dict[str, list[float]] = {}
        self.spark = None
        self.progress = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._op: Span | None = None
        self._before: dict = {}
        self._catalyst: dict[str, float] = {}
        self._patched: list[tuple[object, str, object]] = []
        self._last_job = -1

    @staticmethod
    def traced(op_id: int) -> bool:
        """Ops 0, 3, 4, 7, 8, ... are traced: ABBA order, so a steady
        drift (the JIT warming up) cancels out of the overhead."""
        return op_id % 4 in (0, 3)

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name, **attrs):
        op = self._op
        if op is None:  # outside a traced op
            yield
            return
        stack = self._stack()
        # a span opened outside any other on its thread (e.g. in a
        # foreachBatch callback) is nested by time at the end of the op
        sid, parent = next(self._ids), stack[-1] if stack else None
        stack.append(sid)
        start = time.time()
        try:
            yield
        finally:
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, time.time(), parent, op.op, attrs or None))

    def call(self, name, fn, *args, **kwargs):
        """A set-up call timed under ``name`` (medians are reported)."""
        t0 = time.monotonic()
        try:
            return fn(*args, **kwargs)
        finally:
            self.setup.setdefault(name, []).append(time.monotonic() - t0)

    def collect(self, df):
        """``df.collect()`` as a ``spark.collect`` span, plus its Catalyst
        phase times and its fetch time (wall minus SQL-execution wall)."""
        if self._op is None:
            return df.collect()
        sql = self._sql_store()
        before = sql.executionsCount()
        t0 = time.time()
        with self.span("spark.collect"):
            rows = df.collect()
        wall_ms = (time.time() - t0) * 1000
        phases = df._jdf.queryExecution().tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            if phases.contains(phase):
                self._catalyst[phase] = self._catalyst.get(phase, 0.0) + phases.apply(phase).durationMs()
        run_ms = 0.0
        execs = sql.executionsList(before, sql.executionsCount() - before)
        for i in range(execs.size()):
            e = execs.apply(i)
            if not e.completionTime().isEmpty():
                run_ms = max(run_ms, e.completionTime().get().getTime() - e.submissionTime())
        self._catalyst["fetch"] = self._catalyst.get("fetch", 0.0) + max(wall_ms - run_ms, 0.0)
        return rows

    # -- wrappers --------------------------------------------------------------

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return wrapper

    @staticmethod
    def _targets() -> dict[object, str]:
        """Original function -> span name, for every wrapped function."""
        mods = dict(_WRAPPED_MODULES)
        for pkg, layer in _WRAPPED_PACKAGES.items():
            for info in pkgutil.iter_modules(importlib.import_module(pkg).__path__):
                mods[f"{pkg}.{info.name}"] = layer
        out = {}
        for modname, layer in mods.items():
            for attr, fn in vars(importlib.import_module(modname)).items():
                if inspect.isfunction(fn) and fn.__module__ == modname and not attr.startswith("_"):
                    out[fn] = f"{layer}.{attr}"
        for (modname, attr), layer in _WRAPPED_FUNCTIONS.items():
            out[getattr(importlib.import_module(modname), attr)] = f"{layer}.{attr}"
        return out

    def _install_wrappers(self) -> None:
        importlib.import_module("__spark_entry__")
        importlib.import_module(f"{PACKAGE}.streaming.ingest")
        wrappers = {fn: self._wrap(fn, name) for fn, name in self._targets().items()}
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname.startswith(PACKAGE) or modname == "__spark_entry__"):
                continue
            for attr, value in list(vars(mod).items()):
                if inspect.isfunction(value) and value in wrappers:
                    self._patched.append((mod, attr, value))
                    setattr(mod, attr, wrappers[value])

    def attach(self, spark) -> None:
        self.spark = spark
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self.progress = ProgressLog(spark)
        spark.streams.addListener(self.progress)
        self._install_wrappers()

    def detach(self) -> None:
        for mod, attr, value in reversed(self._patched):
            setattr(mod, attr, value)
        self._patched.clear()
        if self.progress is not None:
            self.spark.streams.removeListener(self.progress)
            self.progress = None

    # -- Spark's records -------------------------------------------------------

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _jvm_counters(self) -> dict[str, float]:
        jvm = self.spark._jvm
        mf = jvm.java.lang.management.ManagementFactory
        gcs = mf.getGarbageCollectorMXBeans()
        return {
            "codegen_compiles": jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount(),
            "codegen_compile_ms": jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime() / 1e6,
            "jit_compile_ms": mf.getCompilationMXBean().getTotalCompilationTime(),
            "gc_ms": sum(gcs.get(i).getCollectionTime() for i in range(gcs.size())),
        }

    def _new_jobs_and_stages(self) -> tuple[list[dict], list[dict]]:
        """Jobs above the job-id watermark and the stages they ran; moves
        the watermark."""
        next_id = int(self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId())
        jobs, stages = [], {}
        for jid in range(self._last_job + 1, next_id):
            try:
                j = self._store.job(jid)
            except Py4JJavaError:  # not (yet) in the store
                continue
            sub, done = j.submissionTime(), j.completionTime()
            jobs.append(
                {
                    "id": jid,
                    "start": sub.get().getTime() / 1000 if not sub.isEmpty() else None,
                    "end": done.get().getTime() / 1000 if not done.isEmpty() else None,
                }
            )
            stage_ids = j.stageIds()
            for k in range(stage_ids.size()):
                sid = stage_ids.apply(k)
                try:
                    s = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # never registered
                    continue
                if s.status().toString() == "SKIPPED":
                    continue
                stages[sid] = {
                    "tasks": s.numTasks(),
                    "executor_run_s": s.executorRunTime() / 1000,
                    "executor_cpu_s": s.executorCpuTime() / 1e9,
                    "input_bytes": s.inputBytes(),
                    "output_bytes": s.outputBytes(),
                    "shuffle_read_bytes": s.shuffleRemoteBytesRead() + s.shuffleLocalBytesRead(),
                    "shuffle_write_bytes": s.shuffleWriteBytes(),
                    "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                }
        self._last_job = next_id - 1
        return jobs, list(stages.values())

    def _sql_metrics(self, first: int) -> dict[str, float]:
        """``_SQL_METRICS`` summed over the SQL executions from ``first``."""
        sql = self._sql_store()
        out = dict.fromkeys(_SQL_METRICS.values(), 0.0)
        n = sql.executionsCount()
        if n <= first:
            return out
        accumulators = self.spark._jvm.org.apache.spark.util.AccumulatorContext
        execs = sql.executionsList(first, n - first)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            values = sql.executionMetrics(eid)
            nodes = sql.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                metrics = nodes.apply(k).metrics()
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    key, acc = _SQL_METRICS.get(metric.name()), metric.accumulatorId()
                    if key is None:
                        continue
                    if values.contains(acc):
                        text = values.apply(acc)
                        out[key] += size_bytes(text) if key.startswith("python") else float(text.replace(",", ""))
                    else:
                        # a plan whose jobs ran under a nested execution (a
                        # V1 write in foreachBatch) gets no values in the
                        # store; its accumulators live while the plan does
                        live = accumulators.get(acc)
                        if live.isDefined():
                            out[key] += float(live.get().value())
        return out

    def _trigger_spans(self, progress: list[dict], op: int) -> list[Span]:
        """Each trigger and its phases, laid out in execution order from
        the trigger's start."""
        out = []
        for p in progress:
            start = trigger_start(p)
            d = p["durationMs"]
            trig = Span(next(self._ids), "streaming.trigger", start, start + d.get("triggerExecution", 0) / 1000, op=op, attrs={"batch": p["batchId"]})
            out.append(trig)
            # the first phases run from the trigger's start, addBatch and
            # commitOffsets end it
            t = start
            for key, name in _TRIGGER_PHASES[:4]:
                out.append(Span(next(self._ids), name, t, t + d.get(key, 0) / 1000, trig.id, op))
                t += d.get(key, 0) / 1000
            t = trig.end
            for key, name in reversed(_TRIGGER_PHASES[4:]):
                out.append(Span(next(self._ids), name, t - d.get(key, 0) / 1000, t, trig.id, op))
                t -= d.get(key, 0) / 1000
        return out

    # -- ops -------------------------------------------------------------------

    def begin_op(self, op_id: int) -> None:
        if not self.traced(op_id):
            return
        self.progress.take()  # events of earlier ops
        self._new_jobs_and_stages()  # moves the job watermark
        self._catalyst = {}
        self._before = {"sql": self._sql_store().executionsCount(), "jvm": self._jvm_counters()}
        self._op = Span(next(self._ids), "bench.op", time.time(), None, op=op_id)

    def end_op(self, op_id: int, triggers: int = 0) -> None:
        """Close a traced op. ``triggers``: data triggers to wait for,
        when the op ends before its trigger commits."""
        if not self.traced(op_id):
            return
        root, self._op = self._op, None
        root.end = time.time()
        progress: list[dict] = []
        deadline = time.monotonic() + 30
        while True:
            progress += [p for p in self.progress.take() if _mostly_within(p, root)]
            if sum(p["numInputRows"] > 0 for p in progress) >= triggers or time.monotonic() > deadline:
                break
            time.sleep(0.01)
        jobs, stages = self._new_jobs_and_stages()
        jvm = self._jvm_counters()
        sqlm = self._sql_metrics(self._before["sql"])

        with self._lock:
            python_spans = [s for s in self.spans if s.op == op_id]
        derived = self._trigger_spans(progress, op_id)
        derived += [Span(next(self._ids), "spark.job", j["start"], j["end"], op=op_id, attrs={"job": j["id"]}) for j in jobs if j["end"] is not None]
        data_triggers = [s for s in derived if s.name == "streaming.trigger" and s.start > root.start]
        spans = python_spans + derived
        nest(spans, root)
        if data_triggers:
            first = min(data_triggers, key=lambda s: s.start)
            if first.parent == root.id:
                # landed but not yet listed: the file source's discovery wait
                spans.append(Span(next(self._ids), "sources.discovery", root.start, first.start, root.id, op_id))
        self.spans.extend(spans[len(python_spans) :])
        self.spans.append(root)

        dur = lambda key: sum(p["durationMs"].get(key, 0) for p in progress)  # noqa: E731
        state = [s for p in progress for s in p.get("stateOperators", [])]
        counters = {
            "streaming.trigger_ms": dur("triggerExecution"),
            "streaming.add_batch_ms": dur("addBatch"),
            "streaming.query_planning_ms": dur("queryPlanning"),
            "streaming.wal_commit_ms": dur("walCommit"),
            "streaming.commit_offsets_ms": dur("commitOffsets"),
            "sources.latest_offset_ms": dur("latestOffset"),
            "sources.get_batch_ms": dur("getBatch"),
            "sources.input_rows": sum(p["numInputRows"] for p in progress),
            "sources.input_bytes": sum(s["input_bytes"] for s in stages),
            "streaming.state_commit_ms": sum(s.get("commitTimeMs", 0) for s in state),
            "streaming.state_update_ms": sum(s.get("allUpdatesTimeMs", 0) for s in state),
            "streaming.state_removal_ms": sum(s.get("allRemovalsTimeMs", 0) for s in state),
            "streaming.state_instances": sum(s.get("numStateStoreInstances", 0) for s in state),
            "streaming.state_rows": sum(s.get("numRowsTotal", 0) for s in state),
            "streaming.state_memory_bytes": sum(s.get("memoryUsedBytes", 0) for s in state),
            "streaming.python_bytes_sent": sqlm["python_sent"],
            "streaming.python_bytes_received": sqlm["python_received"],
            "sinks.output_files": sqlm["files"],
            "sinks.output_bytes": sum(s["output_bytes"] for s in stages),
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(s["tasks"] for s in stages),
            "spark.executor_run_s": sum(s["executor_run_s"] for s in stages),
            "spark.executor_cpu_s": sum(s["executor_cpu_s"] for s in stages),
            "spark.shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in stages),
            "spark.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in stages),
            "spark.spill_bytes": sum(s["spill_bytes"] for s in stages),
            "spark.analysis_ms": self._catalyst.get("analysis", 0.0),
            "spark.optimization_ms": self._catalyst.get("optimization", 0.0),
            "spark.planning_ms": self._catalyst.get("planning", 0.0),
            "spark.fetch_ms": self._catalyst.get("fetch", 0.0),
            **{f"spark.{k}": v - self._before["jvm"][k] for k, v in jvm.items()},
        }
        for name, prefix in _CALL_TIMES.items():
            secs = sum(s.end - s.start for s in _outermost(python_spans, prefix))
            counters[name] = secs * 1000 if name.endswith("_ms") else secs
        counters["operators.calls"] = len(_outermost(python_spans, "operators."))
        for name, prefix in (
            ("sinks.write_audit_calls", "sinks.write_audit"),
            ("catalog.load_table_calls", "catalog.load_table"),
            ("plans.materialize_calls", "plans.materialize"),
        ):
            counters[name] = sum(s.name == prefix for s in python_spans)
        self.ops.append(
            {
                "op": op_id,
                "wall_s": root.end - root.start,
                "self_s": self_times(spans + [root], root),
                "counters": counters,
            }
        )

    # -- results ---------------------------------------------------------------

    def metrics(self, latencies: list[float], op_ids: list[int]) -> dict[str, tuple[float, str]]:
        """Every per-layer metric: each counter's mean per workload op over
        the traced ops, each layer's self time per op, the set-up calls'
        medians and the tracing overhead. ``PRINTED`` selects the ones in
        the result line."""
        n_ops = len(self.ops) or 1
        out = {}
        for key in self.ops[0]["counters"] if self.ops else ():
            unit = "ms" if key.endswith("_ms") else "s" if key.endswith("_s") else "bytes" if "bytes" in key else "count"
            out[key] = (sum(o["counters"][key] for o in self.ops) / n_ops, unit)
        for layer in LAYERS:
            out[f"self.{layer}_s"] = (sum(o["self_s"].get(layer, 0.0) for o in self.ops) / n_ops, "s")
        for name in ("session.get_spark_s", "sinks.bootstrap_s"):
            out[name] = (statistics.median(self.setup.get(name, [0.0])), "s")
        traced = [lat for lat, i in zip(latencies, op_ids) if self.traced(i)]
        untraced = [lat for lat, i in zip(latencies, op_ids) if not self.traced(i)]
        if traced and untraced:
            out["trace.overhead_s"] = (statistics.median(traced) - statistics.median(untraced), "s")
        return out

    def summary(self) -> dict:
        """Each layer's share of traced op wall time; coverage is the
        share not left to the ``bench`` layer."""
        wall = sum(o["wall_s"] for o in self.ops) or 1.0
        layers: dict[str, float] = {}
        for o in self.ops:
            for k, v in o["self_s"].items():
                layers[k] = layers.get(k, 0.0) + v
        return {
            "traced_ops": len(self.ops),
            "self_time_share": {k: v / wall for k, v in sorted(layers.items())},
            "coverage": 1.0 - layers.get("bench", 0.0) / wall,
        }

    def write(self, path: str, record: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run": record, "ops": self.ops, "spans": [s.as_dict() for s in self.spans]}, f)
