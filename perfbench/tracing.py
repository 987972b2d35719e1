"""Tracing for the benchmark's traced runs (``--trace 1``).

Python side: spans (name, start, end, parent, execution id) recorded
around the calls into each layer's public functions. The functions are
wrapped from outside the package, by rebinding every module attribute
that refers to them, so the package itself is unchanged. Spans stay in
memory and are written out when the run ends; self times come from
them (span duration minus the part its children cover).

Spark side, read from outside the package after each traced pass:
  * ``catalyst``: ``queryExecution().tracker()`` phases of the result frame;
  * ``exec``: the status store's stage data for the jobs carrying the
    job tag set around each builder call and action;
  * ``seam``: SQL-execution metrics of the Python-worker plan nodes
    (ArrowEvalPython, MapInPandas, FlatMapGroupsInPandas, ...);
  * ``streaming``: progress events from a query listener.
All of these work with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import itertools
import json
import re
import statistics
import sys
import threading
import time
from collections import defaultdict

from layout import PACKAGE

# (module, function names or None for "public DataFrame/SparkSession
# builders", span name prefix)
TRACED = (
    ("sources.catalog", ("load_table", "file_schema", "spread_scan"), "catalog"),
    ("operators.survival", None, "operators.survival"),
    ("operators.etl", None, "operators.etl"),
    ("operators.dedup", None, "operators.dedup"),
    ("operators.multimodal", None, "operators.multimodal"),
    ("ml.inference", ("save_model_artifact", "load_model_artifact", "load_artifact_cached"), "ml.artifact_io"),
    ("ml.inference", ("make_linear_scorer_udf", "make_mlp_scorer_udf", "make_mlp_scorer_iter_udf"), "ml.udf_factory"),
    ("ml.cnn", ("make_cnn_scorer_udf",), "ml.udf_factory"),
    ("streaming.core", ("run_to_memory", "drain_foreach_batch_to_parquet"), "streaming"),
)

SEAM_METRICS = {
    "time to start Python workers": "seam.python_start_s",
    "time to initialize Python workers": "seam.python_init_s",
    "time to run Python workers": "seam.python_run_s",
    "data sent to Python workers": "seam.bytes_to_python",
    "data returned from Python workers": "seam.bytes_from_python",
    "number of output rows": "seam.rows_from_python",
}
_PY_NODE = re.compile(r"Python|Pandas|Arrow")
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}


def _driver_builder(fn) -> bool:
    """A public function whose first parameter is a DataFrame or a
    SparkSession: it runs on the driver, never inside a UDF."""
    if fn.__name__.startswith("_") or hasattr(fn, "evalType"):
        return False
    params = list(inspect.signature(fn).parameters.values())
    return bool(params) and str(params[0].annotation) in ("DataFrame", "SparkSession")


class Tracer:
    """Spans for the traced executions of one run."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[list] = []  # [id, name, start, end, parent id, exec id]
        self._ids = itertools.count()
        self._tls = threading.local()
        self._last_table: dict = {}
        self.table_calls = 0
        self.table_hits = 0
        self._lock = threading.Lock()

    # -- spans -------------------------------------------------------
    def _open(self, name: str, exec_id=None) -> list:
        stack = self._tls.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        span = [
            next(self._ids),
            name,
            time.perf_counter(),
            None,
            parent[0] if parent else None,
            exec_id if exec_id is not None else (parent[5] if parent else None),
        ]
        stack.append(span)
        return span

    def _close(self, span: list) -> None:
        span[3] = time.perf_counter()
        self._tls.stack.pop()
        self.spans.append(span)

    @contextlib.contextmanager
    def span(self, name: str, exec_id=None):
        """Record one span; ``exec_id`` starts a new execution's tree."""
        s = self._open(name, exec_id)
        try:
            yield s
        finally:
            self._close(s)

    def _in_exec(self) -> bool:
        stack = getattr(self._tls, "stack", None)
        return bool(stack) and stack[-1][5] is not None

    # -- wrapping the package ----------------------------------------
    def _wrap(self, name: str, fn):
        tracer = self
        table = name == "catalog.load_table"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not (tracer.enabled and tracer._in_exec()):
                return fn(*args, **kwargs)
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if table:
                tracer._count_table(args, kwargs, out)
            return out

        return traced

    def _count_table(self, args, kwargs, out) -> None:
        bound = dict(zip(("spark", "sf_dir", "name"), args), **kwargs)
        key = (id(bound.get("spark")), bound.get("sf_dir"), bound.get("name"))
        with self._lock:
            self.table_calls += 1
            if self._last_table.get(key) is out:
                self.table_hits += 1
            self._last_table[key] = out

    def install(self) -> int:
        """Rebind every package-module attribute that refers to a traced
        function. Call after ``registry.corpus()`` so every query module
        is imported. Returns the number of functions wrapped."""
        wrappers = {}
        for mod_name, names, prefix in TRACED:
            mod = sys.modules.get(f"{PACKAGE}.{mod_name}")
            if mod is None:
                __import__(f"{PACKAGE}.{mod_name}")
                mod = sys.modules[f"{PACKAGE}.{mod_name}"]
            for attr, fn in vars(mod).items():
                if not inspect.isfunction(fn) or fn.__module__ != mod.__name__:
                    continue
                if (attr in names) if names else _driver_builder(fn):
                    wrappers[fn] = self._wrap(f"{prefix}.{attr}", fn)
        for name, mod in list(sys.modules.items()):
            if not name.startswith(PACKAGE) or mod is None:
                continue
            for attr, value in list(vars(mod).items()):
                if inspect.isfunction(value) and value in wrappers:
                    setattr(mod, attr, wrappers[value])
        return len(wrappers)


def tag(ex: int, phase: str) -> str:
    """Job tag of one execution's builder call or action."""
    return f"perfbench-{ex}-{phase}"


class SparkSide:
    """Reads Spark's own status stores and streaming progress."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.tracker = jsc.statusTracker()
        self.bus = jsc.listenerBus()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.sql_next = int(self.sql.executionsCount())
        self._details = (
            getattr(self.store, "stageData$default$3")(),
            getattr(self.store, "stageData$default$5")(),
        )
        self.progress: list[str] = []
        self.recording = False
        self._listen(spark)

    def _listen(self, spark) -> None:
        from pyspark import SparkContext
        from pyspark.java_gateway import ensure_callback_server_started

        side = self

        class _Progress:
            # A bare JVM-interface proxy: pyspark's own wrapper parses the
            # query-started event, which fails when job tags are set.
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                if side.recording:
                    side.progress.append(event.progress().json())

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

            class Java:
                implements = ["org.apache.spark.sql.streaming.PythonStreamingQueryListener"]

        gw = SparkContext._gateway
        ensure_callback_server_started(gw)
        wrapper = gw.jvm.org.apache.spark.sql.streaming.PythonStreamingQueryListenerWrapper(_Progress())
        spark._jsparkSession.streams().addListener(wrapper)

    def add_tag(self, ex: int, phase: str) -> None:
        self.sc.addJobTag(tag(ex, phase))

    def remove_tag(self, ex: int, phase: str) -> None:
        self.sc.removeJobTag(tag(ex, phase))

    @staticmethod
    def catalyst(df) -> dict[str, float]:
        text = df._jdf.queryExecution().tracker().phases().toString()
        return {
            f"catalyst.{k}_s": (int(b) - int(a)) / 1000.0
            for k, a, b in re.findall(r"(\w+) -> PhaseSummary\((\d+), (\d+)\)", text)
        }

    def flush(self) -> None:
        self.bus.waitUntilEmpty()

    def collect(self, exec_ids) -> dict[int, dict[str, float]]:
        """Per execution id: exec.*, seam.* and the builder's own job and
        SQL-execution counts, from the jobs carrying that execution's tags.
        Call after ``flush``, once those executions have finished."""
        out: dict[int, dict[str, float]] = {}
        job_exec, build_jobs = {}, set()
        for ex in exec_ids:
            build, action = ([int(j) for j in self.tracker.getJobIdsForTag(tag(ex, p))] for p in ("build", "action"))
            build_jobs.update(build)
            job_exec.update((j, ex) for j in build + action)
            out[ex] = self._stages(build + action)
            out[ex]["queries.build_jobs"] = float(len(build))
        while True:
            opt = self.sql.execution(self.sql_next)
            if not opt.isDefined():
                break
            self._sql_execution(self.sql_next, opt.get(), job_exec, build_jobs, out)
            self.sql_next += 1
        return out

    def _stages(self, jobs) -> dict[str, float]:
        m = defaultdict(float)
        stage_ids = set()
        for j in jobs:
            ids = self.store.job(int(j)).stageIds()
            stage_ids.update(int(ids.apply(i)) for i in range(ids.size()))
        m["exec.jobs"] = len(jobs)
        for sid in stage_ids:
            attempts = self.store.stageData(sid, False, self._details[0], False, self._details[1])
            for i in range(attempts.size()):
                s = attempts.apply(i)
                if s.status().toString() == "SKIPPED":
                    continue
                m["exec.stages"] += 1
                m["exec.tasks"] += s.numTasks()
                m["exec.run_s"] += s.executorRunTime() / 1e3
                m["exec.cpu_s"] += s.executorCpuTime() / 1e9
                m["exec.gc_s"] += s.jvmGcTime() / 1e3
                m["exec.input_bytes"] += s.inputBytes()
                m["exec.shuffle_read_bytes"] += s.shuffleReadBytes()
                m["exec.shuffle_write_bytes"] += s.shuffleWriteBytes()
                m["exec.spill_bytes"] += s.diskBytesSpilled()
                m["exec.failed_tasks"] += s.numFailedTasks()
                sub, first = s.submissionTime(), s.firstTaskLaunchedTime()
                if sub.isDefined() and first.isDefined():
                    m["exec.task_wait_s"] += (first.get().getTime() - sub.get().getTime()) / 1e3
        return m

    def _sql_execution(self, eid: int, execution, job_exec: dict, build_jobs: set, out: dict) -> None:
        jobs = [int(j) for j in execution.jobs().keySet().mkString(",").split(",") if j]
        owners = {job_exec[j] for j in jobs if j in job_exec}
        if not owners:
            return
        m = out[min(owners)]
        if any(j in build_jobs for j in jobs):
            m["queries.build_sql_execs"] = m.get("queries.build_sql_execs", 0.0) + 1
        if not _PY_NODE.search(execution.physicalPlanDescription()):
            return
        values = self.sql.executionMetrics(eid)
        nodes = self.sql.planGraph(eid).allNodes()
        for i in range(nodes.size()):
            node = nodes.apply(i)
            if not _PY_NODE.search(node.name()):
                continue
            metrics = node.metrics()
            for k in range(metrics.size()):
                metric = metrics.apply(k)
                key = SEAM_METRICS.get(metric.name())
                value = values.get(metric.accumulatorId())
                if key and value.isDefined():
                    m[key] = m.get(key, 0.0) + parse_metric(value.get())


def parse_metric(text: str) -> float:
    """Value of one SQL-metric display string: ``1.9 s``, ``736 ms``,
    ``78.3 KiB``, ``10,000``, or the aggregated form whose last line
    starts with the total (``total (min, med, max ...)\\n1.9 s (...)``)."""
    total = text.strip().splitlines()[-1].split(" (")[0].strip()
    parts = total.replace(",", "").split()
    if len(parts) == 2:
        return float(parts[0]) * _UNITS[parts[1]]
    return float(parts[0])


def self_times(spans: list[list]) -> dict[int, float]:
    """Span id -> duration minus the union of its children's intervals."""
    children = defaultdict(list)
    for s in spans:
        children[s[4]].append(s)
    out = {}
    for s in spans:
        covered, end = 0.0, s[2]
        for c in sorted(children[s[0]], key=lambda c: c[2]):
            lo, hi = max(c[2], end), min(c[3], s[3])
            if hi > lo:
                covered += hi - lo
                end = hi
        out[s[0]] = (s[3] - s[2]) - covered
    return out


def streaming_metrics(progress: list[str], n_exec: int) -> dict[str, float]:
    """Per-execution streaming.* metrics from the listener's progress
    events (JSON); state sizes come from each query's last event."""
    events = [json.loads(p) for p in progress]
    triggers = [e["durationMs"].get("triggerExecution", 0) for e in events]
    last_state: dict[str, list] = {}
    for e in events:
        last_state[e["runId"]] = e.get("stateOperators", [])
    per = max(n_exec, 1)
    return {
        "streaming.batches": len(events) / per,
        "streaming.empty_batch_share": (
            sum(1 for e in events if e.get("numInputRows", 0) == 0) / len(events) if events else 0.0
        ),
        "streaming.trigger_p50_ms": statistics.median(triggers) if triggers else 0.0,
        "streaming.add_batch_s": sum(e["durationMs"].get("addBatch", 0) for e in events) / 1e3 / per,
        "streaming.wal_commit_s": sum(e["durationMs"].get("walCommit", 0) for e in events) / 1e3 / per,
        "streaming.state_rows": sum(
            op.get("numRowsTotal", 0) for ops in last_state.values() for op in ops
        ) / per,
        "streaming.state_memory_bytes": sum(
            op.get("memoryUsedBytes", 0) for ops in last_state.values() for op in ops
        ) / per,
    }


# Every per-layer metric a traced run reports: name -> (unit, better).
PER_LAYER = {
    "session.get_spark_s": ("s", "lower"),
    "registry.corpus_s": ("s", "lower"),
    "fixtures.built": ("count", "lower"),
    "memory.peak_rss_mb": ("MB", "lower"),
    "queries.build_s": ("s", "lower"),
    "queries.build_share": ("ratio", "lower"),
    "queries.self_s": ("s", "lower"),
    "queries.build_jobs": ("count", "lower"),
    "queries.build_sql_execs": ("count", "lower"),
    "catalog.load_table_calls": ("count", "lower"),
    "catalog.load_table_s": ("s", "lower"),
    "catalog.load_table_hit_share": ("ratio", "higher"),
    "catalog.file_schema_s": ("s", "lower"),
    "catalog.spread_scan_s": ("s", "lower"),
    "operators.call_s": ("s", "lower"),
    "ml.artifact_io_s": ("s", "lower"),
    "ml.udf_factory_s": ("s", "lower"),
    "action.collect_s": ("s", "lower"),
    "seam.python_start_s": ("s", "lower"),
    "seam.python_init_s": ("s", "lower"),
    "seam.python_run_s": ("s", "lower"),
    "seam.bytes_to_python": ("bytes", "lower"),
    "seam.bytes_from_python": ("bytes", "lower"),
    "seam.rows_from_python": ("count", "lower"),
    "catalyst.analysis_s": ("s", "lower"),
    "catalyst.optimization_s": ("s", "lower"),
    "catalyst.planning_s": ("s", "lower"),
    "exec.jobs": ("count", "lower"),
    "exec.stages": ("count", "lower"),
    "exec.tasks": ("count", "lower"),
    "exec.run_s": ("s", "lower"),
    "exec.cpu_s": ("s", "lower"),
    "exec.gc_s": ("s", "lower"),
    "exec.cpu_share": ("ratio", "higher"),
    "exec.task_wait_s": ("s", "lower"),
    "exec.input_bytes": ("bytes", "lower"),
    "exec.shuffle_read_bytes": ("bytes", "lower"),
    "exec.shuffle_write_bytes": ("bytes", "lower"),
    "exec.spill_bytes": ("bytes", "lower"),
    "exec.failed_tasks": ("count", "lower"),
    "streaming.run_s": ("s", "lower"),
    "streaming.batches": ("count", "lower"),
    "streaming.empty_batch_share": ("ratio", "lower"),
    "streaming.trigger_p50_ms": ("ms", "lower"),
    "streaming.add_batch_s": ("s", "lower"),
    "streaming.wal_commit_s": ("s", "lower"),
    "streaming.state_rows": ("count", "lower"),
    "streaming.state_memory_bytes": ("bytes", "lower"),
    "trace.overhead_share": ("ratio", "lower"),
    "trace.accounted_share": ("ratio", "higher"),
    "trace.gap_s": ("s", "lower"),
}

# Layer self-time metrics: metric name -> span-name prefix.
SELF_TIME = {
    "queries.self_s": "queries.",
    "catalog.load_table_s": "catalog.load_table",
    "catalog.file_schema_s": "catalog.file_schema",
    "catalog.spread_scan_s": "catalog.spread_scan",
    "operators.call_s": "operators.",
    "ml.artifact_io_s": "ml.artifact_io.",
    "ml.udf_factory_s": "ml.udf_factory.",
    "streaming.run_s": "streaming.",
    "action.collect_s": "action.",
}


def layer_metrics(tracer: Tracer, spark_side: dict[int, dict], n_exec: int) -> dict[str, float]:
    """Per-execution means over the traced executions (shares as shares)."""
    per = max(n_exec, 1)
    selfs = self_times(tracer.spans)
    by_exec = defaultdict(list)
    for s in tracer.spans:
        if s[5] is not None:
            by_exec[s[5]].append(s)
    m = defaultdict(float)
    accounted, build_total, wall_total = 0, 0.0, 0.0
    for spans in by_exec.values():
        root = next(s for s in spans if s[4] is None)
        wall = root[3] - root[2]
        wall_total += wall
        if abs(sum(selfs[s[0]] for s in spans) - wall) <= 1e-3:
            accounted += 1
        m["trace.gap_s"] += selfs[root[0]] / per
        for s in spans:
            if s[1] == "queries.build":
                build_total += s[3] - s[2]
                m["queries.build_s"] += (s[3] - s[2]) / per
            if s[1] == "catalog.load_table":
                m["catalog.load_table_calls"] += 1 / per
            for metric, prefix in SELF_TIME.items():
                if s[1].startswith(prefix):
                    m[metric] += selfs[s[0]] / per
    m["queries.build_share"] = build_total / wall_total if wall_total else 0.0
    m["trace.accounted_share"] = accounted / len(by_exec) if by_exec else 0.0
    m["catalog.load_table_hit_share"] = (
        tracer.table_hits / tracer.table_calls if tracer.table_calls else 0.0
    )
    for ex in spark_side.values():
        for k, v in ex.items():
            m[k] += v / per
    m["exec.cpu_share"] = m["exec.cpu_s"] / m["exec.run_s"] if m["exec.run_s"] else 0.0
    return dict(m)
