"""One measured run in a fresh process (started by ``run.py``).

    python3 perfbench/measure.py '<json config>'

Phases: load the cached oracle results; set up (package import,
``get_spark()``, ``registry.corpus()``); a cold pass; warm-up passes;
then timed passes until ``seconds`` have elapsed (whole passes only, so
every run times the same query mix; the phase ends at the pass boundary
nearest to ``seconds``). Pass-based metrics are medians over the timed
passes, so a burst of host load that slows one pass moves them little.
Results are checked against the oracles after the timed phase. The result goes to ``config["out"]``.

In a traced run the timed passes alternate between traced and untraced,
so the run reports the tracing overhead next to the per-layer numbers.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import oracle
from layout import DATA, SCRATCH
from workloads import WORKLOADS, pass_plan


def scratch_state() -> dict[str, tuple[int, int]]:
    """(mtime_ns, size) of every entry under the package's .scratch/."""
    state = {}
    for dirpath, dirnames, filenames in os.walk(SCRATCH):
        for name in dirnames + filenames:
            path = os.path.join(dirpath, name)
            try:
                st = os.stat(path)
            except FileNotFoundError:
                continue
            state[path] = (st.st_mtime_ns, st.st_size)
    return state


class Runner:
    """Runs passes of one workload on one session and keeps every result."""

    def __init__(self, spark, queries, n_clients: int, tracer=None, side=None) -> None:
        self.spark = spark
        self.queries = queries
        self.n_clients = n_clients
        self.tracer = tracer
        self.side = side
        self.ids = itertools.count()
        self.executions: list[dict] = []
        self.results: dict[int, tuple] = {}
        self.pool = ThreadPoolExecutor(n_clients) if n_clients > 1 else None

    def _execute(self, name: str, phase: str, client: int, traced: bool) -> None:
        ex = next(self.ids)
        rec = {"id": ex, "query": name, "phase": phase, "client": client, "traced": traced}
        tracer, side = self.tracer, self.side
        root = tracer.span("exec", ex) if traced else contextlib.nullcontext()
        df = pdf = error = None
        t0 = time.perf_counter()
        with root:
            try:
                if traced:
                    side.add_tag(ex, "build")
                with tracer.span("queries.build") if traced else contextlib.nullcontext():
                    df = self.queries[name].fn(self.spark, DATA)
                if traced:
                    side.remove_tag(ex, "build")
                    side.add_tag(ex, "action")
                with tracer.span("action.collect") if traced else contextlib.nullcontext():
                    pdf = df.toPandas()
            except Exception as e:  # noqa: BLE001 - a failed execution is counted, not fatal
                error = f"{type(e).__name__}: {e}"[:2000]
            finally:
                if traced:
                    side.remove_tag(ex, "build")
                    side.remove_tag(ex, "action")
        t1 = time.perf_counter()
        rec.update(start=t0, latency_s=t1 - t0)
        if traced and df is not None and error is None:
            rec["catalyst"] = side.catalyst(df)
        self.executions.append(rec)
        self.results[ex] = (pdf, error)

    def _client(self, client: int, order: list[str], phase: str, traced: bool) -> None:
        while True:
            try:
                name = order.pop(0)  # list.pop is atomic under the GIL
            except IndexError:
                return
            self._execute(name, phase, client, traced)

    def run_pass(self, order: list[str], phase: str, traced: bool = False) -> float:
        """Run one pass (every query once; each client takes the next
        query as it becomes free, closed loop) and return its wall."""
        if self.tracer is not None:
            self.tracer.enabled = traced
            self.side.recording = traced
        order = list(order)
        t0 = time.perf_counter()
        if self.pool is None:
            self._client(0, order, phase, traced)
        else:
            futures = [self.pool.submit(self._client, c, order, phase, traced) for c in range(self.n_clients)]
            for f in futures:
                f.result()
        wall = time.perf_counter() - t0
        if traced:
            self.side.flush()
        return wall


def percentile(values: list[float], q: int) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def main(cfg: dict) -> dict:
    workload = WORKLOADS[cfg["workload"]]
    trace = bool(cfg["trace"])
    t = time.perf_counter()
    expected = oracle.load(workload.queries)
    oracle_s = time.perf_counter() - t

    tracer = side = None
    layer: dict[str, float] = {}
    if trace:
        from tracing import Tracer

        tracer = Tracer()
    span = tracer.span if trace else (lambda name: contextlib.nullcontext())
    t = time.perf_counter()
    with span("session.get_spark"):
        from high_energy_gamma_ray_search_in_kascade_array_data_spark import get_spark

        spark = get_spark()
    layer["session.get_spark_s"] = time.perf_counter() - t
    t = time.perf_counter()
    with span("registry.corpus"):
        from high_energy_gamma_ray_search_in_kascade_array_data_spark.registry import corpus

        queries = corpus()
    layer["registry.corpus_s"] = time.perf_counter() - t
    if trace:
        from tracing import SparkSide

        tracer.install()
        side = SparkSide(spark)

    n_clients = workload.clients or len(os.sched_getaffinity(0))
    plan = pass_plan(workload, cfg["seed"])
    runner = Runner(spark, queries, n_clients, tracer, side)
    cold_pass_s = runner.run_pass(next(plan), "cold")
    warmup = [runner.run_pass(next(plan), "warmup") for _ in range(workload.warmup_passes)]

    before = scratch_state()
    t_timed = time.time()
    setup_s = t_timed - cfg["spawned_at"] - oracle_s
    timed_t0 = time.perf_counter()
    passes: list[dict] = []
    traced_ids: list[int] = []
    spark_side: dict[int, dict] = {}
    while not passes or sum(p["wall_s"] for p in passes) + passes[-1]["wall_s"] / 2 < cfg["seconds"]:
        traced = trace and len(passes) % 2 == 0
        first = len(runner.executions)
        wall = runner.run_pass(next(plan), "timed", traced)
        passes.append({"wall_s": wall, "traced": traced, "executions": len(runner.executions) - first})
        if traced:
            ids = [e["id"] for e in runner.executions[first:]]
            traced_ids += ids
            spark_side.update(side.collect(ids))
    timed_wall = time.perf_counter() - timed_t0
    changed = sorted(os.path.relpath(k, SCRATCH) for k, v in scratch_state().items() if before.get(k) != v)

    failures = oracle.check_all(runner.executions, runner.results, expected)
    with contextlib.suppress(Exception):
        spark.stop()

    timed = [e for e in runner.executions if e["phase"] == "timed"]
    measured = [e for e in timed if not e["traced"]] or timed
    lat = [e["latency_s"] for e in measured]
    untraced = [p for p in passes if not p["traced"]] or passes
    untraced_walls = [p["wall_s"] for p in untraced]
    metrics = {
        "setup_s": setup_s,
        "cold_pass_s": cold_pass_s,
        "pass_s": statistics.median(untraced_walls),
        "query_p50_s": statistics.median(lat),
        "query_p90_s": percentile(lat, 90),
        "queries_per_s": statistics.median(p["executions"] / p["wall_s"] for p in untraced),
    }
    out = {
        "metrics": metrics,
        "attempted": len(timed),
        "failed": sum(1 for e in timed if not e["ok"]),
        "correct": not failures,
        "failures": failures,
        "oracle_load_s": oracle_s,
        "warmup_pass_s": warmup,
        "passes": passes,
        "timed_wall_s": timed_wall,
        "clients": n_clients,
        "fixtures_built": len(changed),
        "fixtures_changed": changed[:50],
        "executions": runner.executions,
    }
    if trace:
        from tracing import PER_LAYER, layer_metrics, streaming_metrics

        for e in runner.executions:
            spark_side.get(e["id"], {}).update(e.get("catalyst", {}))
        layer.update(layer_metrics(tracer, spark_side, len(traced_ids)))
        layer.update(streaming_metrics(side.progress, len(traced_ids)))
        layer["fixtures.built"] = float(len(changed))
        traced_walls = [p["wall_s"] for p in passes if p["traced"]]
        layer["trace.overhead_share"] = (
            statistics.median(traced_walls) / statistics.median(untraced_walls) - 1.0
            if traced_walls and untraced_walls
            else 0.0
        )
        out["layer_metrics"] = {k: layer.get(k, 0.0) for k in PER_LAYER}
        out["spans"] = tracer.spans
    return out


if __name__ == "__main__":
    config = json.loads(sys.argv[1])
    result = main(config)
    tmp = config["out"] + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(result, fh)
    os.replace(tmp, config["out"])
    # Skip interpreter shutdown: it can wait on the Py4J callback
    # server's threads; run.py reaps the whole process group anyway.
    sys.stdout.flush()
    os._exit(0)
