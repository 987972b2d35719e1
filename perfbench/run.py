"""Benchmark entry point: one measured run of one workload.

    python3 perfbench/run.py --workload paper_path --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout. On the first call in a checkout it
prepares the checkout (input tables, cached oracle results, the
package's ``.scratch/`` fixtures; see ``prepare.py``), outside every
measurement. It then starts ``measure.py`` in a fresh process group,
samples the group's resident memory (PSS) from ``/proc`` in a traced run
(reading PSS walks the JVM's page tables, so untraced runs skip it),
reaps every process of the group, writes one record per run under ``perfbench/runs/`` and
prints, as its last line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.

The seed fixes the query order of every pass (clients take the next
query in that order as they become free); the data is the same for
every seed. Seed, host load, a
CPU spin sample, ``nproc`` and the source revision are recorded as
context only and never used to normalise a metric.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from layout import BENCH, PREPARED, ROOT, RUNS, TMP, child_env, is_prepared, missing_sources  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "query_p50_s": "s",
    "query_p90_s": "s",
    "queries_per_s": "1/s",
}
PREPARE_TIMEOUT_S = 700
MEASURE_TIMEOUT_S = 165


def group_pids(pgid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid:
            pids.append(int(entry))
    return pids


def group_pss_bytes(pgid: int) -> dict[str, int]:
    """Proportional set size of the group's processes, summed by command
    name. PSS splits shared pages between the processes sharing them,
    so a short-lived fork of the JVM (Hadoop forks ``chmod``) is not
    counted as a second copy of the JVM's memory."""
    by_name: dict[str, int] = {}
    for pid in group_pids(pgid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                pss = next(int(line.split()[1]) * 1024 for line in fh if line.startswith("Pss:"))
            with open(f"/proc/{pid}/comm") as fh:
                name = fh.read().strip()
        except (OSError, StopIteration):
            continue
        by_name[name] = by_name.get(name, 0) + pss
    return by_name


def reap_group(proc: subprocess.Popen) -> None:
    """Stop every process of the child's group and wait until all ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            pass
        deadline = time.time() + 10
        while group_pids(proc.pid) and time.time() < deadline:
            if proc.poll() is None:
                time.sleep(0.1)
            else:
                time.sleep(0.05)
        if not group_pids(proc.pid):
            break
    proc.wait()


def run_group(cmd: list[str], log_path: str, timeout: float, sample_memory: bool = False) -> tuple[int, list]:
    """Run ``cmd`` in its own process group; return its exit code and,
    with ``sample_memory``, (seconds since start, PSS bytes by command
    name) samples of the group, one every 0.25 s. Kills the group on
    timeout."""
    samples: list = []
    with open(log_path, "ab") as log:
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=child_env(), stdout=log, stderr=subprocess.STDOUT, start_new_session=True
        )
        stop = threading.Event()

        t0 = time.time()

        def sample():
            while not stop.wait(0.25):
                samples.append((round(time.time() - t0, 2), group_pss_bytes(proc.pid)))

        sampler = threading.Thread(target=sample, daemon=True)
        if sample_memory:
            sampler.start()
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            code = -1
        finally:
            stop.set()
            if sample_memory:
                sampler.join()
            reap_group(proc)
    return code, samples


def spin_sample(seconds: float = 0.2) -> int:
    """Loop iterations in a fixed interval: host speed, context only."""
    n, end = 0, time.perf_counter() + seconds
    while time.perf_counter() < end:
        n += 1
    return n


def loadavg() -> list[str]:
    with open("/proc/loadavg") as fh:
        return fh.read().split()[:3]


def source_revision() -> str | None:
    """The checkout's git HEAD, read from its own .git if it has one."""
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as fh:
                return fh.read().strip()
        return ref
    except OSError:
        return None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    missing = missing_sources()
    if missing:
        print(f"perfbench: not a checkout of the package, missing: {missing}", file=sys.stderr)
        return 2

    shutil.rmtree(TMP, ignore_errors=True)
    os.makedirs(TMP)
    os.makedirs(RUNS, exist_ok=True)
    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S.%fZ")
    base = os.path.join(RUNS, f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}")

    if not is_prepared():
        code, _ = run_group([sys.executable, os.path.join(BENCH, "prepare.py")], base + ".log", PREPARE_TIMEOUT_S)
        if code != 0 or not is_prepared():
            print(f"perfbench: preparation failed (exit {code}), see {base}.log", file=sys.stderr)
            return 1

    context = {
        "seed": args.seed,
        "source_revision": source_revision(),
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": loadavg(),
        "spin_loops_per_0.2s": spin_sample(),
        "utc": stamp,
    }
    config = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "out": base + ".result.json",
        "spawned_at": time.time(),
    }
    code, memory = run_group(
        [sys.executable, os.path.join(BENCH, "measure.py"), json.dumps(config)],
        base + ".log",
        MEASURE_TIMEOUT_S,
        sample_memory=bool(args.trace),
    )
    shutil.rmtree(TMP, ignore_errors=True)
    if code != 0 or not os.path.exists(config["out"]):
        print(f"perfbench: measured run failed (exit {code}), see {base}.log", file=sys.stderr)
        return 1
    with open(config["out"]) as fh:
        result = json.load(fh)
    os.remove(config["out"])
    if args.trace:
        peak_mb = max((sum(s.values()) for _, s in memory), default=0) / 2**20
        result["peak_rss_mb"] = peak_mb
        result["memory_samples"] = memory
        result["layer_metrics"]["memory.peak_rss_mb"] = peak_mb

    spans = result.pop("spans", None)
    if spans is not None:
        with open(base + ".spans.json", "w") as fh:
            json.dump(spans, fh)
    attempted, failed = result["attempted"], result["failed"]
    with open(PREPARED) as fh:
        prepared = json.load(fh)
    record = {
        "workload": args.workload,
        "seconds": args.seconds,
        "trace": args.trace,
        "context": context,
        "prepared": prepared,
        "failed_share": failed / attempted if attempted else 1.0,
        **result,
    }
    with open(base + ".json", "w") as fh:
        json.dump(record, fh, indent=1)

    if args.trace:
        from tracing import PER_LAYER

        shown = {k: {"value": v, "unit": PER_LAYER[k][0]} for k, v in result["layer_metrics"].items()}
    else:
        shown = {k: {"value": result["metrics"][k], "unit": u} for k, u in END_TO_END.items()}
    lat = [e["latency_s"] for e in result["executions"] if e["phase"] == "timed"]
    print(
        f"perfbench: {args.workload} seed={args.seed} executions={attempted} "
        f"median latency={statistics.median(lat):.3f}s record={base}.json",
        file=sys.stderr,
    )
    print(json.dumps({"correct": result["correct"], "attempted": attempted, "failed": failed, "metrics": shown}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
