"""Compare two sets of run records: a parent commit and a change.

    python3 perfbench/compare.py PARENT_RUNS_DIR CHANGE_RUNS_DIR

Reads the untraced run records (``perfbench/runs/*.json``) of each side
and prints, for every workload and end-to-end metric of BENCHMARK.json:
both sides' median and quartiles, the pair wins of the change (pairs
matched by seed, else by run order), a verdict against the metric's own
bound, and both sides' share of failed executions.

Verdicts:
  * improved: the change wins at least 9/10 of the pairs (ties count
    for neither), its median differs from the parent's by more than
    the parent's quartile spread, and no more executions failed;
  * unresolved: either side's quartile spread, as a share of its
    median, is wider than the bound, and not every change run is
    better than every parent run;
  * worse: the change's median is worse than the parent's by more
    than the bound;
  * no worse: otherwise.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def load_runs(directory: str) -> dict[str, list[dict]]:
    """Untraced run records by workload, oldest first."""
    runs: dict[str, list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        if path.endswith(".spans.json"):
            continue
        with open(path) as fh:
            rec = json.load(fh)
        if rec.get("trace") == 0:
            runs.setdefault(rec["workload"], []).append(rec)
    return runs


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def pairs(parent: list[dict], change: list[dict], metric: str) -> list[tuple[float, float]]:
    by_seed = {r["context"]["seed"]: r for r in parent}
    matched = [(by_seed[r["context"]["seed"]], r) for r in change if r["context"]["seed"] in by_seed]
    if not matched:
        matched = list(zip(parent, change))
    return [(p["metrics"][metric], c["metrics"][metric]) for p, c in matched]


def verdict(spec: dict, parent: list[float], change: list[float], parent_failed: int, change_failed: int,
            paired: list[tuple[float, float]] | None = None) -> dict:
    """Verdict of one metric on one workload (see the module docstring)."""
    lower = spec["better"] == "lower"
    better = (lambda c, p: c < p) if lower else (lambda c, p: c > p)
    paired = paired if paired is not None else list(zip(parent, change))
    wins = sum(1 for p, c in paired if better(c, p))
    pq, cq = quartiles(parent), quartiles(change)
    spread = max((pq[2] - pq[0]) / pq[1], (cq[2] - cq[0]) / cq[1])
    worse_by = (cq[1] - pq[1]) / pq[1] * (1 if lower else -1)
    all_better = all(better(c, p) for c in change for p in parent)
    if (
        paired
        and wins >= 0.9 * len(paired)
        and abs(cq[1] - pq[1]) > pq[2] - pq[0]
        and change_failed <= parent_failed
    ):
        result = "improved"
    elif spread > spec["bound"] and not all_better:
        result = "unresolved"
    elif worse_by > spec["bound"]:
        result = "worse"
    else:
        result = "no worse"
    return {"verdict": result, "parent": pq, "change": cq, "wins": wins, "pairs": len(paired), "spread": spread}


def failed_share(runs: list[dict]) -> str:
    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    return f"{failed}/{attempted}" + (f" = {failed / attempted:.4f}" if attempted else "")


def main(parent_dir: str, change_dir: str) -> int:
    with open(BENCHMARK_JSON) as fh:
        spec = json.load(fh)
    parent_runs, change_runs = load_runs(parent_dir), load_runs(change_dir)
    for w in spec["workloads"]:
        name = w["name"]
        p_runs, c_runs = parent_runs.get(name, []), change_runs.get(name, [])
        print(f"== {name}: {len(p_runs)} parent runs, {len(c_runs)} change runs")
        if not p_runs or not c_runs:
            print("   missing runs on one side; nothing to compare")
            continue
        print(f"   failed_share  parent {failed_share(p_runs)}  change {failed_share(c_runs)}")
        p_failed = sum(r["failed"] for r in p_runs)
        c_failed = sum(r["failed"] for r in c_runs)
        for m in spec["end_to_end"]:
            key = m["name"]
            v = verdict(
                m,
                [r["metrics"][key] for r in p_runs],
                [r["metrics"][key] for r in c_runs],
                p_failed,
                c_failed,
                pairs(p_runs, c_runs, key),
            )
            fmt = lambda q: f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"  # noqa: E731
            print(
                f"   {key:14s} {m['unit']:>4s}  parent {fmt(v['parent'])}  change {fmt(v['change'])}"
                f"  wins {v['wins']}/{v['pairs']}  bound {m['bound']}  -> {v['verdict']}"
            )
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
