"""Self-test of the benchmark's own logic; needs no Spark session.

    python3 perfbench/selftest.py

Checks that a corrupted result row is counted as a failed execution,
that BENCHMARK.json lists exactly the metrics and workloads the code
reports, that SQL-metric strings parse, that span self times account
for an execution's wall, and that compare mode reaches each verdict.
Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [BENCH, os.path.join(os.path.dirname(BENCH), "tests"), os.path.dirname(BENCH)]

import pandas as pd  # noqa: E402

import compare  # noqa: E402
import oracle  # noqa: E402
import tracing  # noqa: E402
from run import END_TO_END  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok  {what}")


def test_corrupted_row_is_failed() -> None:
    expected = pd.DataFrame(
        {
            "k": [1, 2, 3],
            "x": [0.1, 0.2, 0.30000000000000004],
            "s": ["a", "b", "c"],
            "t": pd.to_datetime(["2024-01-01", "2024-01-02", "2024-01-03"]),
        }
    )
    same = expected.iloc[::-1].reset_index(drop=True)
    ulp = expected.copy()
    ulp.loc[2, "x"] = 0.3
    text = expected.copy()
    text.loc[0, "s"] = "z"
    dropped = expected.iloc[:2]
    runs = [(same, None), (ulp, None), (text, None), (dropped, None), (None, "ValueError: boom")]
    executions = [{"id": i, "query": "q"} for i in range(len(runs))]
    failures = oracle.check_all(executions, dict(enumerate(runs)), {"q": expected})
    check(executions[0]["ok"], "a reordered but equal result passes")
    check(sorted(failures) == [1, 2, 3, 4], "a 1-ulp float, a changed cell, a dropped row and an exception each fail")


def test_benchmark_json_matches_code() -> None:
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    check({w["name"] for w in spec["workloads"]} == set(WORKLOADS), "BENCHMARK.json lists every workload")
    check({m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END, "end-to-end metrics and units agree")
    check(
        {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]} == tracing.PER_LAYER,
        "per-layer metrics, units and directions agree",
    )


def test_metric_strings_parse() -> None:
    cases = {
        "941 ms": 0.941,
        "1.9 s": 1.9,
        "78.3 KiB": 78.3 * 1024,
        "10,000": 10000.0,
        "total (min, med, max (stageId: taskId))\n2.5 s (100 ms, 1.0 s, 1.4 s (stage 3.0: task 7))": 2.5,
    }
    check(all(abs(tracing.parse_metric(k) - v) < 1e-9 for k, v in cases.items()), "SQL metric strings parse")


def test_self_times_account_for_wall() -> None:
    # exec [0, 10] > build [0, 6] > catalog [1, 2] and operators [3, 5]; action [6.5, 10]
    spans = [
        [0, "exec", 0.0, 10.0, None, 7],
        [1, "queries.build", 0.0, 6.0, 0, 7],
        [2, "catalog.load_table", 1.0, 2.0, 1, 7],
        [3, "operators.etl.prepare_datasets", 3.0, 5.0, 1, 7],
        [4, "action.collect", 6.5, 10.0, 0, 7],
    ]
    selfs = tracing.self_times(spans)
    check(selfs == {0: 0.5, 1: 3.0, 2: 1.0, 3: 2.0, 4: 3.5}, "self times subtract child spans")
    tracer = tracing.Tracer()
    tracer.spans = spans
    m = tracing.layer_metrics(tracer, {}, 1)
    check(m["trace.accounted_share"] == 1.0 and m["trace.gap_s"] == 0.5, "self times plus the gap add up to the wall")
    check(abs(m["queries.build_share"] - 0.6) < 1e-12, "build share is build wall over execution wall")


def test_compare_verdicts() -> None:
    bound = {"name": "pass_s", "unit": "s", "better": "lower", "bound": 0.1}
    parent = [10.0, 10.1, 9.9, 10.05, 9.95, 10.0, 10.02, 9.98, 10.03, 9.97]
    cases = {
        "improved": [v * 0.8 for v in parent],
        "no worse": [v * 1.05 for v in parent],
        "worse": [v * 1.3 for v in parent],
        "unresolved": [5.0, 15.0] * 5,
    }
    for verdict, change in cases.items():
        got = compare.verdict(bound, parent, change, 0, 0)["verdict"]
        check(got == verdict, f"compare says {verdict} ({got})")
    got = compare.verdict(bound, parent, cases["improved"], 0, 3)["verdict"]
    check(got == "no worse", "no gain is claimed when more executions fail")


if __name__ == "__main__":
    test_corrupted_row_is_failed()
    test_benchmark_json_matches_code()
    test_metric_strings_parse()
    test_self_times_account_for_wall()
    test_compare_verdicts()
    print("selftest passed")
