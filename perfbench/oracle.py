"""Expected results from the repository's DuckDB oracles, cached per checkout.

The oracle SQL of each query runs once, in the preparation step, through
``tests/oracle_utils.duckdb_con``; the result frame is stored as parquet
under ``.work/oracle`` and read back before the measured session starts.
Every execution is then compared with ``exact_hash_problems``: exact,
order-insensitive, sensitive to one-ulp float differences.
"""

from __future__ import annotations

import os

import pandas as pd
from oracle_utils import duckdb_con, exact_hash_problems

from layout import ORACLE


def _path(name: str) -> str:
    return os.path.join(ORACLE, f"{name}.parquet")


def build(sf_dir: str, queries: dict[str, str]) -> None:
    """Run each oracle SQL on ``sf_dir`` and store its result. Raises if a
    stored result does not read back exactly as DuckDB returned it."""
    os.makedirs(ORACLE, exist_ok=True)
    con = duckdb_con(sf_dir)
    for name, sql in queries.items():
        expected = con.execute(sql).fetchdf()
        tmp = _path(name) + ".tmp"
        expected.to_parquet(tmp, index=False)
        problems = exact_hash_problems(pd.read_parquet(tmp), expected)
        if problems:
            raise RuntimeError(f"oracle result of {name} does not round-trip: {problems[0]}")
        os.replace(tmp, _path(name))
    con.close()


def load(names) -> dict[str, pd.DataFrame]:
    return {n: pd.read_parquet(_path(n)) for n in names}


def problems(expected: pd.DataFrame, got: pd.DataFrame | None, error: str | None) -> list[str]:
    """Why one execution failed (empty list = it matched its oracle)."""
    if error is not None:
        return [f"raised: {error}"]
    return exact_hash_problems(got, expected)


def check_all(executions: list[dict], results: dict, expected: dict) -> dict[int, str]:
    """Mark every execution record ``ok`` or not and return the first
    problem of each failed one, by execution id."""
    failures = {}
    for rec in executions:
        got, error = results[rec["id"]]
        found = problems(expected[rec["query"]], got, error)
        rec["ok"] = not found
        if found:
            failures[rec["id"]] = found[0][:2000]
    return failures
