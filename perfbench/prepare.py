"""Untimed preparation of a checkout, run once before its first measured run.

    python3 perfbench/prepare.py

1. Generate the input tables (``datagen``) under ``.work/data``.
2. Run every workload query's DuckDB oracle and cache the results.
3. Run every workload query once in a throwaway session, so the
   package builds its ``.scratch/`` fixtures here and no measured run
   is charged for them.
4. Write the ``prepared.json`` marker with the fingerprint of the
   benchmark files that decide the data and the query set.
"""

from __future__ import annotations

import json
import os
import sys

import datagen
import oracle
from layout import DATA, PREPARED, fingerprint
from workloads import SCALE, all_queries


def main() -> int:
    from high_energy_gamma_ray_search_in_kascade_array_data_spark import get_spark
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.registry import corpus

    datagen.write(DATA, SCALE)
    queries = corpus()
    names = all_queries()
    oracle.build(DATA, {q: queries[q].oracle for q in names})
    expected = oracle.load(names)
    spark = get_spark()
    bad = {}
    for q in names:
        try:
            got, error = queries[q].fn(spark, DATA).toPandas(), None
        except Exception as e:  # noqa: BLE001 - reported below, measured runs count it
            got, error = None, f"{type(e).__name__}: {e}"
        problems = oracle.problems(expected[q], got, error)
        if problems:
            bad[q] = problems[0][:500]
    spark.stop()
    for q, p in bad.items():
        print(f"prepare: {q} does not match its oracle: {p}", file=sys.stderr)
    tmp = PREPARED + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"fingerprint": fingerprint(), "queries": names, "mismatched": bad}, fh)
    os.replace(tmp, PREPARED)
    return 0


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    os._exit(code)
