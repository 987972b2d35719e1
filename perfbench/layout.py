"""Where the benchmark reads and writes inside the checkout.

Everything the benchmark creates lives under ``perfbench/.work`` (data,
cached oracle results, temp dirs) and ``perfbench/runs`` (one record
per run), apart from the package's own ``.scratch/`` fixtures.
"""

from __future__ import annotations

import hashlib
import json
import os

from workloads import SCALE

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PACKAGE = "high_energy_gamma_ray_search_in_kascade_array_data_spark"
PACKAGE_DIR = os.path.join(ROOT, PACKAGE)
ORACLE_UTILS = os.path.join(ROOT, "tests", "oracle_utils.py")
SCRATCH = os.path.join(ROOT, ".scratch")
WORK = os.path.join(BENCH, ".work")
# The package keys its .scratch fixtures by the data directory's base
# name, so the generated data gets a name no other data set uses.
DATA = os.path.join(WORK, "data", f"sf{SCALE}-gen")
ORACLE = os.path.join(WORK, "oracle")
TMP = os.path.join(WORK, "tmp")
PREPARED = os.path.join(WORK, "prepared.json")
RUNS = os.path.join(BENCH, "runs")


def missing_sources() -> list[str]:
    """Parts of the checkout the benchmark needs and cannot build."""
    return [p for p in (PACKAGE_DIR, ORACLE_UTILS) if not os.path.exists(p)]


def child_env() -> dict[str, str]:
    """Environment for the Spark processes: the package's own session
    factory on every core, with Spark, the JVM and Python temp files
    kept inside the checkout."""
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = os.path.join(TMP, "spark-local")
    env["TMPDIR"] = TMP
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={TMP}"
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.path.join(ROOT, "tests"), env.get("PYTHONPATH")) if p
    )
    return env


# Files whose content decides the prepared data, oracles and fixtures.
FINGERPRINT_FILES = ("datagen.py", "workloads.py", "oracle.py", "prepare.py")


def fingerprint() -> str:
    h = hashlib.sha256()
    for name in FINGERPRINT_FILES:
        with open(os.path.join(BENCH, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def is_prepared() -> bool:
    try:
        with open(PREPARED) as fh:
            return json.load(fh).get("fingerprint") == fingerprint()
    except (OSError, ValueError):
        return False
