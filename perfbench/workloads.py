"""The benchmark's workloads: which corpus queries run, on how many clients.

Every workload runs closed-loop (a client sends its next query only after
the previous one returned) against one shared SparkSession, on the
generated tables at ``SCALE``. Each one puts most of its time into a
different layer of the package, so a change to one layer moves one
workload and leaves the others as a control.
"""

from __future__ import annotations

import random
from collections.abc import Iterator
from dataclasses import dataclass

# Scale of the generated star schema (lineitem = 6M * SCALE rows). The
# query lists below are sized so a run (fresh JVM, cold pass, warm-up
# and 20 s of timed passes) takes 55-60 s on 4 cores.
SCALE = 0.01



@dataclass(frozen=True)
class Workload:
    name: str
    clients: int  # 0 = one client per core
    # Passes run after the cold pass and before the timed phase. The JIT
    # keeps shortening passes for a while (4 cores, 4 clients: paper
    # path 3.3 -> 2.9 -> 2.7 -> 2.6 -> 2.1 s, relational 4.2 -> 3.7 ->
    # 3.9 -> 3.4 -> 3.1 s); a timed phase that starts inside that slope
    # reads however far each run's JIT has got.
    warmup_passes: int
    queries: tuple[str, ...]
    why: str


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "paper_path",
            0,
            4,
            (
                "etl_prepare_datasets",
                "augment_rotations",
                "cnn_artifact_inference",
                "cnn_pipeline_survival",
                "survival_curve",
                "pandas_udf_inference",
                "stream_survival_curve",
            ),
            "one client per core runs the paper's KASCADE chain (ETL, CNN_B scoring, "
            "survival curve, also as a stream): execution and the pandas-UDF seam, little shuffle",
        ),
        Workload(
            "relational_concurrent",
            0,
            4,
            (
                "q1_pricing_summary",
                "q3_shipping_priority",
                "q5_local_supplier_volume",
                "q7_volume_shipping",
                "q10_returned_items",
                "q18_large_volume",
                "q21_waiting_suppliers",
                "dynamic_partition_pruning_join",
                "runtime_bloom_filter_join",
                "aqe_skew_join_split",
            ),
            "one client per core on a shared session: JVM shuffles and joins, "
            "multi-table catalog lookups, no Python seam",
        ),
    )
}


def all_queries() -> list[str]:
    return sorted({q for w in WORKLOADS.values() for q in w.queries})


def pass_plan(workload: Workload, seed: int) -> Iterator[list[str]]:
    """Endless sequence of passes, each every query of the workload once,
    in an order the seed fixes. Within a pass the clients take the next
    query from this order as each becomes free."""
    rng = random.Random(seed)
    while True:
        order = list(workload.queries)
        rng.shuffle(order)
        yield order
