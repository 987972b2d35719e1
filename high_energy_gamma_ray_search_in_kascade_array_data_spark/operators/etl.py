"""End-to-end pipelines mirroring the reference's three entry points
(SURVEY §3) as single lazy DataFrame DAGs.

  * :func:`prepare_datasets`  — entry point 3.1
    (``create_train_valid_test_datasets.py:113-164``): stratified
    split → train-only rotation augmentation (sample-then-rotate) →
    direction-cosine features → partitioned persistence.
  * :func:`analysis_pipeline` — the analytical spine of entry points
    3.2/3.3 (``train_classification.py:264-312``,
    ``evaluate_classification.py:94-134``): scaler fit on train /
    apply everywhere → (stand-in) model score → band filter →
    survival curve.

Where the reference materializes eagerly after every step, each
pipeline here is ONE logical plan: Catalyst fuses the projections,
pushes the band filter below everything filter-commutable, and the
only event-scale shuffles are the split window and the final
histogram aggregate.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from high_energy_gamma_ray_search_in_kascade_array_data_spark.functions import physics
from high_energy_gamma_ray_search_in_kascade_array_data_spark.operators.survival import survival_curve


def stratified_split_assign(
    df: DataFrame,
    label_col: str = "label",
    rnd: F.Column | None = None,
    fractions: tuple[float, float] = (0.6, 0.8),
) -> DataFrame:
    """Exact stratified split assignment (X1): percent_rank over a
    seeded draw within each class, bucketed at the cumulative
    fractions."""
    if rnd is None:
        rnd = F.rand(42)
    w = Window.partitionBy(label_col).orderBy(rnd.asc(), F.col("event_id").asc())
    pr = F.percent_rank().over(w)
    return df.withColumn(
        "split",
        F.when(pr < fractions[0], F.lit("train"))
        .when(pr < fractions[1], F.lit("valid"))
        .otherwise(F.lit("test")),
    )


def explode_rotations(
    df: DataFrame, admits: Callable[[F.Column], F.Column], k_values: tuple[int, ...] = (1, 2, 3)
) -> DataFrame:
    """One row per rotation index the row admits, in a new int column
    ``k``: always 0, plus each k of ``k_values`` for which
    ``admits(k)`` holds (``k`` arrives as an integer lambda variable).
    Every copy comes from one pass over ``df`` — a union of per-k
    branches would re-run ``df``'s whole plan once per branch."""
    ks = F.filter(F.array(*[F.lit(k) for k in (0, *k_values)]), lambda k: (k == 0) | admits(k))
    return df.withColumn("k", F.explode(ks))


def case_on_k(per_k: dict[int, F.Column], default: F.Column) -> F.Column:
    """``CASE k WHEN k1 THEN per_k[k1] ... ELSE default END``."""
    k = F.col("k")
    out = None
    for kv, value in per_k.items():
        out = F.when(k == kv, value) if out is None else out.when(k == kv, value)
    return out.otherwise(default)


def augment_rotations(
    df: DataFrame,
    eligible: F.Column,
    fraction: float,
    draw: F.Column,
    k_values: tuple[int, ...] = (1, 2, 3),
) -> DataFrame:
    """Sample-then-rotate augmentation (X2 + T2 + T4): every row stays
    as k=0; per rotation k, ~fraction of the ``eligible`` rows whose
    deterministic ``draw`` passes also appear with azimuth/core rotated
    in closed form. Returns the rows with a ``k`` provenance column."""
    out = explode_rotations(df, lambda k: eligible & ((draw + k * 0.1) % 1 < fraction), k_values)
    rotated = {
        k: (physics.rotate_azimuth(F.col("az"), k),)
        + physics.rotate_core(F.col("core_x"), F.col("core_y"), k)
        for k in k_values
    }
    for i, c in enumerate(("az", "core_x", "core_y")):
        out = out.withColumn(c, case_on_k({k: r[i] for k, r in rotated.items()}, F.col(c)))
    return out


def add_direction_features(df: DataFrame) -> DataFrame:
    """Direction cosines (F2/T3) appended as columns."""
    dx, dy, dz = physics.direction_cosines(F.col("ze"), F.col("az"))
    return df.withColumn("dir_x", dx).withColumn("dir_y", dy).withColumn("dir_z", dz)


def prepare_datasets(
    shower: DataFrame,
    rnd: F.Column,
    aug_draw: F.Column,
    augment_fraction: float = 0.3,
) -> DataFrame:
    """Entry point 3.1 as one DAG. ``rnd`` drives the split and
    ``aug_draw`` the augmentation sampling — they MUST be independent
    draws: the split conditions train membership on rnd (train = the
    lowest fractions), so reusing it for sampling would skew every
    rotation's effective rate (the reference seeds independent draws,
    ``create_train_valid_test_datasets.py:78-80``). Tests use two
    different integer hashes so the DuckDB oracle replays both."""
    split = stratified_split_assign(shower, rnd=rnd)
    train = F.col("split") == "train"
    return add_direction_features(augment_rotations(split, train, augment_fraction, aug_draw))


def analysis_pipeline(
    shower: DataFrame,
    score_weights: tuple[float, ...] = (0.8, -0.05, 1.5, 0.02),
    score_bias: float = -12.0,
    nbins: int = 100,
    e_band: tuple[float, float] = (15.0, 16.0),
) -> DataFrame:
    """Entry points 3.2/3.3 analytical spine as one DAG:

    scaler fit on the train subset (broadcast 1-row params) → apply →
    stand-in model score → energy/zenith band filter → survival curve.
    """
    train = shower.filter(F.col("split") == "train") if "split" in shower.columns else shower
    params = train.agg(
        F.avg("lg_e").alias("mu_e"),
        F.stddev_pop("lg_e").alias("sd_e"),
        F.min("p").alias("p_lo"),
        F.max("p").alias("p_hi"),
    )
    scaled = shower.crossJoin(F.broadcast(params)).withColumn(
        "lg_e_std", physics.standardize(F.col("lg_e"), F.col("mu_e"), F.col("sd_e"))
    )
    w = score_weights
    z = (
        F.lit(score_bias)
        + F.col("lg_e") * w[0]
        + F.col("ze") * w[1]
        + F.col("p") * w[2]
        + F.col("core_x") * w[3]
    )
    scored = scaled.withColumn("score", F.lit(1.0) / (F.lit(1.0) + F.exp(-z)))
    # the training analysis uses lg_e ∈ [15,16) and the held-out
    # evaluation lg_e ∈ [14,15) (`train_classification.py:289` vs
    # `evaluate_classification.py:111`) — same plan, different band
    band = scored.filter(
        (F.col("ze") >= 0)
        & (F.col("ze") < 30)
        & (F.col("lg_e") >= e_band[0])
        & (F.col("lg_e") < e_band[1])
    )
    return survival_curve(band, label_col="label", prob_col="score", nbins=nbins)
