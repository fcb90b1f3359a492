"""End-to-end pipelines mirroring the reference's three entry points
(SURVEY §3) as single lazy DataFrame DAGs, and the one implementation
of each step of its chain that the flagship queries compose.

  * :func:`prepare_datasets`  — entry point 3.1
    (``create_train_valid_test_datasets.py:113-164``): stratified
    split → train-only rotation augmentation (sample-then-rotate) →
    direction-cosine features → partitioned persistence.
  * :func:`analysis_pipeline` — the analytical spine of entry points
    3.2/3.3 (``train_classification.py:264-312``,
    ``evaluate_classification.py:94-134``): (stand-in) model score →
    band filter → survival curve.

Where the reference materializes eagerly after every step, each
pipeline here is ONE logical plan: Catalyst fuses the projections,
pushes the band filter below everything filter-commutable, and the
only event-scale shuffles are the split window and the final
histogram aggregate. A filter on a window output cannot move below
the window, so the rotations are one ``explode`` above the single split
``Window``, not a union of filtered branches that each re-read,
re-sort and re-rank the input.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from high_energy_gamma_ray_search_in_kascade_array_data_spark.functions import physics
from high_energy_gamma_ray_search_in_kascade_array_data_spark.operators.survival import survival_curve


def band_cut(e_band: tuple[float, float] = (15.0, 16.0)) -> Column:
    """The analysis band: zenith ∈ [0, 30)° and lg_e ∈ ``e_band``. The
    training analysis uses lg_e ∈ [15,16) and the held-out evaluation
    lg_e ∈ [14,15) (`train_classification.py:289` vs
    `evaluate_classification.py:111`) — same plan, different band."""
    return (
        (F.col("ze") >= 0) & (F.col("ze") < 30) & (F.col("lg_e") >= e_band[0]) & (F.col("lg_e") < e_band[1])
    )


def stratified_split_assign(df: DataFrame, rnd: F.Column) -> DataFrame:
    """Exact stratified split assignment (X1): percent_rank over the
    seeded draw ``rnd`` within each class, ties broken by ``event_id``,
    projected once (so the ``Window`` computes it once) as ``split``,
    then bucketed at 0.6/0.8 in place."""
    w = Window.partitionBy("label").orderBy(rnd.asc(), F.col("event_id").asc())
    pr = F.col("split")
    return df.withColumn("split", F.percent_rank().over(w)).withColumn(
        "split", F.when(pr < 0.6, F.lit("train")).when(pr < 0.8, F.lit("valid")).otherwise(F.lit("test"))
    )


def rotate_shower(k: int) -> dict[str, Column]:
    """Azimuth and shower core after k 90° grid rotations."""
    cx, cy = physics.rotate_core(F.col("core_x"), F.col("core_y"), k)
    return {"az": physics.rotate_azimuth(F.col("az"), k), "core_x": cx, "core_y": cy}


def expand_rotations(
    df: DataFrame,
    rotate: Callable[[int], dict[str, Column]],
    keep: Callable[[int], Column] | None = None,
) -> DataFrame:
    """90° rotation expansion (T2 + T4, and X2 with ``keep``) as one
    ``Generate``: each row keeps k=0 and yields every k ∈ {1, 2, 3}
    that ``keep(k)`` admits (all of them without ``keep``), in the
    ``k`` column it adds; the columns ``rotate(k)`` names are then
    rewritten in closed form under one ``CASE`` on k."""
    k = F.col("k")
    ks = (1, 2, 3)
    kept = [F.lit(j) if keep is None else F.when(keep(j), F.lit(j)) for j in ks]
    out = df.withColumn("k", F.explode(F.array(F.lit(0), *kept))).filter(k.isNotNull())
    cases = None
    for j in ks:
        rotated = rotate(j)
        cases = cases or dict.fromkeys(rotated, F)  # F.when opens a CASE, Column.when extends it
        cases = {c: cases[c].when(k == j, r) for c, r in rotated.items()}
    return out.withColumns({c: case.otherwise(F.col(c)) for c, case in cases.items()})


def add_direction_features(df: DataFrame) -> DataFrame:
    """Direction cosines (F2/T3) appended as columns."""
    dx, dy, dz = physics.direction_cosines(F.col("ze"), F.col("az"))
    return df.withColumns({"dir_x": dx, "dir_y": dy, "dir_z": dz})


def prepare_datasets(
    shower: DataFrame,
    rnd: F.Column,
    aug_draw: F.Column,
    augment_fraction: float = 0.3,
) -> DataFrame:
    """Entry point 3.1 as one DAG: one split ``Window``, then one
    rotation ``Generate`` that augments train rows only: rotation k of
    a train row is kept when the deterministic
    ``(aug_draw + 0.1·k) % 1 < augment_fraction``. ``rnd`` drives
    the split and ``aug_draw`` the augmentation sampling — they MUST be
    independent draws: the split conditions train membership on rnd
    (train = the lowest fractions), so reusing it for sampling would
    skew every rotation's effective rate (the reference seeds
    independent draws, ``create_train_valid_test_datasets.py:78-80``).
    Tests use two different integer hashes so the DuckDB oracle replays
    both."""
    split = stratified_split_assign(shower, rnd)
    train = F.col("split") == "train"
    augmented = expand_rotations(
        split, rotate_shower, keep=lambda j: train & ((aug_draw + F.lit(j) * 0.1) % 1 < augment_fraction)
    )
    return add_direction_features(augmented)


# The stand-in model of the analysis chain, σ(b + w·x) over four shower
# observables. pandas_udf_inference scores the same model through an
# Arrow UDF. Each keeps its own summation order: its oracle, and here
# the histogram's bin edges, depend on it.
SCORE_WEIGHTS = {"lg_e": 0.8, "ze": -0.05, "p": 1.5, "core_x": 0.02}
SCORE_BIAS = -12.0
# the SQL twin of analysis_pipeline's logit, bias first
SCORE_LOGIT_SQL = f"{SCORE_BIAS}" + "".join(f" {'-' if w < 0 else '+'} {abs(w)}*{c}" for c, w in SCORE_WEIGHTS.items())


def analysis_pipeline(shower: DataFrame, e_band: tuple[float, float] = (15.0, 16.0)) -> DataFrame:
    """Entry points 3.2/3.3 analytical spine as one DAG over one scan:

    stand-in model score → energy/zenith band filter → survival curve.
    Standardization is its own step (``scaler_fit`` / ``scaler_apply``);
    the stand-in score reads the raw features, so none is fitted here.
    """
    z = F.lit(SCORE_BIAS)
    for c, w in SCORE_WEIGHTS.items():
        z = z + F.col(c) * w
    scored = shower.withColumn("score", F.lit(1.0) / (F.lit(1.0) + F.exp(-z)))
    curve = survival_curve(scored.filter(band_cut(e_band)), label_col="label", prob_col="score", nbins=100)
    return curve.drop("bin_count")
