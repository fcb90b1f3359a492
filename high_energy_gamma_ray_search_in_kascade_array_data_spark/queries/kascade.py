"""KASCADE physics operator corpus (SURVEY §2.2–2.6, §2.12 data prep).

Each query re-expresses one reference operation as a lazy DataFrame
plan over the deterministic shower/grid derivations in ``common.py``,
with a DuckDB oracle twin. Reference citations inline per query.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from high_energy_gamma_ray_search_in_kascade_array_data_spark.functions import physics
from high_energy_gamma_ray_search_in_kascade_array_data_spark.operators.survival import histogram, survival_curve
from high_energy_gamma_ray_search_in_kascade_array_data_spark.queries.common import (
    GRID_CTE,
    RND_SQL,
    SHOWER_CTE,
    detector_grid,
    rnd_col,
    shower_frame,
)
from high_energy_gamma_ray_search_in_kascade_array_data_spark.registry import register
from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import load_table, spread_scan


# ---------------------------------------------------------------- flagship
@register(
    "survival_curve",
    survey_ref="P3,P4,A5,A6,A9",
    oracle=f"""
WITH {SHOWER_CTE},
band AS (
  SELECT label, p FROM shower
  WHERE ze >= 0 AND ze < 30 AND lg_e >= 15 AND lg_e < 16
),
binned AS (
  SELECT label,
         CAST(LEAST(CAST(FLOOR(p / 0.01) AS BIGINT), 99) AS INTEGER) AS bin,
         CAST(COUNT(*) AS BIGINT) AS bin_count
  FROM band GROUP BY 1, 2
)
SELECT label, bin, bin_count,
       CAST(SUM(bin_count) OVER (PARTITION BY label ORDER BY bin) AS BIGINT) AS cum_count,
       CAST(SUM(bin_count) OVER (PARTITION BY label) AS BIGINT) AS class_total,
       CAST(SUM(bin_count) OVER (PARTITION BY label ORDER BY bin) AS DOUBLE)
         / CAST(SUM(bin_count) OVER (PARTITION BY label) AS BIGINT) AS surviving_frac
FROM binned
""",
)
def q_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: survival curve in the analysis band (gamma vs proton
    fraction below each score threshold), the reference's scientific
    payoff (`train_classification.py:284-312`). Band filter P3 →
    histogram A5 → cumulative window A6 → normalize A9."""
    band = shower_frame(spark, sf_dir).filter(
        (F.col("ze") >= 0) & (F.col("ze") < 30) & (F.col("lg_e") >= 15) & (F.col("lg_e") < 16)
    )
    curve = survival_curve(band, label_col="label", prob_col="p", nbins=100)
    # keep bin_count in the output so the histogram itself is checked
    hist = histogram(band, "p", 100, by=["label"])
    return (
        hist.join(curve, ["label", "bin"])
        .select("label", "bin", "bin_count", "cum_count", "class_total", "surviving_frac")
    )


@register(
    "survival_curve_10k",
    survey_ref="P4,A5,A6,A9",
    oracle=f"""
WITH {SHOWER_CTE},
band AS (
  SELECT label, p FROM shower
  WHERE ze >= 0 AND ze < 30 AND lg_e >= 15 AND lg_e < 16
),
binned AS (
  SELECT label,
         CAST(LEAST(CAST(FLOOR(p / 0.0001) AS BIGINT), 9999) AS INTEGER) AS bin,
         CAST(COUNT(*) AS BIGINT) AS bin_count
  FROM band GROUP BY 1, 2
)
SELECT label, bin,
       CAST(SUM(bin_count) OVER (PARTITION BY label ORDER BY bin) AS BIGINT) AS cum_count,
       CAST(SUM(bin_count) OVER (PARTITION BY label) AS BIGINT) AS class_total
FROM binned
""",
)
def q_survival_curve_10k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship at the reference's EXACT parameterization:
    ``nbins=10000, range=(0, 1)`` (``train_classification.py:295-297``,
    ``evaluate_classification.py:117-119``) — the 100-bin flagship
    demonstrates the operator; this pins the reference's actual
    threshold resolution. Scale shape is unchanged: the shuffle is
    still bounded by bins × classes (≤ 20 000 rows) regardless of
    event count, which is WHY a 10 000-bin histogram is free at
    100 TB."""
    band = shower_frame(spark, sf_dir).filter(
        (F.col("ze") >= 0) & (F.col("ze") < 30) & (F.col("lg_e") >= 15) & (F.col("lg_e") < 16)
    )
    curve = survival_curve(band, label_col="label", prob_col="p", nbins=10000)
    return curve.select("label", "bin", "cum_count", "class_total")


# ------------------------------------------------------------- histograms
@register(
    "histogram_value",
    survey_ref="A5",
    oracle="""
SELECT CAST(LEAST(CAST(FLOOR(value / 10.0) AS BIGINT), 39) AS INTEGER) AS bin,
       CAST(COUNT(*) AS BIGINT) AS bin_count
FROM events GROUP BY 1
""",
)
def q_histogram_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (np.histogram semantics,
    `train_classification.py:295-299`) over events.value, 40 bins of
    width 10 on [0, 400), top bin clamped."""
    ev = load_table(spark, sf_dir, "events")
    return histogram(ev, "value", nbins=40, lo=0.0, hi=400.0)


# ------------------------------------------------ projection + band filter
@register(
    "band_filter_project",
    survey_ref="P1,P2,P3",
    oracle=f"""
WITH {SHOWER_CTE}
SELECT event_id, lg_e, ze, p
FROM shower
WHERE ze >= 0 AND ze < 30 AND lg_e >= 15 AND lg_e < 16
""",
)
def q_band_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive range filter + column-subset projection
    (`train_classification.py:288-293`, `:209-216`). Catalyst pushes
    both into the parquet scan."""
    return (
        shower_frame(spark, sf_dir)
        .filter((F.col("ze") >= 0) & (F.col("ze") < 30) & (F.col("lg_e") >= 15) & (F.col("lg_e") < 16))
        .select("event_id", "lg_e", "ze", "p")
    )


# --------------------------------------------------------- trig functions
# sin/cos for integer degrees, computed ONCE in Python and fed to BOTH
# engines as identical double literals. JVM and DuckDB libm sin/cos can
# differ by 1 ulp, which ROUND(...,6) does NOT absorb when the value
# sits on a rounding boundary (r1 driver hash failure); with a shared
# lookup table the only in-engine ops are IEEE multiplies of identical
# bits — exactly reproducible, no rounding needed at all. The `+ 0.0`
# kills IEEE -0.0 (sin(0°)·cos(az<0 quadrant) = -0.0; Spark normalizes
# signed zero, DuckDB keeps it — they'd stringify differently).
import math as _math

_SIN_DEG = [_math.sin(_math.radians(d)) for d in range(360)]
_COS_DEG = [_math.cos(_math.radians(d)) for d in range(360)]


def _sql_dlist(vals: list[float]) -> str:
    """DuckDB double-list literal. Exponent form is load-bearing:
    DuckDB types a bare decimal literal as DECIMAL (can drop the last
    ulp); scientific notation is typed DOUBLE, and 17 significant
    digits round-trip any double exactly."""
    return "[" + ", ".join(f"{v:.17e}" for v in vals) + "]"


@register(
    "direction_cosines",
    survey_ref="F2,T3",
    oracle=f"""
WITH {SHOWER_CTE},
trig AS (
  SELECT event_id,
         ({_sql_dlist(_SIN_DEG)})[CAST(ze AS INT) + 1] AS sz,
         ({_sql_dlist(_COS_DEG)})[CAST(ze AS INT) + 1] AS cz,
         ({_sql_dlist(_SIN_DEG)})[CAST(az AS INT) + 1] AS sa,
         ({_sql_dlist(_COS_DEG)})[CAST(az AS INT) + 1] AS ca
  FROM shower
)
SELECT event_id,
       sz * ca + 0.0 AS dir_x,
       sz * sa + 0.0 AS dir_y,
       cz + 0.0 AS dir_z
FROM trig
""",
)
def q_direction_cosines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical→Cartesian direction cosines
    (`create_train_valid_test_datasets.py:96-101,134-139`; astropy
    latitude = 90 − Ze convention) over the integer-degree ze/az
    domain: array-literal trig lookup (pure projection, no join, no
    UDF) so both engines compute bit-identical doubles — see the table
    comment above. The general continuous-angle form stays in
    ``functions/physics.py::direction_cosines``."""
    df = shower_frame(spark, sf_dir)
    sin_arr, cos_arr = F.lit(_SIN_DEG), F.lit(_COS_DEG)
    ze_i = F.col("ze").cast("int") + F.lit(1)
    az_i = F.col("az").cast("int") + F.lit(1)
    sz, cz = F.element_at(sin_arr, ze_i), F.element_at(cos_arr, ze_i)
    sa, ca = F.element_at(sin_arr, az_i), F.element_at(cos_arr, az_i)
    zero = F.lit(0.0)
    return df.select(
        "event_id",
        (sz * ca + zero).alias("dir_x"),
        (sz * sa + zero).alias("dir_y"),
        (cz + zero).alias("dir_z"),
    )


@register(
    "spherical_roundtrip",
    survey_ref="F2,F3",
    oracle=f"""
WITH {SHOWER_CTE},
cart AS (
  SELECT event_id, ze, az,
         SIN(RADIANS(ze)) * COS(RADIANS(az)) AS x,
         SIN(RADIANS(ze)) * SIN(RADIANS(az)) AS y,
         COS(RADIANS(ze)) AS z
  FROM shower
)
SELECT event_id,
       ROUND(DEGREES(ACOS(z)), 6) AS ze_rt,
       CASE WHEN x = 0 AND y = 0 THEN 0.0
            ELSE ROUND(((DEGREES(ATAN2(y, x)) % 360) + 360) % 360, 6)
       END AS az_rt
FROM cart
""",
)
def q_spherical_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian→spherical inverse (`to_R_astropy`,
    `create_train_valid_test_datasets.py:104-110`): round-trips the
    direction cosines back to (ze, az)."""
    df = shower_frame(spark, sf_dir)
    dx, dy, dz = physics.direction_cosines(F.col("ze"), F.col("az"))
    cart = df.select("event_id", dx.alias("x"), dy.alias("y"), dz.alias("z"))
    ze_rt, az_rt = physics.cartesian_to_spherical(F.col("x"), F.col("y"), F.col("z"))
    return cart.select(
        "event_id",
        F.round(ze_rt, 6).alias("ze_rt"),
        F.round(az_rt, 6).alias("az_rt"),
    )


# ---------------------------------------------------------- 90° rotations
def _rotations_union(grid: DataFrame, ks: list[int]) -> DataFrame:
    parts = []
    for k in ks:
        rx, ry = physics.rotate_grid_index(F.col("ix"), F.col("iy"), k)
        parts.append(
            grid.select(
                F.lit(k).cast("int").alias("k"),
                "event_id",
                rx.alias("ix"),
                ry.alias("iy"),
                "edep",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "rotate_grid",
    survey_ref="T1,T4",
    oracle=f"""
WITH {GRID_CTE}
SELECT 0 AS k, event_id, ix, iy, edep FROM grid
UNION ALL SELECT 1 AS k, event_id, 15 - iy AS ix, ix AS iy, edep FROM grid
UNION ALL SELECT 2 AS k, event_id, 15 - ix AS ix, 15 - iy AS iy, edep FROM grid
UNION ALL SELECT 3 AS k, event_id, iy AS ix, 15 - ix AS iy, edep FROM grid
""",
)
def q_rotate_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """np.rot90 on the long-form detector grid
    (`create_train_valid_test_datasets.py:72-74`): each rotation is a
    pure projection (no shuffle), stacked with UNION ALL (T4)."""
    return _rotations_union(detector_grid(spark, sf_dir), [0, 1, 2, 3])


@register(
    "rotate_azimuth_core",
    survey_ref="F4,F5,T2",
    oracle=f"""
WITH {SHOWER_CTE}
SELECT event_id, k,
       ((az + 90.0 * k) % 360 + 360) % 360 AS az_rot,
       CASE WHEN k IN (1, 2) THEN -core_x ELSE core_x END + 0.0 AS core_x_rot,
       CASE WHEN k IN (2, 3) THEN -core_y ELSE core_y END + 0.0 AS core_y_rot
FROM shower, (SELECT UNNEST([0, 1, 2, 3]) AS k)
""",
)
def q_rotate_azimuth_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event feature rotation (`rotate_x_y_Az`,
    `create_train_valid_test_datasets.py:57-68`): azimuth + 90°k with
    wraparound, core-coordinate sign flips — composed column
    expressions, no apply_along_axis loop."""
    df = shower_frame(spark, sf_dir)
    parts = []
    for k in range(4):
        az_rot = physics.rotate_azimuth(F.col("az"), k)
        cx, cy = physics.rotate_core(F.col("core_x"), F.col("core_y"), k)
        parts.append(
            df.select(
                "event_id",
                F.lit(k).cast("int").alias("k"),
                az_rot.alias("az_rot"),
                # + 0.0: negating a 0.0 core coordinate yields -0.0;
                # deterministic per-row on both engines, but normalized
                # to keep the corpus free of signed zeros entirely
                (cx + F.lit(0.0)).alias("core_x_rot"),
                (cy + F.lit(0.0)).alias("core_y_rot"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "augment_rotations",
    survey_ref="X2,T1,T4",
    oracle=f"""
WITH {GRID_CTE},
aug AS (
  SELECT 0 AS k, event_id, ix, iy, edep FROM grid
  UNION ALL SELECT 1 AS k, event_id, 15 - iy, ix, edep FROM grid
    WHERE ((event_id % 2147483648) * 2654435762 % 4294967296) / 4294967296.0 < 0.3
  UNION ALL SELECT 2 AS k, event_id, 15 - ix, 15 - iy, edep FROM grid
    WHERE ((event_id % 2147483648) * 2654435763 % 4294967296) / 4294967296.0 < 0.3
  UNION ALL SELECT 3 AS k, event_id, iy, 15 - ix, edep FROM grid
    WHERE ((event_id % 2147483648) * 2654435764 % 4294967296) / 4294967296.0 < 0.3
)
SELECT k, CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND(SUM(edep * (iy * 16 + ix)), 4) AS checksum
FROM aug GROUP BY k
""",
)
def q_augment_rotations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rotation augmentation: sample ~30% per rotation THEN rotate
    (the reference rotates everything first and samples after —
    `create_train_valid_test_datasets.py:72-80` — an anti-optimization
    Catalyst's filter-through-projection pushdown removes). Uses a
    deterministic multiplicative-hash draw so the oracle reproduces the
    sample exactly. The kept copies of a row come from one ``explode``
    over one grid scan, and ix/iy are rotated under a ``CASE`` on k."""
    grid = detector_grid(spark, sf_dir)
    k, ix, iy = F.col("k"), F.col("ix"), F.col("iy")
    kept = [F.lit(0)]
    rx, ry = F, F  # F.when opens a CASE, Column.when extends it
    for j in (1, 2, 3):
        draw = (F.col("event_id") % 2147483648) * (2654435761 + j) % 4294967296 / F.lit(4294967296.0)
        kept.append(F.when(draw < 0.3, F.lit(j)))
        jx, jy = physics.rotate_grid_index(ix, iy, j)
        rx, ry = rx.when(k == j, jx), ry.when(k == j, jy)
    aug = grid.select("event_id", F.explode(F.array(*kept)).alias("k"), "ix", "iy", "edep")
    aug = aug.filter(k.isNotNull()).select(
        k, "event_id", rx.otherwise(ix).alias("ix"), ry.otherwise(iy).alias("iy"), "edep"
    )
    return aug.groupBy("k").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum(F.col("edep") * (F.col("iy") * 16 + F.col("ix"))), 4).alias("checksum"),
    )


@register(
    "rotate_grid_wide",
    survey_ref="T1,T6",
    oracle="""
SELECT event_id,
       CAST(list_sum(list_transform(range(0, 256),
            m -> ((event_id * (((15 - (m % 16)) * 16 + (m // 16)) + 7)) % 100) * m
       )) AS BIGINT) AS checksum
FROM events
""",
)
def q_rotate_grid_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-form 90° rotation (T1's ArrayType representation): a dense
    16×16 grid lives as a flat 256-element array column; the rotation
    is an index remap — new[iy·16+ix] = old[(15−ix)·16+iy] — with no
    explode and no data shuffle beyond the input spread. The checksum
    Σ new[m]·m pins every element's position. (Long-form rotation:
    rotate_grid.)

    PLAN HAZARD this query documents: higher-order array functions are
    ``CodegenFallback`` (interpreted), and ``CollapseProject`` inlines
    a synthesized array column into its consumer — so writing this as
    "build ``arr`` in one projection, ``element_at(arr, remap(m))``
    in the next" re-evaluates the WHOLE 256-element constructor inside
    every one of the 256 element lookups: O(d²)=65k interpreted ops
    per row, ~650G at sf0.1 (measured: minutes, not seconds). When
    the tensor is a STORED column — the production case — the
    element_at remap is O(d) and fine; when the tensor is synthesized
    in the same plan, compose the remap in the INDEX domain instead
    (rotated[m] = gen(remap(m))), which keeps one linear pass and is
    what this implementation does. The single-file fixture arrives as
    ONE input split — spread it across cores first (SCALE.md)."""
    ev = (
        spread_scan(load_table(spark, sf_dir, "events").select("event_id"))
    )
    # rotated[m] = old[rot(m)] with old[q] = (event_id·(q+7)) mod 100,
    # rot(m) = (15 − m%16)·16 + m div 16 — remap composed index-side,
    # checksum folded into the same single 256-element pass
    checksum = F.aggregate(
        F.sequence(F.lit(0), F.lit(255)),
        F.lit(0).cast("long"),
        lambda acc, m: acc
        + (
            F.col("event_id")
            * (((F.lit(15) - m % 16) * 16 + ((m - m % 16) / 16).cast("int")) + 7)
        )
        % 100
        * m,
    )
    return ev.select("event_id", checksum.alias("checksum"))


@register(
    "rotate_grid_wide_vec",
    survey_ref="T1,T6,§2.12",
    oracle="""
SELECT event_id,
       CAST(list_sum(list_transform(range(0, 256),
            m -> ((event_id * (((15 - (m % 16)) * 16 + (m // 16)) + 7)) % 100) * m
       )) AS BIGINT) AS checksum
FROM events
""",
)
def q_rotate_grid_wide_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized sibling of ``rotate_grid_wide`` — identical
    semantics (same oracle), different physical strategy: the 256-
    element rotated-checksum kernel runs as a ``pandas_udf`` over a
    NumPy (rows × 256) broadcasted multiply instead of Spark's
    higher-order ``aggregate`` (which is ``CodegenFallback`` —
    interpreted, ~73M lambda-ops/s measured). At a 1M-event sf1
    replica the vectorized kernel is ~5x the HOF (0.65 s vs 3.3 s
    compute; PLANS.md 'rotate_grid_wide audit'). This is the
    documented escape hatch when per-row dense-tensor arithmetic ever
    dominates a wide-form plan: keep the plan shape (scan → project,
    no shuffle), swap the kernel to Arrow batches."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    rot_c = np.array(
        [(15 - m % 16) * 16 + m // 16 + 7 for m in range(256)], dtype=np.int64
    )
    pos = np.arange(256, dtype=np.int64)

    @pandas_udf("long")
    def checksum(ids: pd.Series) -> pd.Series:
        a = ids.to_numpy()[:, None] * rot_c[None, :]
        return pd.Series((a % 100 * pos).sum(axis=1))

    ev = (
        spread_scan(load_table(spark, sf_dir, "events").select("event_id"))
    )
    return ev.select("event_id", checksum(F.col("event_id")).alias("checksum"))


# ------------------------------------------------------- stratified split
@register(
    "stratified_split",
    survey_ref="X1,X3",
    oracle=f"""
WITH {SHOWER_CTE},
ranked AS (
  SELECT label, event_id,
         percent_rank() OVER (PARTITION BY label ORDER BY {RND_SQL}, event_id) AS pr
  FROM shower
),
assigned AS (
  SELECT label,
         CASE WHEN pr < 0.6 THEN 'train' WHEN pr < 0.8 THEN 'valid' ELSE 'test' END AS split
  FROM ranked
)
SELECT label, split, CAST(COUNT(*) AS BIGINT) AS n
FROM assigned GROUP BY label, split
""",
)
def q_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact stratified train/valid/test split
    (`create_train_valid_test_datasets.py:119-127`): percent_rank over
    a seeded deterministic draw within each class, bucketed at
    0.6/0.8 — exact per-class proportions, unlike sampleBy. One shuffle
    on the class key; at scale the window runs per-class-partition."""
    df = shower_frame(spark, sf_dir)
    w = Window.partitionBy("label").orderBy(rnd_col().asc(), F.col("event_id").asc())
    pr = F.col("pr")
    assigned = df.select("label", F.percent_rank().over(w).alias("pr")).select(
        "label",
        F.when(pr < 0.6, F.lit("train"))
        .when(pr < 0.8, F.lit("valid"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    return assigned.groupBy("label", "split").agg(F.count(F.lit(1)).alias("n"))


@register(
    "stratified_split_twopass",
    survey_ref="X1,X3",
    oracle=f"""
WITH {SHOWER_CTE},
ranked AS (
  SELECT label, event_id,
         percent_rank() OVER (PARTITION BY label ORDER BY {RND_SQL}, event_id) AS pr
  FROM shower
)
SELECT event_id, label,
       CASE WHEN pr < 0.6 THEN 'train' WHEN pr < 0.8 THEN 'valid' ELSE 'test' END
         AS split
FROM ranked
""",
)
def q_stratified_split_twopass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass stratified split — the 100 TB form of ``stratified_split``
    (reference `create_train_valid_test_datasets.py:119-127`), producing
    BYTE-IDENTICAL per-row assignments (the oracle IS the window form,
    so exact-hash green proves the two forms agree).

    The window form sorts each class in one partition (`percent_rank`
    over `PARTITION BY label`) — exact, but one reducer per class: a
    skew wall when classes are few and data is 100 TB.  This form never
    sorts a class globally:

      pass 1 — per-(label, bucket) histogram of the TOP 12 BITS of the
        integer Knuth draw (4096 buckets, map-side combined; ≤ 4096
        rows per class leave the executors), cumulated per class to
        locate the exact rank cutoffs k60/k80 (integer ceil arithmetic,
        `10·(rank−1) < 6·(n−1)` — no float thresholds);
      pass 2 — every bucket fully inside one region is assigned by the
        broadcast histogram alone (no sort, no shuffle beyond the scan);
        only the ≤ 2 straddling buckets per class rank their ~n/4096
        rows with a window partitioned by (label, bucket) — fine-grained
        partitions, never one-per-class.

    Spark's `percent_rank` of a 1-row partition is 0 (< 0.6), so k60 is
    clamped to 1 when n = 1."""
    df = (
        shower_frame(spark, sf_dir)
        .select(
            "event_id",
            "label",
            ((F.col("event_id") % 2147483648) * 2654435761 % 4294967296).alias("h"),
        )
        .withColumn("bucket", F.expr("h div 1048576").cast("int"))
    )
    wb = (
        Window.partitionBy("label")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    hist = (
        df.groupBy("label", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "label",
            "bucket",
            "cnt",
            F.coalesce(F.sum("cnt").over(wb), F.lit(0)).alias("cum_before"),
            F.sum("cnt").over(Window.partitionBy("label")).alias("n"),
        )
        .withColumn(
            "k60", F.expr("CASE WHEN n = 1 THEN 1 ELSE (6*(n-1)+9) div 10 END")
        )
        .withColumn(
            "k80", F.expr("CASE WHEN n = 1 THEN 1 ELSE (8*(n-1)+9) div 10 END")
        )
    )
    joined = df.join(F.broadcast(hist), ["label", "bucket"])
    is_clear = F.expr(
        "cum_before + cnt <= k60 OR cum_before >= k80 "
        "OR (cum_before >= k60 AND cum_before + cnt <= k80)"
    )
    clear = joined.filter(is_clear).select(
        "event_id",
        "label",
        F.expr(
            "CASE WHEN cum_before + cnt <= k60 THEN 'train' "
            "WHEN cum_before >= k80 THEN 'test' ELSE 'valid' END"
        ).alias("split"),
    )
    wr = Window.partitionBy("label", "bucket").orderBy(
        F.col("h").asc(), F.col("event_id").asc()
    )
    boundary = (
        joined.filter(~is_clear)
        .select(
            "event_id",
            "label",
            "k60",
            "k80",
            (F.col("cum_before") + F.row_number().over(wr) - 1).alias("r"),
        )
        .select(
            "event_id",
            "label",
            F.when(F.col("r") < F.col("k60"), F.lit("train"))
            .when(F.col("r") < F.col("k80"), F.lit("valid"))
            .otherwise(F.lit("test"))
            .alias("split"),
        )
    )
    return clear.unionByName(boundary)


# ------------------------------------------------------- one-hot / argmax
@register(
    "onehot_argmax",
    survey_ref="T7,T8",
    oracle=f"""
WITH {SHOWER_CTE}
SELECT event_id,
       CASE WHEN label = 0 THEN 1.0 ELSE 0.0 END AS oh_gamma,
       CASE WHEN label = 1 THEN 1.0 ELSE 0.0 END AS oh_proton,
       CAST(CASE WHEN (CASE WHEN label = 1 THEN 1.0 ELSE 0.0 END) >
                      (CASE WHEN label = 0 THEN 1.0 ELSE 0.0 END)
            THEN 1 ELSE 0 END AS INTEGER) AS decoded
FROM shower
""",
)
def q_onehot_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-hot encode + argmax decode round trip (`dataset.py:12`,
    `tools.py:26`) as column expressions."""
    df = shower_frame(spark, sf_dir)
    oh0 = F.when(F.col("label") == 0, 1.0).otherwise(0.0)
    oh1 = F.when(F.col("label") == 1, 1.0).otherwise(0.0)
    return df.select(
        "event_id",
        oh0.alias("oh_gamma"),
        oh1.alias("oh_proton"),
        F.when(oh1 > oh0, 1).otherwise(0).cast("int").alias("decoded"),
    )


# ------------------------------------------------------------ scaler fit
@register(
    "scaler_fit",
    survey_ref="A1,A2",
    oracle=f"""
WITH {SHOWER_CTE}
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(AVG(core_x), 6) AS core_x_mean,
       ROUND(STDDEV_POP(core_x), 6) AS core_x_std,
       ROUND(AVG(ze), 6) AS ze_mean,
       ROUND(STDDEV_POP(ze), 6) AS ze_std,
       ROUND(MIN(p), 6) AS p_min,
       ROUND(MAX(p), 6) AS p_max
FROM shower
""",
)
def q_scaler_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StandardScaler / MinMaxScaler fit = one aggregate over the data
    (`train_classification.py:179-191`; sklearn uses population std).
    Map-side partial aggregation makes this one short shuffle at any
    scale."""
    df = shower_frame(spark, sf_dir)
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("core_x"), 6).alias("core_x_mean"),
        F.round(F.stddev_pop("core_x"), 6).alias("core_x_std"),
        F.round(F.avg("ze"), 6).alias("ze_mean"),
        F.round(F.stddev_pop("ze"), 6).alias("ze_std"),
        F.round(F.min("p"), 6).alias("p_min"),
        F.round(F.max("p"), 6).alias("p_max"),
    )


@register(
    "scaler_apply",
    survey_ref="F7,F6",
    oracle=f"""
WITH {SHOWER_CTE},
params AS (
  SELECT AVG(core_x) AS mu, STDDEV_POP(core_x) AS sigma,
         MIN(p) AS p_lo, MAX(p) AS p_hi
  FROM shower WHERE {RND_SQL} < 0.6
)
SELECT s.event_id,
       ROUND((s.core_x - p.mu) / p.sigma, 6) AS core_x_std,
       ROUND((s.p - p.p_lo) / (p.p_hi - p.p_lo), 6) AS p_minmax
FROM shower s, params p
""",
)
def q_scaler_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit-on-train / apply-everywhere scaling
    (`train_classification.py:193-200`, `evaluate_classification.py:59-66`):
    the fitted params are a 1-row relation broadcast-cross-joined onto
    the events — the Spark form of cross-run fitted state."""
    df = shower_frame(spark, sf_dir)
    train = df.filter(rnd_col() < 0.6)
    params = train.agg(
        F.avg("core_x").alias("mu"),
        F.stddev_pop("core_x").alias("sigma"),
        F.min("p").alias("p_lo"),
        F.max("p").alias("p_hi"),
    )
    return df.crossJoin(F.broadcast(params)).select(
        "event_id",
        F.round(physics.standardize(F.col("core_x"), F.col("mu"), F.col("sigma")), 6).alias("core_x_std"),
        F.round(physics.minmax_scale(F.col("p"), F.col("p_lo"), F.col("p_hi")), 6).alias("p_minmax"),
    )


# -------------------------------------------------------- class weighting
@register(
    "class_weights",
    survey_ref="A3,M3",
    oracle=f"""
WITH {SHOWER_CTE}
SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(CASE WHEN label = 1 THEN 80.0 ELSE 1.0 END / COUNT(*), 8) AS weight
FROM shower GROUP BY label
""",
)
def q_class_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-frequency loss weights: 1/count with the 80× proton boost
    (`train_classification.py:234-236`, default at `:34`)."""
    df = shower_frame(spark, sf_dir)
    return (
        df.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "label",
            "n",
            F.round(
                F.when(F.col("label") == 1, F.lit(80.0)).otherwise(F.lit(1.0)) / F.col("n"), 8
            ).alias("weight"),
        )
    )


# --------------------------------------------------- confusion / accuracy
@register(
    "confusion_matrix",
    survey_ref="A7",
    oracle=f"""
WITH {SHOWER_CTE}
SELECT label, CAST(CASE WHEN p >= 0.5 THEN 1 ELSE 0 END AS INTEGER) AS pred,
       CAST(COUNT(*) AS BIGINT) AS n
FROM shower GROUP BY 1, 2
""",
)
def q_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix the reference intended but never filled (its
    `cm_valid` is allocated and read but not written —
    `train_classification.py:118,131,151-152`)."""
    df = shower_frame(spark, sf_dir)
    return (
        df.select("label", F.when(F.col("p") >= 0.5, 1).otherwise(0).cast("int").alias("pred"))
        .groupBy("label", "pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "per_class_accuracy",
    survey_ref="A7,P5,A4",
    oracle=f"""
WITH {SHOWER_CTE}
SELECT label,
       CAST(SUM(CASE WHEN (CASE WHEN p >= 0.5 THEN 1 ELSE 0 END) = label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       ROUND(SUM(CASE WHEN (CASE WHEN p >= 0.5 THEN 1 ELSE 0 END) = label THEN 1 ELSE 0 END) * 1.0
             / COUNT(*), 6) AS acc
FROM shower GROUP BY label
""",
)
def q_per_class_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class accuracy (`gm_accuracy`/`pr_accuracy`,
    `train_classification.py:151-152`) via conditional aggregation."""
    df = shower_frame(spark, sf_dir)
    pred = F.when(F.col("p") >= 0.5, 1).otherwise(0)
    correct = F.when(pred == F.col("label"), 1).otherwise(0)
    return df.groupBy("label").agg(
        F.sum(correct).alias("n_correct"),
        F.count(F.lit(1)).alias("n_total"),
        F.round(F.sum(correct) / F.count(F.lit(1)), 6).alias("acc"),
    )


# ------------------------------------------------------------ log1p edep
@register(
    "log1p_edep",
    survey_ref="F1,T6",
    oracle=f"""
WITH {GRID_CTE}
SELECT event_id, ix, iy, ROUND(LN(1 + edep), 6) AS log_edep
FROM grid
""",
)
def q_log1p_edep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """log1p transform of the energy-deposit channel
    (`train_classification.py:185,194`)."""
    grid = detector_grid(spark, sf_dir)
    return grid.select("event_id", "ix", "iy", F.round(physics.log1p_edep(F.col("edep")), 6).alias("log_edep"))


# -------------------------------------------------- wide↔long round trip
@register(
    "grid_wide_long_roundtrip",
    survey_ref="T6,T5",
    oracle=f"""
WITH {GRID_CTE}
SELECT event_id, ROUND(SUM(edep * (iy * 16 + ix)), 4) AS checksum,
       CAST(COUNT(*) AS BIGINT) AS n_cells
FROM grid GROUP BY event_id
""",
)
def q_grid_wide_long_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide→long grid conversion (`train_classification.py:184-190`
    flatten/reshape): pack each event's cells into a position-ordered
    256-slot array, then posexplode back and checksum position↔value —
    proves the layout transpose preserves alignment."""
    grid = detector_grid(spark, sf_dir)
    # one sorted struct array per event; both field projections read it
    # (r1 VERDICT #9: the agg previously built and sorted the array twice)
    cells = F.array_sort(F.collect_list(F.struct(F.col("pos"), F.col("edep")))).alias("cells")
    wide = (
        grid.select("event_id", (F.col("iy") * 16 + F.col("ix")).alias("pos"), "edep")
        .groupBy("event_id")
        .agg(cells)
        .select(
            "event_id",
            F.transform(F.col("cells"), lambda s: s.getField("edep")).alias("edep_arr"),
            F.transform(F.col("cells"), lambda s: s.getField("pos")).alias("pos_arr"),
        )
    )
    long_again = wide.select(
        "event_id", F.explode(F.arrays_zip(F.col("pos_arr"), F.col("edep_arr"))).alias("cell")
    ).select("event_id", F.col("cell.pos_arr").alias("pos"), F.col("cell.edep_arr").alias("edep"))
    return long_again.groupBy("event_id").agg(
        F.round(F.sum(F.col("edep") * F.col("pos")), 4).alias("checksum"),
        F.count(F.lit(1)).alias("n_cells"),
    )


@register(
    "core_density_map",
    survey_ref="A5,P3",
    oracle=f"""
WITH {SHOWER_CTE}
SELECT CAST(FLOOR((core_x + 16) / 4) AS INTEGER) AS bx,
       CAST(FLOOR((core_y + 16) / 4) AS INTEGER) AS by,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(AVG(lg_e), 6) AS avg_lg_e
FROM shower
WHERE lg_e >= 15.0 AND lg_e < 16.0
GROUP BY 1, 2
""",
)
def q_core_density_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D shower-core density map: the spatial twin of the energy
    histogram (A5) — shower cores binned on a 4 m grid over the array
    footprint with per-cell mean energy, the detector-acceptance map a
    KASCADE-style analysis plots next to the survival curve
    (``train_classification.py:284-299`` band-cuts the same relation).
    One partially-aggregated shuffle bounded by the 8×8 cell count."""
    df = shower_frame(spark, sf_dir).filter(
        (F.col("lg_e") >= 15.0) & (F.col("lg_e") < 16.0)
    )
    return df.groupBy(
        F.floor((F.col("core_x") + 16) / 4).cast("int").alias("bx"),
        F.floor((F.col("core_y") + 16) / 4).cast("int").alias("by"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("lg_e"), 6).alias("avg_lg_e"),
    )


@register(
    "spectral_index_fit",
    survey_ref="A4,A5,A6",
    oracle=f"""
WITH {SHOWER_CTE},
hist AS (
  SELECT FLOOR(lg_e * 10) / 10 AS lg_e_bin,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM shower GROUP BY 1
),
pts AS (
  SELECT lg_e_bin AS x, LN(n) AS y FROM hist WHERE n > 0
),
s AS (
  SELECT COUNT(*) AS cnt, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sxx
  FROM pts
)
SELECT CAST(cnt AS BIGINT) AS n_bins,
       ROUND((cnt * sxy - sx * sy) / (cnt * sxx - sx * sx), 6) + 0.0 AS spectral_slope,
       ROUND((sy - ((cnt * sxy - sx * sy) / (cnt * sxx - sx * sx)) * sx) / cnt, 6) + 0.0
         AS intercept
FROM s
""",
)
def q_spectral_index_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law spectral index by closed-form OLS on the log-log
    energy histogram — THE measurement a cosmic-ray spectrum analysis
    produces (flux ∝ E^slope; the reference's survival curves feed the
    same physics conclusion, ``train_classification.py:301-321``).
    Distributed form: histogram (one bounded shuffle) → sufficient
    statistics (Σx, Σy, Σxy, Σx² — a single 1-row aggregate) → slope
    and intercept as closed-form arithmetic. No iterative fitting, no
    driver-side math: the whole regression is two aggregations."""
    df = shower_frame(spark, sf_dir)
    hist = (
        df.groupBy((F.floor(F.col("lg_e") * 10) / 10).alias("x"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 0)
        .select("x", F.log("n").alias("y"))
    )
    s = hist.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("cnt") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("cnt") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    # "+ 0.0" on both engines normalizes IEEE -0.0 to +0.0: the sign of a
    # rounded near-zero float sum is summation-order dependent, so without
    # this the byte-level cross-engine hash is flaky (flat spectrum -> OLS
    # slope ~0 rounds to -0.0 in DuckDB but +0.0 in Spark at sf0.1).
    return s.select(
        F.col("cnt").cast("bigint").alias("n_bins"),
        (F.round(slope, 6) + F.lit(0.0)).alias("spectral_slope"),
        (F.round((F.col("sy") - slope * F.col("sx")) / F.col("cnt"), 6) + F.lit(0.0)).alias(
            "intercept"
        ),
    )


@register(
    "event_transition_matrix",
    survey_ref="§2.8,§2.6",
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
  FROM events
)
SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
FROM seq WHERE next_type IS NOT NULL
GROUP BY 1, 2
""",
)
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts between consecutive events
    per user (view→click, click→purchase, ...) — the behavioral
    transition matrix funnels and recommendation priors start from.
    One shuffle on user_id for the lead window, then a transition-
    cardinality-bounded aggregate."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    return seq.groupBy("event_type", "next_type").agg(F.count(F.lit(1)).alias("n"))
