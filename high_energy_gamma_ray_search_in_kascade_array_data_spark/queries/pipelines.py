"""End-to-end pipeline corpus (SURVEY §3): the reference's entry
points as single DAGs, checksummed per (split, k) so the WHOLE flow —
split assignment, sampled rotation augmentation, feature derivation,
scoring, banding, survival — is differential-tested, not just its
pieces."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from high_energy_gamma_ray_search_in_kascade_array_data_spark.operators import etl
from high_energy_gamma_ray_search_in_kascade_array_data_spark.queries.common import RND2_SQL, RND_SQL, SHOWER_CTE, rnd2_col, rnd_col, shower_frame
from high_energy_gamma_ray_search_in_kascade_array_data_spark.registry import register


@register(
    "etl_prepare_datasets",
    survey_ref="§3.1,X1,X2,T2,T4,F2",
    oracle=f"""
WITH {SHOWER_CTE},
ranked AS (
  SELECT s.*, {RND2_SQL} AS rnd,
         percent_rank() OVER (PARTITION BY label ORDER BY {RND_SQL}, event_id) AS pr
  FROM shower s
),
assigned AS (
  SELECT *, CASE WHEN pr < 0.6 THEN 'train' WHEN pr < 0.8 THEN 'valid' ELSE 'test' END AS split
  FROM ranked
),
train AS (SELECT * FROM assigned WHERE split = 'train'),
aug AS (
  SELECT split, 0 AS k, az, core_x, core_y, ze FROM train
  UNION ALL
  SELECT split, 1, (az + 90) % 360, -core_x, core_y, ze FROM train WHERE (rnd + 0.1) % 1 < 0.3
  UNION ALL
  SELECT split, 2, (az + 180) % 360, -core_x, -core_y, ze FROM train WHERE (rnd + 0.2) % 1 < 0.3
  UNION ALL
  SELECT split, 3, (az + 270) % 360, core_x, -core_y, ze FROM train WHERE (rnd + 0.3) % 1 < 0.3
  UNION ALL
  SELECT split, 0, az, core_x, core_y, ze FROM assigned WHERE split <> 'train'
)
SELECT split, k, CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND(SUM(az), 4) AS sum_az,
       ROUND(SUM(core_x), 4) AS sum_core_x,
       ROUND(SUM(SIN(RADIANS(ze)) * COS(RADIANS(az))), 4) AS sum_dir_x
FROM aug GROUP BY split, k
""",
)
def q_etl_prepare_datasets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry point 3.1 end-to-end (`create_train_valid_test_datasets.py:113-164`)
    as ONE lazy DAG: exact stratified split → sample-then-rotate
    augmentation (k=1..3 at 30%) → direction features, checksummed per
    (split, k)."""
    shower = shower_frame(spark, sf_dir)
    out = etl.prepare_datasets(shower, rnd=rnd_col(), aug_draw=rnd2_col(), augment_fraction=0.3)
    return out.groupBy("split", "k").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("az"), 4).alias("sum_az"),
        F.round(F.sum("core_x"), 4).alias("sum_core_x"),
        F.round(F.sum("dir_x"), 4).alias("sum_dir_x"),
    )


@register(
    "analysis_pipeline_survival",
    survey_ref="§3.2,§3.3,F7,M1,P3,A5,A6,A9",
    oracle=f"""
WITH {SHOWER_CTE},
scored AS (
  SELECT label, ze, lg_e,
         1.0 / (1.0 + EXP(-({etl.SCORE_LOGIT_SQL}))) AS score
  FROM shower
),
band AS (
  SELECT label, score FROM scored
  WHERE ze >= 0 AND ze < 30 AND lg_e >= 15 AND lg_e < 16
),
binned AS (
  SELECT label,
         CAST(LEAST(CAST(FLOOR(score / 0.01) AS BIGINT), 99) AS INTEGER) AS bin,
         CAST(COUNT(*) AS BIGINT) AS bin_count
  FROM band GROUP BY 1, 2
)
SELECT label, bin,
       CAST(SUM(bin_count) OVER (PARTITION BY label ORDER BY bin) AS BIGINT) AS cum_count,
       CAST(SUM(bin_count) OVER (PARTITION BY label) AS BIGINT) AS class_total,
       CAST(SUM(bin_count) OVER (PARTITION BY label ORDER BY bin) AS DOUBLE)
         / CAST(SUM(bin_count) OVER (PARTITION BY label) AS BIGINT) AS surviving_frac
FROM binned
""",
)
def q_analysis_pipeline_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry point 3.2 analytical spine end-to-end
    (`train_classification.py:264-312`): stand-in model score → band
    filter → survival curve, one DAG over one scan — the full
    scientific workflow a reference user runs."""
    shower = shower_frame(spark, sf_dir)
    return etl.analysis_pipeline(shower)


@register(
    "analysis_pipeline_survival_eval",
    survey_ref="§3.3,P3,A5,A6,A9",
    oracle=f"""
WITH {SHOWER_CTE},
scored AS (
  SELECT label, ze, lg_e,
         1.0 / (1.0 + EXP(-({etl.SCORE_LOGIT_SQL}))) AS score
  FROM shower
),
band AS (
  SELECT label, score FROM scored
  WHERE ze >= 0 AND ze < 30 AND lg_e >= 14 AND lg_e < 15
),
binned AS (
  SELECT label,
         CAST(LEAST(CAST(FLOOR(score / 0.01) AS BIGINT), 99) AS INTEGER) AS bin,
         CAST(COUNT(*) AS BIGINT) AS bin_count
  FROM band GROUP BY 1, 2
)
SELECT label, bin,
       CAST(SUM(bin_count) OVER (PARTITION BY label ORDER BY bin) AS BIGINT) AS cum_count,
       CAST(SUM(bin_count) OVER (PARTITION BY label) AS BIGINT) AS class_total,
       CAST(SUM(bin_count) OVER (PARTITION BY label ORDER BY bin) AS DOUBLE)
         / CAST(SUM(bin_count) OVER (PARTITION BY label) AS BIGINT) AS surviving_frac
FROM binned
""",
)
def q_analysis_pipeline_survival_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry point 3.3 — the held-out evaluation replay: identical
    plan, evaluation energy band lg_e ∈ [14,15)
    (`evaluate_classification.py:106,111-113`)."""
    shower = shower_frame(spark, sf_dir)
    return etl.analysis_pipeline(shower, e_band=(14.0, 15.0))
