"""ML-surface corpus (SURVEY §2.12): the Arrow pandas_udf inference
seam (oracle-checked — the stand-in model is deterministic math) and
the MLlib training pipeline (rows-only: iterative LBFGS optimization
is not SQL-expressible)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from high_energy_gamma_ray_search_in_kascade_array_data_spark.ml import cnn, inference, pipeline
from high_energy_gamma_ray_search_in_kascade_array_data_spark.operators.etl import SCORE_BIAS, SCORE_WEIGHTS, band_cut
from high_energy_gamma_ray_search_in_kascade_array_data_spark.operators.survival import survival_curve
from high_energy_gamma_ray_search_in_kascade_array_data_spark.queries.common import SHOWER_CTE, shower, shower_frame
from high_energy_gamma_ray_search_in_kascade_array_data_spark.registry import register


def _mlp_state() -> dict:
    """Deterministic 4→3→2→1 MLP state-dict (the CNN_B fc-head shape,
    ``cnn_model.py:26-28``) with exact dyadic-rational weights — every
    value is k/16, so artifact round-trip and cross-engine arithmetic
    are bit-exact."""
    import numpy as np

    dims = [(3, 4), (2, 3), (1, 2)]
    state = {}
    for li, (n_out, n_in) in enumerate(dims, start=1):
        w = np.empty((n_out, n_in), dtype="float64")
        for u in range(n_out):
            for j in range(n_in):
                w[u, j] = ((li * 7 + u * 5 + j * 3) % 13 - 6) / 16.0
        b = np.array([((li * 11 + u * 3) % 9 - 4) / 16.0 for u in range(n_out)], dtype="float64")
        state[f"fc{li}.weight"] = w
        state[f"fc{li}.bias"] = b
    return state


# Input features normalized to O(1) so the sigmoid stays off its
# saturation plateaus; these SQL snippets are evaluated verbatim by
# BOTH engines (Spark via F.expr, DuckDB via the generated oracle).
_MLP_INPUT_EXPRS = ("(lg_e - 15.0)", "(ze / 45.0)", "p", "(core_x / 16.0)")


@register(
    "pandas_udf_inference",
    survey_ref="M1,§2.12",
    oracle=f"""
WITH {SHOWER_CTE}
SELECT event_id,
       ROUND(1.0 / (1.0 + EXP(-({" + ".join(f"{w}*{c}" for c, w in SCORE_WEIGHTS.items())} + {SCORE_BIAS}))), 6) AS score
FROM shower
""",
)
def q_pandas_udf_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch model inference through the Arrow pandas_udf seam
    (replaces the torch DataLoader loop, `tools.py:15-31`): features
    packed into an array column, scored one Arrow batch at a time by a
    vectorized numpy kernel. The stand-in linear-logistic model keeps
    it oracle-checkable; a torch model drops into the same UDF."""
    df = shower_frame(spark, sf_dir)
    feats = F.array(*[F.col(c).cast("double") for c in SCORE_WEIGHTS])
    score = inference.make_linear_scorer_udf(SCORE_WEIGHTS.values(), SCORE_BIAS)
    return df.select("event_id", F.round(score(feats), 6).alias("score"))


@register(
    "mllib_lr_pipeline",
    survey_ref="M3,M4,A7",
    oracle=f"""
WITH {SHOWER_CTE}
SELECT CAST(label AS INTEGER) AS label,
       CAST(COUNT(*) AS BIGINT) AS n_test,
       1 AS preds_in_domain,
       1 AS acc_in_unit
FROM shower WHERE event_id % 5 = 0 GROUP BY label
""",
)
def q_mllib_lr_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end MLlib head: class weights (A3+M3) → assemble/scale →
    LogisticRegression with weightCol (M4) → confusion matrix (A7) +
    per-class accuracy on a held-out split.

    LBFGS coefficients are not SQL-expressible, so the checked surface
    is the pipeline's *invariants*, which ARE deterministic: the
    confusion-matrix cells for each label must sum to exactly that
    label's held-out row count (every test row scored once, none
    dropped or duplicated), every prediction must land in the label
    domain {{0,1}}, and per-class accuracy must lie in [0,1]. A scoring
    pipeline that loses rows, emits out-of-domain classes, or
    mis-normalizes accuracy fails this oracle even though the fitted
    coefficients themselves are unchecked."""
    df = shower_frame(spark, sf_dir).select("event_id", "label", "lg_e", "ze", "p", "core_x", "core_y")
    train = df.filter(F.col("event_id") % 5 != 0)
    test = df.filter(F.col("event_id") % 5 == 0)
    weighted = pipeline.add_class_weights(train, boost={1: 2.0})
    model = pipeline.fit_lr(weighted, ["lg_e", "ze", "p", "core_x", "core_y"])
    cm = pipeline.confusion_matrix(model.transform(test))
    acc = pipeline.per_class_accuracy(cm)
    return (
        cm.join(acc, "label")
        .groupBy("label")
        .agg(
            F.sum("n").cast("bigint").alias("n_test"),
            F.min(F.when(F.col("pred").isin(0, 1), 1).otherwise(0)).alias("preds_in_domain"),
            F.min(
                F.when((F.col("accuracy") >= 0.0) & (F.col("accuracy") <= 1.0), 1).otherwise(0)
            ).alias("acc_in_unit"),
        )
    )


@register(
    "mlp_artifact_inference",
    survey_ref="M1,S5,§2.12",
    oracle=f"""
WITH {SHOWER_CTE}
SELECT event_id,
       ROUND({inference.mlp_score_sql(_mlp_state(), _MLP_INPUT_EXPRS)}, 6) AS score
FROM shower
""",
)
def q_mlp_artifact_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CNN-shaped inference from a PERSISTED model artifact (M1+S5):
    a torch-interop ``.npz`` state-dict (``fc{{1,2,3}}.weight/.bias``,
    the CNN_B fc-head of ``cnn_model.py:26-28,44-47``) is saved to
    disk, and executors lazily load it inside the Arrow pandas_udf —
    the full checkpoint→ship→batch-score path of the reference's
    DataLoader loop (``tools.py:15-31``), minus only the conv stack
    this container's lack of torch keeps behind the documented seam.
    The DuckDB oracle runs the SAME weights unrolled to SQL, so the
    persisted-artifact forward pass is hash-checked end-to-end."""
    import os

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import SCRATCH

    os.makedirs(SCRATCH, exist_ok=True)
    artifact = os.path.join(SCRATCH, "mlp_head.npz")
    inference.save_model_artifact(artifact, _mlp_state())
    df = shower_frame(spark, sf_dir)
    feats = F.array(*[F.expr(e).cast("double") for e in _MLP_INPUT_EXPRS])
    score = inference.make_mlp_scorer_udf(artifact)
    return df.select("event_id", F.round(score(feats), 6).alias("score"))


@register(
    "cnn_artifact_inference",
    survey_ref="M1,S5,M2,§2.12",
    oracle=cnn.cnn_oracle_sql(),
)
def q_cnn_artifact_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL CNN_B inference — conv stack included — from a persisted
    ``.npz`` state-dict artifact (M1+S5): three Conv2d(k=3)→ReLU→BN
    blocks over the 2-channel 16×16 detector image, flatten, concat
    with the 11 scalar features, fc1→ReLU→fc2→ReLU→fc3, two-class
    margin through the sigmoid (``cnn_model.py:11-43``,
    ``tools.py:15-31``).  The forward runs as vectorized numpy inside
    an Arrow ``pandas_udf``; dyadic quantization makes every layer
    bit-exact, so the DuckDB oracle recomputes the SAME network
    relationally (conv as join-aggregate) and the logit column is
    hash-checked raw, no rounding.  See ``ml/cnn.py`` for the
    exactness audit."""
    return _cnn_scored_frame(spark, sf_dir).select(
        "event_id",
        "logit",
        F.round(F.col("sigmoid"), 6).alias("score"),
    )


def _cnn_scored_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared CNN_B scoring stage: persist the artifact, synthesize the
    per-event feature/grid arrays, run the full forward through the
    Arrow seam. Returns (event_id, logit, sigmoid[raw])."""
    import os

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import SCRATCH
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import load_table

    os.makedirs(SCRATCH, exist_ok=True)
    artifact = os.path.join(SCRATCH, "cnn_b.npz")
    inference.save_model_artifact(artifact, cnn.cnn_state())
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_id") % cnn.EVENT_MOD == 0
    )
    eid = F.col("event_id")
    pos = F.sequence(F.lit(0), F.lit(cnn.GRID * cnn.GRID - 1))
    feats = F.transform(
        F.sequence(F.lit(0), F.lit(cnn.N_FEATS - 1)),
        lambda k: ((eid * (k * 2 + 3)) % 257 - 128) / F.lit(256.0),
    )
    edep = F.transform(pos, lambda m: ((eid * (m + 7)) % 97) / F.lit(16.0))
    muons = F.transform(pos, lambda m: ((eid * (m + 13)) % 89) / F.lit(16.0))
    score = cnn.make_cnn_scorer_udf(artifact)
    return ev.select("event_id", score(feats, edep, muons).alias("r")).select(
        "event_id", F.col("r.logit").alias("logit"), F.col("r.sigmoid").alias("sigmoid")
    )


_CNN_SURVIVAL_FINAL = """
, scored AS (
  SELECT event_id,
         CAST(event_id % 2 AS INTEGER) AS label,
         14.0 + (event_id * 131 % 2500) / 1000.0 AS lg_e,
         CAST(event_id * 17 % 45 AS DOUBLE) AS ze,
         ROUND(1.0 / (1.0 + EXP(-logit)), 6) AS score
  FROM lg
),
band AS (
  SELECT label, score FROM scored
  WHERE ze >= 0 AND ze < 30 AND lg_e >= 14 AND lg_e < 16
),
binned AS (
  SELECT label,
         CAST(LEAST(CAST(FLOOR(score / 0.05) AS BIGINT), 19) AS INTEGER) AS bin,
         CAST(COUNT(*) AS BIGINT) AS bin_count
  FROM band GROUP BY 1, 2
)
SELECT label, bin,
       CAST(SUM(bin_count) OVER (PARTITION BY label ORDER BY bin) AS BIGINT) AS cum_count,
       CAST(SUM(bin_count) OVER (PARTITION BY label) AS BIGINT) AS class_total
FROM binned
"""


@register(
    "cnn_pipeline_survival",
    survey_ref="§3.3,M1,S5,P3,A5,A6",
    oracle=cnn.cnn_oracle_sql(final_select=_CNN_SURVIVAL_FINAL),
)
def q_cnn_pipeline_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's COMPLETE evaluate flow with the real network in
    the loop (``evaluate_classification.py:60-148``): persisted CNN_B
    artifact → full conv+fc forward per event → sigmoid score →
    zenith/energy band cut → per-class survival curve (cumulative
    score histogram). One DAG: the Arrow inference stage feeds the
    band filter and the bin/window aggregation directly — scores never
    leave the cluster. The DuckDB oracle extends the SAME relational
    network forward with the survival composition, so the end-to-end
    physics result (not just the scores) is hash-checked."""
    scored = shower(_cnn_scored_frame(spark, sf_dir), F.round(F.col("sigmoid"), 6).alias("score"))
    band = scored.filter(band_cut((14.0, 16.0)))
    # compose the flagship operator, don't reimplement it: width
    # 1.0/20 == 0.05 exactly, so the binning matches the oracle
    curve = survival_curve(band, label_col="label", prob_col="score", nbins=20)
    return curve.select(
        "label",
        "bin",
        F.col("cum_count").cast("bigint").alias("cum_count"),
        F.col("class_total").cast("bigint").alias("class_total"),
    )


@register(
    "polynomial_features",
    survey_ref="M5",
    oracle=f"""
WITH {SHOWER_CTE}
SELECT event_id,
       lg_e AS t_x,
       lg_e * lg_e AS t_x2,
       ze AS t_y,
       lg_e * ze AS t_xy,
       ze * ze AS t_y2
FROM shower
""",
)
def q_polynomial_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-2 polynomial feature expansion (SURVEY M5; reference
    constructs ``PolynomialFeatures(degree=2)`` at
    ``train_classification.py:271-274`` but bypasses it). MLlib
    ``PolynomialExpansion`` term order for (x, y) is
    (x, x², y, x·y, y²) with NO bias term — sklearn's default prepends
    a constant-1 column and orders degree-major; the oracle compares
    MLlib's term set positionally. Terms are exact IEEE products, so
    the comparison is hash-exact, no rounding."""
    df = shower_frame(spark, sf_dir).select("event_id", "lg_e", "ze")
    expanded = pipeline.expand_polynomial(df, ["lg_e", "ze"], degree=2)
    p = F.col("poly")
    return expanded.select(
        "event_id",
        p[0].alias("t_x"),
        p[1].alias("t_x2"),
        p[2].alias("t_y"),
        p[3].alias("t_xy"),
        p[4].alias("t_y2"),
    )


@register(
    "mllib_als_recommend",
    survey_ref="M4,§2.12",
    oracle="""
SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       3 AS recs_per_user_lo,
       3 AS recs_per_user_hi,
       1 AS preds_finite,
       1 AS items_in_domain
FROM events
""",
)
def q_mllib_als_recommend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collaborative-filtering recommendations via MLlib ALS — the
    matrix-factorization workload a training-data platform runs next to
    its corpus pipelines (implicit user→document affinity).  Ratings
    are derived deterministically from ``events`` (user_id × a 100-item
    catalog, integer rating 1–5), ALS(rank=4, maxIter=5, seed=7), then
    ``recommendForAllUsers(3)``.

    ALS factors come from a random-init alternating solver, so (like
    ``mllib_lr_pipeline``) the checked surface is the pipeline's
    INVARIANTS, which are deterministic: every training user receives
    exactly 3 recommendations (none lost, none duplicated — lo = hi =
    3), every recommended item is from the catalog domain, and every
    predicted score is finite.  A recommender that drops cold users,
    leaks out-of-catalog ids, or emits NaN scores fails the oracle.

    Scale notes: ALS is MLlib's flagship *block-partitioned* factorizer
    (user/item factor blocks co-partitioned to keep each least-squares
    solve local); ``recommendForAllUsers`` is the blocked cross-product
    top-k, not a naive user×item materialization."""
    from pyspark.ml.recommendation import ALS

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    ratings = ev.select(
        F.col("user_id").cast("int").alias("user"),
        (F.col("event_id") % 100).cast("int").alias("item"),
        ((F.col("event_id") * 7 % 5) + 1).cast("float").alias("rating"),
    )
    als = ALS(
        rank=4,
        maxIter=5,
        seed=7,
        regParam=0.1,
        userCol="user",
        itemCol="item",
        ratingCol="rating",
        coldStartStrategy="drop",
    )
    model = als.fit(ratings)
    recs = model.recommendForAllUsers(3).select(
        "user", F.explode("recommendations").alias("r")
    ).select("user", F.col("r.item").alias("item"), F.col("r.rating").alias("score"))
    per_user = recs.groupBy("user").agg(
        F.count(F.lit(1)).alias("n_recs"),
        F.min(F.when(F.col("item").between(0, 99), 1).otherwise(0)).alias("item_ok"),
        F.min(
            F.when(~F.isnan("score") & F.col("score").isNotNull(), 1).otherwise(0)
        ).alias("finite_ok"),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.min("n_recs").cast("int").alias("recs_per_user_lo"),
        F.max("n_recs").cast("int").alias("recs_per_user_hi"),
        F.min("finite_ok").cast("int").alias("preds_finite"),
        F.min("item_ok").cast("int").alias("items_in_domain"),
    )


@register(
    "mlp_iter_inference",
    survey_ref="M1,S5,§2.12",
    oracle=f"""
WITH {SHOWER_CTE}
SELECT event_id,
       ROUND({inference.mlp_score_sql(_mlp_state(), _MLP_INPUT_EXPRS)}, 6) AS score
FROM shower
""",
)
def q_mlp_iter_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator-form (``Iterator[pd.Series] → Iterator[pd.Series]``)
    pandas-UDF inference from the same persisted artifact as
    ``mlp_artifact_inference`` — the API whose contract amortizes the
    checkpoint load over every Arrow batch in the task (a real torch
    model's load + device transfer dominates a batch, so this is the
    form a production batch scorer uses).  Numerics are identical to
    the scalar form, so both variants are held to the SAME
    unrolled-SQL oracle — the gate proves the two UDF evaluation modes
    are observationally equivalent, not just both plausible."""
    import os

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import SCRATCH
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import load_table  # noqa: F401

    os.makedirs(SCRATCH, exist_ok=True)
    artifact = os.path.join(SCRATCH, "mlp_head.npz")
    inference.save_model_artifact(artifact, _mlp_state())
    df = shower_frame(spark, sf_dir)
    feats = F.array(*[F.expr(e).cast("double") for e in _MLP_INPUT_EXPRS])
    score = inference.make_mlp_scorer_iter_udf(artifact)
    return df.select("event_id", F.round(score(feats), 6).alias("score"))


# ------------------------------------------------- distributed training

_GD_S = 65536       # fixed-point scale 2^16 for weights/residuals
_GD_SHIFT = 13      # learning rate 2^-13 (< 2/λmax of the feature moments)
_GD_EPOCHS = 3


def _gd_fdiv(a: str, b: str) -> str:
    """Portable exact floor division for possibly-negative a (b > 0):
    both engines' % follows the dividend's sign, so the positive-mod
    subtraction makes a exactly divisible, and integer division of the
    adjusted numerator is floor division in both."""
    return f"(({a}) - (((({a}) % ({b})) + ({b})) % ({b}))) // ({b})"


def _gd_oracle_sql() -> str:
    """Unrolled {epochs}-epoch exact gradient descent in SQL: the same
    integer fixed-point arithmetic the Spark loop performs, so the
    final weights hash-match bit for bit."""
    lines = [
        "WITH d AS (SELECT CAST(event_id % 97 AS BIGINT) AS x1,",
        "       CAST(user_id % 89 AS BIGINT) AS x2,",
        "       CAST(3 * (event_id % 97) - 2 * (user_id % 89) + (event_id % 7) AS BIGINT) AS y",
        "  FROM events),",
        "n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),",
        "w0 AS (SELECT CAST(0 AS BIGINT) AS a, CAST(0 AS BIGINT) AS b, CAST(0 AS BIGINT) AS c),",
    ]
    bexpr = f"n.n * {1 << _GD_SHIFT}"
    for e in range(1, _GD_EPOCHS + 1):
        lines.append(
            f"r{e} AS (SELECT ((w.a + w.b * x1 + w.c * x2) - y * {_GD_S}) AS r, x1, x2"
            f" FROM d, w{e-1} w),"
        )
        lines.append(
            f"g{e} AS (SELECT CAST(SUM(r) AS BIGINT) AS g0, CAST(SUM(r * x1) AS BIGINT) AS g1,"
            f" CAST(SUM(r * x2) AS BIGINT) AS g2, CAST(SUM(ABS(r)) AS BIGINT) AS sar FROM r{e}),"
        )
        lines.append(
            f"w{e} AS (SELECT CAST(w.a - ({_gd_fdiv('g.g0', bexpr)}) AS BIGINT) AS a,"
            f" CAST(w.b - ({_gd_fdiv('g.g1', bexpr)}) AS BIGINT) AS b,"
            f" CAST(w.c - ({_gd_fdiv('g.g2', bexpr)}) AS BIGINT) AS c"
            f" FROM w{e-1} w, g{e} g, n),"
        )
    lines[-1] = lines[-1].rstrip(",")
    selects = [
        f"SELECT CAST({e} AS INTEGER) AS epoch, w{e}.a AS w0, w{e}.b AS w1, w{e}.c AS w2,"
        f" g{e}.sar AS sum_abs_resid FROM w{e}, g{e}"
        for e in range(1, _GD_EPOCHS + 1)
    ]
    return "\n".join(lines) + "\n" + "\nUNION ALL\n".join(selects)


@register(
    "distributed_gd_training",
    survey_ref="M2,§2.6,§2.12",
    oracle=_gd_oracle_sql(),
)
def q_distributed_gd_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed model TRAINING as DataFrame algebra — the engine-
    native counterpart of the reference's training loop
    (``train_classification.py:61-160``: epochs × {forward, loss,
    gradient, step}), in the exact decomposition every data-parallel
    trainer (TorchDistributor, Horovod, parameter servers) uses:
    broadcast the current weights, compute per-row gradient
    contributions IN the cluster, AllReduce them (here: one map-side-
    combinable aggregate per epoch — the shuffle moves 4 numbers per
    partition), apply the optimizer step driver-side, repeat.  The
    per-epoch ``first()`` is a 1-row bounded collect — loop control,
    same license as the BPE top-1 rule and the k-means seeds.

    Numerics are EXACT fixed-point (weights in units of 2⁻¹⁶, learning
    rate 2⁻¹³, floor-division step via a portable positive-mod
    identity), so three epochs of squared-loss gradient descent on
    integer features hash-match an unrolled-SQL oracle bit for bit —
    a *training loop* under the same exact-hash gate as every other
    operator.  The cached feature frame is scanned once per epoch
    (epochs × one aggregate), never collected; sum_abs_resid is the
    epoch-start L1 training loss, monotone decreasing here — the
    convergence signal the reference tracks via its best-epoch
    bookkeeping (``train_classification.py:138-152``)."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        (F.col("event_id") % 97).cast("bigint").alias("x1"),
        (F.col("user_id") % 89).cast("bigint").alias("x2"),
        (
            3 * (F.col("event_id") % 97)
            - 2 * (F.col("user_id") % 89)
            + F.col("event_id") % 7
        )
        .cast("bigint")
        .alias("y"),
    ).cache()
    try:
        n = d.count()
        b = n << _GD_SHIFT
        w = [0, 0, 0]
        out = []
        for epoch in range(1, _GD_EPOCHS + 1):
            r = (
                F.lit(w[0])
                + F.lit(w[1]) * F.col("x1")
                + F.lit(w[2]) * F.col("x2")
                - F.col("y") * _GD_S
            )
            g0, g1, g2, sar = d.agg(
                F.sum(r),
                F.sum(r * F.col("x1")),
                F.sum(r * F.col("x2")),
                F.sum(F.abs(r)),
            ).first()
            # Python // IS floor division — the same step as the oracle
            w = [w[0] - g0 // b, w[1] - g1 // b, w[2] - g2 // b]
            out.append((epoch, w[0], w[1], w[2], int(sar)))
    finally:
        d.unpersist()
    return spark.createDataFrame(
        out, "epoch int, w0 long, w1 long, w2 long, sum_abs_resid long"
    )


# --------------------------------------------- training-loop semantics
#
# The reference's training loop (train_classification.py:61-160) is
# epochs × {forward, loss, gradient, optimizer step} with three pieces
# of bookkeeping this engine must also express: an lr SCHEDULE
# (StepLR(step_size, gamma=0.5), train_classification.py:74), an
# OPTIMIZER with moment state (optim.Adam, train_classification.py:73)
# and BEST-EPOCH tracking (train_classification.py:138-152).  Each is
# a distributed query below, in the same decomposition as
# distributed_gd_training (broadcast weights → per-row gradient
# contributions → one map-side-combinable aggregate per epoch → driver
# applies the step), with EXACT fixed-point arithmetic so a *training
# loop with optimizer state* is gated by exact hash.

_SLR_EPOCHS = 4


def _steplr_shift(e: int) -> int:
    """StepLR(step_size=2, gamma=1/2) as a shift: lr = 2^-(13 + (e-1)//2)."""
    return _GD_SHIFT + (e - 1) // 2


def _steplr_oracle_sql() -> str:
    """Unrolled GD with the per-epoch lr schedule baked into each
    step's divisor — bit-exact vs the Spark loop."""
    lines = [
        "WITH d AS (SELECT CAST(event_id % 97 AS BIGINT) AS x1,",
        "       CAST(user_id % 89 AS BIGINT) AS x2,",
        "       CAST(3 * (event_id % 97) - 2 * (user_id % 89) + (event_id % 7) AS BIGINT) AS y",
        "  FROM events),",
        "n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),",
        "w0 AS (SELECT CAST(0 AS BIGINT) AS a, CAST(0 AS BIGINT) AS b, CAST(0 AS BIGINT) AS c),",
    ]
    for e in range(1, _SLR_EPOCHS + 1):
        bexpr = f"n.n * {1 << _steplr_shift(e)}"
        lines.append(
            f"r{e} AS (SELECT ((w.a + w.b * x1 + w.c * x2) - y * {_GD_S}) AS r, x1, x2"
            f" FROM d, w{e-1} w),"
        )
        lines.append(
            f"g{e} AS (SELECT CAST(SUM(r) AS BIGINT) AS g0, CAST(SUM(r * x1) AS BIGINT) AS g1,"
            f" CAST(SUM(r * x2) AS BIGINT) AS g2, CAST(SUM(ABS(r)) AS BIGINT) AS sar FROM r{e}),"
        )
        lines.append(
            f"w{e} AS (SELECT CAST(w.a - ({_gd_fdiv('g.g0', bexpr)}) AS BIGINT) AS a,"
            f" CAST(w.b - ({_gd_fdiv('g.g1', bexpr)}) AS BIGINT) AS b,"
            f" CAST(w.c - ({_gd_fdiv('g.g2', bexpr)}) AS BIGINT) AS c"
            f" FROM w{e-1} w, g{e} g, n),"
        )
    lines[-1] = lines[-1].rstrip(",")
    selects = [
        f"SELECT CAST({e} AS INTEGER) AS epoch, CAST({_steplr_shift(e)} AS INTEGER) AS lr_shift,"
        f" w{e}.a AS w0, w{e}.b AS w1, w{e}.c AS w2,"
        f" g{e}.sar AS sum_abs_resid FROM w{e}, g{e}"
        for e in range(1, _SLR_EPOCHS + 1)
    ]
    return "\n".join(lines) + "\n" + "\nUNION ALL\n".join(selects)


@register(
    "distributed_steplr_training",
    survey_ref="M2,§2.6",
    oracle=_steplr_oracle_sql(),
)
def q_distributed_steplr_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gradient descent under the reference's lr SCHEDULE
    (``train_classification.py:74``: ``StepLR(step_size, gamma=0.5)``)
    — the learning rate halves every 2 epochs, expressed exactly as a
    widening shift in the fixed-point step divisor (gamma=1/2 is a
    shift, so the schedule costs zero precision).  Same AllReduce
    decomposition as ``distributed_gd_training``; the schedule is
    driver-side state, exactly as a torch scheduler is."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        (F.col("event_id") % 97).cast("bigint").alias("x1"),
        (F.col("user_id") % 89).cast("bigint").alias("x2"),
        (
            3 * (F.col("event_id") % 97)
            - 2 * (F.col("user_id") % 89)
            + F.col("event_id") % 7
        )
        .cast("bigint")
        .alias("y"),
    ).cache()
    try:
        n = d.count()
        w = [0, 0, 0]
        out = []
        for epoch in range(1, _SLR_EPOCHS + 1):
            b = n << _steplr_shift(epoch)
            r = (
                F.lit(w[0])
                + F.lit(w[1]) * F.col("x1")
                + F.lit(w[2]) * F.col("x2")
                - F.col("y") * _GD_S
            )
            g0, g1, g2, sar = d.agg(
                F.sum(r),
                F.sum(r * F.col("x1")),
                F.sum(r * F.col("x2")),
                F.sum(F.abs(r)),
            ).first()
            w = [w[0] - g0 // b, w[1] - g1 // b, w[2] - g2 // b]
            out.append((epoch, _steplr_shift(epoch), w[0], w[1], w[2], int(sar)))
    finally:
        d.unpersist()
    return spark.createDataFrame(
        out, "epoch int, lr_shift int, w0 long, w1 long, w2 long, sum_abs_resid long"
    )


_PKT_EPOCHS = 4


def _pocket_feats_sql() -> tuple[str, str, str]:
    return (
        "CAST(event_id % 97 - 48 AS BIGINT)",
        "CAST(user_id % 89 - 44 AS BIGINT)",
        "CAST(CASE WHEN 5 * (event_id % 97 - 48) - 3 * (user_id % 89 - 44)"
        " + (event_id % 11) - 5 > 0 THEN 1 ELSE -1 END AS BIGINT)",
    )


def _pocket_oracle_sql() -> str:
    """Unrolled batch perceptron with pocket bookkeeping: per-epoch
    misclassification count + conditional gradient sums, best-so-far
    epoch via LEAST/CASE over the scalar epoch CTEs."""
    fx1, fx2, fy = _pocket_feats_sql()
    lines = [
        f"WITH d AS (SELECT {fx1} AS x1, {fx2} AS x2, {fy} AS y FROM events),",
        "w0 AS (SELECT CAST(0 AS BIGINT) AS a, CAST(0 AS BIGINT) AS b, CAST(0 AS BIGINT) AS c),",
    ]
    for e in range(1, _PKT_EPOCHS + 1):
        lines.append(
            f"m{e} AS (SELECT (y * (w.a + w.b * x1 + w.c * x2) <= 0) AS mis, x1, x2, y"
            f" FROM d, w{e-1} w),"
        )
        lines.append(
            f"g{e} AS (SELECT CAST(SUM(CASE WHEN mis THEN 1 ELSE 0 END) AS BIGINT) AS errors,"
            f" CAST(SUM(CASE WHEN mis THEN y ELSE 0 END) AS BIGINT) AS g0,"
            f" CAST(SUM(CASE WHEN mis THEN y * x1 ELSE 0 END) AS BIGINT) AS g1,"
            f" CAST(SUM(CASE WHEN mis THEN y * x2 ELSE 0 END) AS BIGINT) AS g2 FROM m{e}),"
        )
        lines.append(
            f"w{e} AS (SELECT CAST(w.a + g.g0 AS BIGINT) AS a, CAST(w.b + g.g1 AS BIGINT) AS b,"
            f" CAST(w.c + g.g2 AS BIGINT) AS c FROM w{e-1} w, g{e} g),"
        )
    lines[-1] = lines[-1].rstrip(",")
    selects = []
    for e in range(1, _PKT_EPOCHS + 1):
        errs = [f"g{k}.errors" for k in range(1, e + 1)]
        best = f"LEAST({', '.join(errs)})" if len(errs) > 1 else errs[0]
        argmin = "CASE " + " ".join(
            f"WHEN g{k}.errors = {best} THEN {k}" for k in range(1, e + 1)
        ) + " END"
        froms = ", ".join([f"w{e}"] + [f"g{k}" for k in range(1, e + 1)])
        selects.append(
            f"SELECT CAST({e} AS INTEGER) AS epoch, g{e}.errors AS errors,"
            f" w{e}.a AS w0, w{e}.b AS w1, w{e}.c AS w2,"
            f" CAST({argmin} AS INTEGER) AS best_epoch,"
            f" CAST({best} AS BIGINT) AS best_errors FROM {froms}"
        )
    return "\n".join(lines) + "\n" + "\nUNION ALL\n".join(selects)


@register(
    "distributed_pocket_training",
    survey_ref="M2,A7,§2.6",
    oracle=_pocket_oracle_sql(),
)
def q_distributed_pocket_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed CLASSIFICATION training with best-epoch tracking —
    the pocket perceptron: per epoch, the misclassified rows' label-
    weighted feature sums are the exact (sub)gradient of the
    perceptron loss, collected in one conditional aggregate; the
    driver applies the batch update and keeps the best-so-far epoch by
    validation-style error count, the reference's best-epoch
    bookkeeping (``train_classification.py:138-152``: track min-loss
    epoch, keep those weights).  The labels carry a deliberate noise
    term (``event_id % 11``) so the problem is not separable and the
    pocket choice is non-trivial.  All-integer arithmetic: a full
    classification training loop under the exact-hash gate."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    x1 = (F.col("event_id") % 97 - 48).cast("bigint")
    x2 = (F.col("user_id") % 89 - 44).cast("bigint")
    y = (
        F.when(5 * x1 - 3 * x2 + (F.col("event_id") % 11) - 5 > 0, 1)
        .otherwise(-1)
        .cast("bigint")
    )
    d = ev.select(x1.alias("x1"), x2.alias("x2"), y.alias("y")).cache()
    try:
        w = [0, 0, 0]
        best_epoch, best_errors = 0, None
        out = []
        for epoch in range(1, _PKT_EPOCHS + 1):
            mis = (
                F.col("y")
                * (F.lit(w[0]) + F.lit(w[1]) * F.col("x1") + F.lit(w[2]) * F.col("x2"))
                <= 0
            )
            errors, g0, g1, g2 = d.agg(
                F.sum(F.when(mis, 1).otherwise(0)),
                F.sum(F.when(mis, F.col("y")).otherwise(0)),
                F.sum(F.when(mis, F.col("y") * F.col("x1")).otherwise(0)),
                F.sum(F.when(mis, F.col("y") * F.col("x2")).otherwise(0)),
            ).first()
            if best_errors is None or errors < best_errors:
                best_epoch, best_errors = epoch, errors
            w = [w[0] + g0, w[1] + g1, w[2] + g2]
            out.append((epoch, int(errors), w[0], w[1], w[2], best_epoch, int(best_errors)))
    finally:
        d.unpersist()
    return spark.createDataFrame(
        out,
        "epoch int, errors long, w0 long, w1 long, w2 long, best_epoch int, best_errors long",
    )


_ADAM_EPOCHS = 4
_ADAM_QSHIFT = 13  # second-moment inputs pre-scaled by 2^-13 so q^2 fits int64


def _adam_isqrt_sql(fs: str, v: str) -> str:
    """Exact integer sqrt in SQL: double FLOOR(SQRT(v)) is within ±1
    of isqrt(v) for v < 2^53 (v here is ≤ ~2^43), so one CASE
    correction makes it exact — matching Python math.isqrt."""
    return (
        f"(CASE WHEN ({fs} + 1) * ({fs} + 1) <= ({v}) THEN {fs} + 1"
        f" WHEN ({fs}) * ({fs}) > ({v}) THEN {fs} - 1 ELSE {fs} END)"
    )


def _adam_oracle_sql() -> str:
    """Unrolled exact fixed-point Adam: per epoch, the mean-gradient /
    first-moment / second-moment updates are scalar CTE arithmetic;
    bias correction multiplies by 8^t/(8^t-7^t) and 16^t/(16^t-15^t)
    exactly; the step divides the corrected first moment by
    isqrt(corrected second moment)+1 with floor semantics."""
    lines = [
        "WITH d AS (SELECT CAST(event_id % 97 AS BIGINT) AS x1,",
        "       CAST(user_id % 89 AS BIGINT) AS x2,",
        "       CAST(3 * (event_id % 97) - 2 * (user_id % 89) + (event_id % 7) AS BIGINT) AS y",
        "  FROM events),",
        "n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),",
        "w0 AS (SELECT CAST(0 AS BIGINT) AS a, CAST(0 AS BIGINT) AS b, CAST(0 AS BIGINT) AS c),",
        "a0 AS (SELECT CAST(0 AS BIGINT) AS m0, CAST(0 AS BIGINT) AS m1, CAST(0 AS BIGINT) AS m2,"
        " CAST(0 AS BIGINT) AS v0, CAST(0 AS BIGINT) AS v1, CAST(0 AS BIGINT) AS v2),",
    ]
    q = 1 << _ADAM_QSHIFT
    for e in range(1, _ADAM_EPOCHS + 1):
        lines.append(
            f"r{e} AS (SELECT ((w.a + w.b * x1 + w.c * x2) - y * {_GD_S}) AS r, x1, x2"
            f" FROM d, w{e-1} w),"
        )
        lines.append(
            f"s{e} AS (SELECT CAST(SUM(r) AS BIGINT) AS s0, CAST(SUM(r * x1) AS BIGINT) AS s1,"
            f" CAST(SUM(r * x2) AS BIGINT) AS s2, CAST(SUM(ABS(r)) AS BIGINT) AS sar FROM r{e}),"
        )
        # mean gradient per coordinate, then moment updates
        gn = {j: _gd_fdiv(f"s.s{j}", "n.n") for j in range(3)}
        lines.append(
            f"u{e} AS (SELECT "
            + ", ".join(
                f"CAST({gn[j]} AS BIGINT) AS gn{j}" for j in range(3)
            )
            + ", s.sar AS sar FROM s{e} s, n),".replace("{e}", str(e))
        )
        mdef = ", ".join(
            f"CAST({_gd_fdiv(f'7 * a.m{j} + u.gn{j}', '8')} AS BIGINT) AS m{j}"
            for j in range(3)
        )
        vparts = []
        for j in range(3):
            qj = _gd_fdiv(f"u.gn{j}", str(q))
            vparts.append(
                f"CAST({_gd_fdiv(f'15 * a.v{j} + ({qj}) * ({qj})', '16')} AS BIGINT) AS v{j}"
            )
        vdef = ", ".join(vparts)
        lines.append(f"a{e} AS (SELECT {mdef}, {vdef} FROM a{e-1} a, u{e} u),")
        b1n, b1d = 8**e, 8**e - 7**e
        b2n, b2d = 16**e, 16**e - 15**e
        hdef = []
        for j in range(3):
            hdef.append(
                f"CAST({_gd_fdiv(f'a.m{j} * {b1n}', str(b1d))} AS BIGINT) AS mh{j}"
            )
            hdef.append(
                f"CAST({_gd_fdiv(f'a.v{j} * {b2n}', str(b2d))} AS BIGINT) AS vh{j}"
            )
        lines.append(f"h{e} AS (SELECT {', '.join(hdef)} FROM a{e} a),")
        fdef = ", ".join(
            f"CAST(FLOOR(SQRT(CAST(vh{j} AS DOUBLE))) AS BIGINT) AS fs{j}, mh{j}, vh{j}"
            for j in range(3)
        )
        lines.append(f"f{e} AS (SELECT {fdef} FROM h{e}),")
        wcols = ["a", "b", "c"]
        wdef = ", ".join(
            f"CAST(w.{wcols[j]} - ({_gd_fdiv(f'f.mh{j}', _adam_isqrt_sql(f'f.fs{j}', f'f.vh{j}') + ' + 1')}) AS BIGINT) AS {wcols[j]}"
            for j in range(3)
        )
        lines.append(f"w{e} AS (SELECT {wdef} FROM w{e-1} w, f{e} f),")
    lines[-1] = lines[-1].rstrip(",")
    selects = [
        f"SELECT CAST({e} AS INTEGER) AS epoch, w{e}.a AS w0, w{e}.b AS w1, w{e}.c AS w2,"
        f" u{e}.sar AS sum_abs_resid FROM w{e}, u{e}"
        for e in range(1, _ADAM_EPOCHS + 1)
    ]
    return "\n".join(lines) + "\n" + "\nUNION ALL\n".join(selects)


@register(
    "distributed_adam_training",
    survey_ref="M2,§2.6",
    oracle=_adam_oracle_sql(),
)
def q_distributed_adam_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's OPTIMIZER (``train_classification.py:73``:
    ``optim.Adam``) as a distributed training loop with exact
    fixed-point state: per epoch one map-side-combinable aggregate
    ships 4 numbers per partition (the AllReduce); the driver keeps
    Adam's per-coordinate first/second moment EMAs (β₁=7/8, β₂=15/16 —
    dyadic, so the decay is a floor-shift), applies the exact bias
    correction 8ᵗ/(8ᵗ−7ᵗ), 16ᵗ/(16ᵗ−15ᵗ), and steps by
    m̂ // (isqrt(v̂)+1) using ``math.isqrt`` — mirrored bit-for-bit in
    the oracle by a ±1-corrected FLOOR(SQRT(·)).  Adam's
    per-coordinate normalization is visible in the result: the w₂
    coordinate moves against a much smaller raw gradient than w₁ yet
    steps at comparable magnitude."""
    import math

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        (F.col("event_id") % 97).cast("bigint").alias("x1"),
        (F.col("user_id") % 89).cast("bigint").alias("x2"),
        (
            3 * (F.col("event_id") % 97)
            - 2 * (F.col("user_id") % 89)
            + F.col("event_id") % 7
        )
        .cast("bigint")
        .alias("y"),
    ).cache()
    try:
        n = d.count()
        w = [0, 0, 0]
        m = [0, 0, 0]
        v = [0, 0, 0]
        out = []
        for epoch in range(1, _ADAM_EPOCHS + 1):
            r = (
                F.lit(w[0])
                + F.lit(w[1]) * F.col("x1")
                + F.lit(w[2]) * F.col("x2")
                - F.col("y") * _GD_S
            )
            s0, s1, s2, sar = d.agg(
                F.sum(r),
                F.sum(r * F.col("x1")),
                F.sum(r * F.col("x2")),
                F.sum(F.abs(r)),
            ).first()
            gn = [s0 // n, s1 // n, s2 // n]
            b1n, b1d = 8**epoch, 8**epoch - 7**epoch
            b2n, b2d = 16**epoch, 16**epoch - 15**epoch
            for j in range(3):
                m[j] = (7 * m[j] + gn[j]) // 8
                qj = gn[j] // (1 << _ADAM_QSHIFT)
                v[j] = (15 * v[j] + qj * qj) // 16
                mh = (m[j] * b1n) // b1d
                vh = (v[j] * b2n) // b2d
                w[j] = w[j] - mh // (math.isqrt(vh) + 1)
            out.append((epoch, w[0], w[1], w[2], int(sar)))
    finally:
        d.unpersist()
    return spark.createDataFrame(
        out, "epoch int, w0 long, w1 long, w2 long, sum_abs_resid long"
    )


@register(
    "decision_stump_training",
    survey_ref="M2,A5,A8,§2.6,§2.8",
    oracle="""
WITH d AS (
  SELECT CAST(event_id % 97 AS BIGINT) AS x,
         CASE WHEN 5 * (event_id % 97) + (event_id % 11) >= 245 THEN 1 ELSE 0 END AS y
  FROM events
),
h AS (
  SELECT x, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS BIGINT) AS pos
  FROM d GROUP BY x
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_all, CAST(SUM(pos) AS BIGINT) AS pos_all FROM h),
cum AS (
  SELECT x, n, pos,
         SUM(n) OVER (ORDER BY x) AS n_le,
         SUM(pos) OVER (ORDER BY x) AS pos_le
  FROM h
),
err AS (
  SELECT x + 1 AS threshold,
         -- predict 0 for x < t, 1 for x >= t: errors = pos_le + (neg > t side)
         CAST(pos_le + ((tot.n_all - n_le) - (tot.pos_all - pos_le)) AS BIGINT) AS n_errors
  FROM cum, tot
)
SELECT threshold, n_errors,
       (SELECT n_all FROM tot) AS n_rows
FROM err
WHERE n_errors = (SELECT MIN(n_errors) FROM err)
ORDER BY threshold
LIMIT 1
""",
)
def q_decision_stump_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECISION-STUMP training — the weak learner every boosting round
    fits, trained EXACTLY and distributed: one histogram aggregate
    over the feature (bounded bins), a cumulative window over the TINY
    histogram enumerates every candidate threshold's error count in
    closed form (errors(t) = positives below t + negatives at/above
    t), and the argmin with a deterministic smallest-threshold
    tie-break is the fitted model.  This is the exact decomposition
    XGBoost-style trainers run per feature per node — histogram, scan,
    argmin — and the label noise (``event_id % 11``) keeps the best
    split's error nonzero so the argmin is non-trivial."""
    from pyspark.sql import Window

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        (F.col("event_id") % 97).cast("bigint").alias("x"),
        F.when(5 * (F.col("event_id") % 97) + F.col("event_id") % 11 >= 245, 1)
        .otherwise(0)
        .alias("y"),
    )
    h = d.groupBy("x").agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos"))
    tot = h.agg(F.sum("n").alias("n_all"), F.sum("pos").alias("pos_all"))
    wc = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    cum = h.select(
        "x",
        F.sum("n").over(wc).alias("n_le"),
        F.sum("pos").over(wc).alias("pos_le"),
    )
    err = (
        cum.crossJoin(F.broadcast(tot))
        .select(
            (F.col("x") + 1).alias("threshold"),
            (
                F.col("pos_le")
                + (F.col("n_all") - F.col("n_le"))
                - (F.col("pos_all") - F.col("pos_le"))
            )
            .cast("long")
            .alias("n_errors"),
            F.col("n_all").alias("n_rows"),
        )
    )
    return err.orderBy("n_errors", "threshold").limit(1)


@register(
    "exact_auc_report",
    survey_ref="A7,A5,§2.6,§2.8",
    oracle="""
WITH d AS (
  SELECT CAST((event_id * 37 + user_id * 11) % 101 AS BIGINT) AS score,
         CASE WHEN 5 * (event_id % 97) + (event_id % 11) >= 245 THEN 1 ELSE 0 END AS y
  FROM events
),
h AS (
  SELECT score, CAST(SUM(y) AS BIGINT) AS pos,
         CAST(COUNT(*) - SUM(y) AS BIGINT) AS neg
  FROM d GROUP BY score
),
c AS (
  SELECT score, pos, neg,
         SUM(neg) OVER (ORDER BY score) - neg AS neg_below
  FROM h
),
t AS (SELECT CAST(SUM(pos) AS BIGINT) AS p, CAST(SUM(neg) AS BIGINT) AS n FROM h)
SELECT t.p AS n_pos, t.n AS n_neg,
       CAST(SUM(c.pos * (2 * c.neg_below + c.neg)) AS BIGINT) AS auc_num2,
       CAST(2 * t.p * t.n AS BIGINT) AS auc_den2,
       ROUND(CAST(SUM(c.pos * (2 * c.neg_below + c.neg)) AS DOUBLE)
             / (2.0 * t.p * t.n), 6) AS auc
FROM c, t GROUP BY t.p, t.n
""",
)
def q_exact_auc_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC-AUC — with proper tie handling — computed WITHOUT the
    global sort sklearn does: AUC is the Mann-Whitney U statistic, so
    a score histogram (one bounded-key aggregate), a cumulative window
    over the tiny histogram, and Σ pos_s·(2·neg_below + neg_at) / 2PN
    give the exact value; ties contribute the standard ½ credit via
    the integer ×2 numerator, so the statistic ships as an exact
    integer ratio plus one rounded division.  This is the model-eval
    counterpart of the two-phase percentile: the fact shuffles once
    into score bins, everything ranked happens on the bins."""
    from pyspark.sql import Window

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        ((F.col("event_id") * 37 + F.col("user_id") * 11) % 101).cast("bigint").alias("score"),
        F.when(5 * (F.col("event_id") % 97) + F.col("event_id") % 11 >= 245, 1)
        .otherwise(0)
        .alias("y"),
    )
    h = d.groupBy("score").agg(
        F.sum("y").alias("pos"), (F.count(F.lit(1)) - F.sum("y")).alias("neg")
    )
    wc = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, 0)
    c = h.select(
        "score", "pos", "neg", (F.sum("neg").over(wc) - F.col("neg")).alias("neg_below")
    )
    t = h.agg(F.sum("pos").alias("p"), F.sum("neg").alias("n"))
    num = F.sum(F.col("pos") * (2 * F.col("neg_below") + F.col("neg")))
    agg = c.agg(num.alias("auc_num2"))
    return (
        agg.crossJoin(F.broadcast(t))
        .select(
            F.col("p").alias("n_pos"),
            F.col("n").alias("n_neg"),
            F.col("auc_num2").cast("long").alias("auc_num2"),
            (2 * F.col("p") * F.col("n")).cast("long").alias("auc_den2"),
            F.round(
                F.col("auc_num2").cast("double") / (2.0 * F.col("p") * F.col("n")), 6
            ).alias("auc"),
        )
    )


@register(
    "pr_curve_report",
    survey_ref="A7,A5,§2.6,§2.8",
    oracle="""
WITH d AS (
  SELECT CAST((event_id * 37 + user_id * 11) % 101 AS BIGINT) AS score,
         CASE WHEN 5 * (event_id % 97) + (event_id % 11) >= 245 THEN 1 ELSE 0 END AS y
  FROM events
),
h AS (
  SELECT score, CAST(SUM(y) AS BIGINT) AS pos,
         CAST(COUNT(*) - SUM(y) AS BIGINT) AS neg
  FROM d GROUP BY score
),
t AS (SELECT CAST(SUM(pos) AS BIGINT) AS p FROM h),
c AS (
  SELECT score AS threshold,
         SUM(pos) OVER (ORDER BY score DESC) AS tp,
         SUM(neg) OVER (ORDER BY score DESC) AS fp
  FROM h
)
SELECT c.threshold, CAST(c.tp AS BIGINT) AS tp, CAST(c.fp AS BIGINT) AS fp,
       CAST(t.p - c.tp AS BIGINT) AS fn
FROM c, t
WHERE c.threshold % 10 = 0
ORDER BY c.threshold
""",
)
def q_pr_curve_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRECISION-RECALL curve points from the SAME score histogram as
    ``exact_auc_report``: a descending cumulative over the bounded
    histogram yields TP/FP at EVERY threshold in one window pass —
    the full confusion-matrix sweep sklearn's ``precision_recall_curve``
    computes from a global sort, here with the fact shuffled once into
    score bins.  Counts ship as exact integers (precision/recall are
    one division away, left to the consumer to keep the gate
    rational); every 10th threshold is emitted to bound the report."""
    from pyspark.sql import Window

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        ((F.col("event_id") * 37 + F.col("user_id") * 11) % 101).cast("bigint").alias("score"),
        F.when(5 * (F.col("event_id") % 97) + F.col("event_id") % 11 >= 245, 1)
        .otherwise(0)
        .alias("y"),
    )
    h = d.groupBy("score").agg(
        F.sum("y").alias("pos"), (F.count(F.lit(1)) - F.sum("y")).alias("neg")
    )
    t = h.agg(F.sum("pos").alias("p"))
    wdesc = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    c = h.select(
        F.col("score").alias("threshold"),
        F.sum("pos").over(wdesc).alias("tp"),
        F.sum("neg").over(wdesc).alias("fp"),
    )
    return (
        c.crossJoin(F.broadcast(t))
        .filter(F.col("threshold") % 10 == 0)
        .select(
            "threshold",
            F.col("tp").cast("long").alias("tp"),
            F.col("fp").cast("long").alias("fp"),
            (F.col("p") - F.col("tp")).cast("long").alias("fn"),
        )
        .orderBy("threshold")
    )


@register(
    "calibration_reliability_report",
    survey_ref="A5,A7,§2.6",
    oracle="""
WITH d AS (
  SELECT CAST((event_id * 37 + user_id * 11) % 101 AS BIGINT) AS score,
         CASE WHEN 5 * (event_id % 97) + (event_id % 11) >= 245 THEN 1 ELSE 0 END AS y
  FROM events
)
SELECT CAST(score // 10 AS INTEGER) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(score) AS BIGINT) AS sum_score,
       CAST(SUM(y) AS BIGINT) AS n_pos
FROM d GROUP BY score // 10 ORDER BY bin
""",
)
def q_calibration_reliability_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALIBRATION (reliability-diagram) report: per score decile, the
    count, total predicted score, and positive count — the exact
    integer sufficient statistics from which mean-predicted vs
    observed-rate (and ECE) are one division each.  Completes the
    model-eval family (AUC, PR sweep, calibration) in the same shape:
    ONE bounded-bin aggregate over the fact, nothing ranked, nothing
    global — at 100 TB every evaluation in the family is a single
    map-side-combinable pass."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        ((F.col("event_id") * 37 + F.col("user_id") * 11) % 101).cast("bigint").alias("score"),
        F.when(5 * (F.col("event_id") % 97) + F.col("event_id") % 11 >= 245, 1)
        .otherwise(0)
        .alias("y"),
    )
    return (
        d.groupBy(F.expr("score DIV 10").cast("int").alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("score").alias("sum_score"),
            F.sum("y").alias("n_pos"),
        )
        .orderBy("bin")
    )


# ------------------------------------------- distributed CNN training (M2)
def _cnn_train_modules():
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.ml import cnn_train

    return cnn_train


def _train_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.ml import cnn_train
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import load_table

    return (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_id") % cnn_train.TRAIN_MOD == 0)
        .select("event_id")
    )


def _grad_sums_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-parameter global gradient sums: mapInPandas partitions each
    compute dense integer gradient sums over their event shard (the
    worker side of data-parallel SGD), and ONE fixed-width groupBy —
    ~4k (layer, idx) keys regardless of data volume — is the
    AllReduce."""
    import numpy as np
    import pandas as pd

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.ml import cnn_train

    state = cnn.cnn_state()

    def grad_fn(it):
        chunks = [pdf["event_id"].to_numpy() for pdf in it]
        eids = np.concatenate(chunks) if chunks else np.empty(0, dtype="int64")
        if eids.size == 0:
            return
        grads = cnn_train.partition_grads(state, eids)
        layers, idxs, gs = [], [], []
        for name, _kind, _n in cnn_train.LAYERS:
            g = grads[name].ravel()  # C-order — matches the oracle idx formulas
            layers.extend([name] * g.size)
            idxs.extend(range(g.size))
            gs.extend(int(v) for v in g)
        yield pd.DataFrame({"layer": layers, "idx": idxs, "g": gs})

    return (
        _train_batch(spark, sf_dir)
        .mapInPandas(grad_fn, "layer string, idx int, g long")
        .groupBy("layer", "idx")
        .agg(F.sum("g").alias("g"))
    )


def _cnn_train_oracle() -> str:
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.ml import cnn_train

    return cnn_train.cnn_train_oracle_sql()


@register(
    "distributed_cnn_training",
    survey_ref="M2,M1,§2.12",
    oracle=_cnn_train_oracle(),
)
def q_distributed_cnn_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED CNN_B BACKPROP (M2, ``train_classification.py:86-101``):
    one exact data-parallel gradient step through the FULL reference
    topology — 3 conv blocks + 3 fc layers (``cnn_model.py:11-43``).
    Each partition computes integer gradient sums for every parameter
    (straight-through-estimator quantized backward, see
    ``ml/cnn_train.py``), the fixed-width groupBy is the AllReduce, and
    the SGD step is integer arithmetic (lr = 2⁻¹²).  Output: per-layer
    gradient statistics and the updated-weight checksum, all exact
    BIGINTs — the DuckDB oracle recomputes the whole backward
    relationally (transposed conv as shifted join-aggregate).  At
    100 TB the only event-scale work is the embarrassingly-parallel
    per-shard backward; the shuffle is ~4k rows × partitions — the
    ring-AllReduce wire cost."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.ml import cnn_train

    sums = _grad_sums_df(spark, sf_dir)
    wsums = cnn_train.weight_int_sums(cnn.cnn_state())
    wdf = spark.createDataFrame(
        [(k, v) for k, v in sorted(wsums.items())], "layer string, wsum long"
    )
    return (
        sums.groupBy("layer")
        .agg(
            F.count(F.lit(1)).alias("n_params"),
            F.sum(F.abs(F.col("g"))).alias("grad_l1"),
            F.sum("g").alias("grad_sum"),
            F.max(F.abs(F.col("g"))).alias("grad_max_abs"),
        )
        .join(F.broadcast(wdf), "layer")
        .select(
            "layer",
            "n_params",
            "grad_l1",
            "grad_sum",
            "grad_max_abs",
            (F.col("wsum") - F.col("grad_sum")).alias("updated_w_checksum"),
        )
        .orderBy("layer")
    )


def _cnn_epoch_loss_oracle() -> str:
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.ml import cnn_train

    return cnn_train.cnn_epoch_loss_oracle_sql()


@register(
    "cnn_training_epoch2_loss",
    survey_ref="M2,M1,§2.12",
    oracle=_cnn_epoch_loss_oracle(),
)
def q_cnn_training_epoch2_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-EPOCH CNN_B TRAINING LOOP: epoch-1 forward + loss, exact
    gradient step (the ``distributed_cnn_training`` update), broadcast
    of the re-quantized weights back to the workers, epoch-2 forward +
    loss — the reference's epochs × {forward, loss, backward, step}
    decomposition (``train_classification.py:70-152``) with the REAL
    conv-stack gradient in the loop.  The gradient AllReduce result
    (~4k integers) is collected to the driver and re-broadcast inside
    the epoch-2 closure — bounded driver-loop control, the exact
    pattern of the k-means/BPE loops.  Loss is Σ|logit − y|·2¹⁸ as an
    exact integer per epoch."""
    import numpy as np
    import pandas as pd

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.ml import cnn_train

    state = cnn.cnn_state()
    # epoch-1 AllReduce: ~4k integers back to the driver (control plane)
    rows = _grad_sums_df(spark, sf_dir).collect()
    by_layer: dict = {}
    for r in rows:
        by_layer.setdefault(r["layer"], {})[r["idx"]] = r["g"]
    grad_sums = {}
    for name, _kind, _n in cnn_train.LAYERS:
        shape = cnn.cnn_state()[name].shape
        size = int(np.prod(shape))
        arr = np.zeros(size, dtype="int64")
        for i, v in by_layer.get(name, {}).items():
            arr[i] = v
        grad_sums[name] = arr.reshape(shape)
    state2 = cnn_train.updated_int_state(state, grad_sums)

    def loss_fn(state_, epoch):
        def fn(it):
            chunks = [pdf["event_id"].to_numpy() for pdf in it]
            eids = np.concatenate(chunks) if chunks else np.empty(0, dtype="int64")
            if eids.size == 0:
                return
            feats, grids, y = cnn_train.batch_arrays(eids)
            logit = cnn.cnn_forward(state_, feats, grids)
            li = np.rint(np.abs(logit - y) * 262144.0).astype("int64")
            yield pd.DataFrame(
                {"epoch": [epoch], "n_events": [int(eids.size)], "loss_l1": [int(li.sum())]}
            )

        return fn

    batch = _train_batch(spark, sf_dir)
    schema = "epoch int, n_events long, loss_l1 long"
    e1 = batch.mapInPandas(loss_fn(state, 1), schema)
    e2 = batch.mapInPandas(loss_fn(state2, 2), schema)
    return (
        e1.unionByName(e2)
        .groupBy("epoch")
        .agg(F.sum("n_events").alias("n_events"), F.sum("loss_l1").alias("loss_l1"))
        .orderBy("epoch")
    )


@register(
    "grouped_auc_by_band",
    survey_ref="A7,A5,§2.6,§2.8",
    oracle="""
WITH d AS (
  SELECT CAST((event_id * 17) % 45 // 15 AS BIGINT) AS band,
         CAST((event_id * 37 + user_id * 11) % 101 AS BIGINT) AS score,
         CASE WHEN 5 * (event_id % 97) + (event_id % 11) >= 245 THEN 1 ELSE 0 END AS y
  FROM events
),
h AS (
  SELECT band, score, CAST(SUM(y) AS BIGINT) AS pos,
         CAST(COUNT(*) - SUM(y) AS BIGINT) AS neg
  FROM d GROUP BY band, score
),
c AS (
  SELECT band, score, pos, neg,
         SUM(neg) OVER (PARTITION BY band ORDER BY score) - neg AS neg_below
  FROM h
),
t AS (
  SELECT band, CAST(SUM(pos) AS BIGINT) AS p, CAST(SUM(neg) AS BIGINT) AS n
  FROM h GROUP BY band
)
SELECT c.band AS band, t.p AS n_pos, t.n AS n_neg,
       CAST(SUM(c.pos * (2 * c.neg_below + c.neg)) AS BIGINT) AS auc_num2,
       CAST(2 * t.p * t.n AS BIGINT) AS auc_den2,
       ROUND(CAST(SUM(c.pos * (2 * c.neg_below + c.neg)) AS DOUBLE)
             / (2.0 * t.p * t.n), 6) AS auc
FROM c JOIN t ON c.band = t.band
GROUP BY c.band, t.p, t.n ORDER BY band
""",
)
def q_grouped_auc_by_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEGMENTED ROC-AUC: the exact tie-aware Mann-Whitney decomposition
    of ``exact_auc_report``, sliced by evaluation band — the reference
    itself evaluates per zenith/energy band
    (``train_classification.py:284-293``), and real model eval is
    always segmented.  Same scale shape with the band as an extra key:
    ONE bounded-key aggregate over the fact ((band, score) ≤ 3×101
    cells), the cumulative window PARTITIONED by band (no global
    ordering anywhere, not even of the 3 output rows, whose sort would
    plan a sampled range exchange), and per-band exact integer
    numerators.  At 100 TB this evaluates every segment in a single
    pass."""
    from pyspark.sql import Window

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    d = ev.select(
        F.expr("CAST((event_id * 17) % 45 DIV 15 AS BIGINT)").alias("band"),
        ((F.col("event_id") * 37 + F.col("user_id") * 11) % 101).cast("bigint").alias("score"),
        F.when(5 * (F.col("event_id") % 97) + F.col("event_id") % 11 >= 245, 1)
        .otherwise(0)
        .alias("y"),
    )
    h = d.groupBy("band", "score").agg(
        F.sum("y").alias("pos"), (F.count(F.lit(1)) - F.sum("y")).alias("neg")
    )
    wc = Window.partitionBy("band").orderBy("score").rowsBetween(
        Window.unboundedPreceding, 0
    )
    c = h.select(
        "band",
        "pos",
        "neg",
        (F.sum("neg").over(wc) - F.col("neg")).alias("neg_below"),
    )
    agg = c.groupBy("band").agg(
        F.sum("pos").alias("p"),
        F.sum("neg").alias("n"),
        F.sum(F.col("pos") * (2 * F.col("neg_below") + F.col("neg"))).alias("auc_num2"),
    )
    return agg.select(
        "band",
        F.col("p").alias("n_pos"),
        F.col("n").alias("n_neg"),
        F.col("auc_num2").cast("long").alias("auc_num2"),
        (2 * F.col("p") * F.col("n")).cast("long").alias("auc_den2"),
        F.round(F.col("auc_num2").cast("double") / (2.0 * F.col("p") * F.col("n")), 6).alias("auc"),
    )


# ------------------------------------ gradient compression (top-k + EF)

_TKC_PRIMES = (97, 89, 83, 79, 73, 71, 67, 61)
_TKC_K = 2        # coords each shard transmits per round
_TKC_SHARDS = 8   # logical shards (user_id % 8 — deterministic, never
#                   physical partitions, which no oracle could replay)
_TKC_EPOCHS = 2


def _tkc_feats_sql() -> list[str]:
    return [f"CAST(event_id % {p} AS BIGINT)" for p in _TKC_PRIMES]


def _tkc_shard_frame(ev: DataFrame) -> DataFrame:
    """The (shard, x0..x7, y) training frame both comms-efficient
    trainers scan: shard = user_id % SHARDS (deterministic logical
    key), features = event_id mod small primes, label = an exact
    integer linear target. Shared with the plan test so it asserts on
    the real scan."""
    return ev.select(
        (F.col("user_id") % _TKC_SHARDS).cast("bigint").alias("s"),
        *[
            (F.col("event_id") % p).cast("bigint").alias(f"x{j}")
            for j, p in enumerate(_TKC_PRIMES)
        ],
        (
            3 * (F.col("event_id") % 97)
            - 2 * (F.col("user_id") % 89)
            + F.col("event_id") % 7
        )
        .cast("bigint")
        .alias("y"),
    )


def _tkc_shard_gradients(d: DataFrame, w: list[int]) -> DataFrame:
    """The per-epoch per-shard gradient aggregate BOTH trainers
    execute: residual r = Σ wⱼxⱼ − y·S folded into groupBy(shard)
    .agg(Σ r·xⱼ for each j) — one map-side-combinable exchange
    carrying |shards|·|coords| partials, never the fact rows. Factored
    out so tests/test_plans.py asserts partial aggregation on the
    EXACT aggregate the training loops collect (including the residual
    product columns), not a stand-in."""
    r = sum(F.lit(w[j]) * F.col(f"x{j}") for j in range(8)) - F.col("y") * _GD_S
    return d.groupBy("s").agg(*[F.sum(r * F.col(f"x{j}")).alias(f"g{j}") for j in range(8)])


def _tkc_oracle_sql() -> str:
    """Unrolled 2-round top-k-compressed SGD in SQL: per-shard gradient
    sums, per-shard rank by |g + error| (tie-break coord id), top-k
    sent, error feedback carried to the next round — bit-exact vs the
    Spark loop."""
    fx = _tkc_feats_sql()
    xs = ", ".join(f"{fx[j]} AS x{j}" for j in range(8))
    lines = [
        f"WITH d AS (SELECT CAST(user_id % {_TKC_SHARDS} AS BIGINT) AS s, {xs},",
        "       CAST(3 * (event_id % 97) - 2 * (user_id % 89) + (event_id % 7) AS BIGINT) AS y",
        "  FROM events),",
        "n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),",
        "coords AS (SELECT CAST(UNNEST(range(0, 8)) AS BIGINT) AS j),",
        "w0 AS (SELECT " + ", ".join(f"CAST(0 AS BIGINT) AS w{j}" for j in range(8)) + "),",
        "e0 AS (SELECT s.s, c.j, CAST(0 AS BIGINT) AS e"
        f" FROM (SELECT DISTINCT s FROM d) s, coords c),",
    ]
    bexpr = f"n.n * {1 << _GD_SHIFT}"
    for ep in range(1, _TKC_EPOCHS + 1):
        wdot = " + ".join(f"w.w{j} * x{j}" for j in range(8))
        gsums = ", ".join(f"CAST(SUM(r * x{j}) AS BIGINT) AS g{j}" for j in range(8))
        gcase = " ".join(f"WHEN {j} THEN g{j}" for j in range(8))
        lines += [
            f"r{ep} AS (SELECT s, ({wdot}) - y * {_GD_S} AS r,"
            + ", ".join(f"x{j}" for j in range(8))
            + f" FROM d, w{ep-1} w),",
            f"g{ep} AS (SELECT s, {gsums} FROM r{ep} GROUP BY s),",
            f"a{ep} AS (SELECT g.s, c.j, (CASE c.j {gcase} END) + e.e AS a"
            f" FROM g{ep} g, coords c JOIN e{ep-1} e ON e.s = g.s AND e.j = c.j),",
            f"rk{ep} AS (SELECT s, j, a,"
            f" ROW_NUMBER() OVER (PARTITION BY s ORDER BY ABS(a) DESC, j) AS rn FROM a{ep}),",
            f"sent{ep} AS (SELECT s, j, rn,"
            f" CASE WHEN rn <= {_TKC_K} THEN a ELSE 0 END AS sent,"
            f" a - CASE WHEN rn <= {_TKC_K} THEN a ELSE 0 END AS enew FROM rk{ep}),",
            f"e{ep} AS (SELECT s, j, CAST(enew AS BIGINT) AS e FROM sent{ep}),",
            f"gh{ep} AS (SELECT j, CAST(SUM(sent) AS BIGINT) AS gh,"
            f" CAST(SUM(CASE WHEN rn <= {_TKC_K} THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS n_shards_sent FROM sent{ep} GROUP BY j),",
            f"ghp{ep} AS (SELECT "
            + ", ".join(f"MAX(CASE WHEN j = {j} THEN gh END) AS gh{j}" for j in range(8))
            + f" FROM gh{ep}),",
            f"w{ep} AS (SELECT "
            + ", ".join(
                f"CAST(w.w{j} - ({_gd_fdiv(f'g.gh{j}', bexpr)}) AS BIGINT) AS w{j}"
                for j in range(8)
            )
            + f" FROM w{ep-1} w, ghp{ep} g, n),",
        ]
    lines[-1] = lines[-1].rstrip(",")
    selects = [
        f"SELECT CAST({ep} AS INTEGER) AS epoch, gh{ep}.j AS coord, "
        + f"(CASE gh{ep}.j "
        + " ".join(f"WHEN {j} THEN w{ep}.w{j}" for j in range(8))
        + " END) AS w, "
        + f"gh{ep}.gh AS ghat, gh{ep}.n_shards_sent FROM gh{ep}, w{ep}"
        for ep in range(1, _TKC_EPOCHS + 1)
    ]
    return "\n".join(lines) + "\n" + "\nUNION ALL\n".join(selects) + "\nORDER BY epoch, coord"


@register(
    "distributed_topk_grad_compression",
    survey_ref="M2,§2.6,§2.12",
    oracle=_tkc_oracle_sql(),
)
def q_distributed_topk_grad_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Communication-efficient data-parallel training: top-k gradient
    sparsification with error feedback (the Deep Gradient Compression
    recipe, Lin et al. 2018 — public) over the same exact fixed-point
    GD decomposition as ``distributed_gd_training``. Each of 8 LOGICAL
    shards (user_id % 8 — a deterministic key, never physical
    partitions, which no oracle could replay) computes its full
    8-coordinate gradient, transmits only its top-2 coordinates by
    |gradient + accumulated error| (tie-break: lower coord id), and
    carries the untransmitted remainder as error feedback into the
    next round — the mechanism that keeps sparsified SGD convergent.
    The server sums the sent values and applies the fixed-point step.

    Exactness: gradients, error state, and steps are all BIGINT
    (weights 2⁻¹⁶ grid, lr 2⁻¹³, floor-division step), so two rounds
    hash-match an unrolled-SQL oracle bit for bit — compression
    DECISIONS (which coords each shard sends) are part of the hash.

    Scale shape: per round, ONE map-side-combinable aggregate keyed on
    the shard id (8 groups × 8 sums — the AllReduce this op exists to
    shrink: 16 of 64 coordinates cross the wire); the 8×8 error/selec-
    tion state is driver-side optimizer state (the parameter-server
    role), same bounded-collect license as the GD family's per-epoch
    ``first()``. At real scale shards = workers and k/d is the
    compression ratio; the plan shape is unchanged."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    d = _tkc_shard_frame(ev).cache()
    try:
        n = d.count()
        b = n << _GD_SHIFT
        w = [0] * 8
        err: dict[int, list[int]] = {}
        out = []
        for epoch in range(1, _TKC_EPOCHS + 1):
            rows = _tkc_shard_gradients(d, w).collect()
            # bounded: |shards| rows — parameter-server state, loop control
            ghat = [0] * 8
            nsent = [0] * 8
            for row in rows:
                s = int(row["s"])
                e = err.setdefault(s, [0] * 8)
                a = [int(row[f"g{j}"]) + e[j] for j in range(8)]
                top = sorted(range(8), key=lambda j: (-abs(a[j]), j))[:_TKC_K]
                for j in range(8):
                    if j in top:
                        ghat[j] += a[j]
                        nsent[j] += 1
                        e[j] = 0
                    else:
                        e[j] = a[j]
            w = [w[j] - ghat[j] // b for j in range(8)]
            out += [(epoch, j, w[j], ghat[j], nsent[j]) for j in range(8)]
    finally:
        d.unpersist()
    return spark.createDataFrame(
        out, "epoch int, coord long, w long, ghat long, n_shards_sent long"
    ).orderBy("epoch", "coord")


_SSG_EPOCHS = 3
_SSG_STEP = 256  # fixed step = 2^8 on the 2^-16 weight grid -> 2^-8 effective


def _ssg_oracle_sql() -> str:
    """Unrolled majority-vote signSGD: per-shard gradient signs,
    coordinate-wise majority, fixed-magnitude step — every quantity a
    small integer, bit-exact across engines (SIGN of a BIGINT is
    exact; no division anywhere)."""
    fx = _tkc_feats_sql()
    xs = ", ".join(f"{fx[j]} AS x{j}" for j in range(8))
    lines = [
        f"WITH d AS (SELECT CAST(user_id % {_TKC_SHARDS} AS BIGINT) AS s, {xs},",
        "       CAST(3 * (event_id % 97) - 2 * (user_id % 89) + (event_id % 7) AS BIGINT) AS y",
        "  FROM events),",
        "coords AS (SELECT CAST(UNNEST(range(0, 8)) AS BIGINT) AS j),",
        "w0 AS (SELECT " + ", ".join(f"CAST(0 AS BIGINT) AS w{j}" for j in range(8)) + "),",
    ]
    for ep in range(1, _SSG_EPOCHS + 1):
        wdot = " + ".join(f"w.w{j} * x{j}" for j in range(8))
        gsums = ", ".join(f"CAST(SUM(r * x{j}) AS BIGINT) AS g{j}" for j in range(8))
        gcase = " ".join(f"WHEN {j} THEN g{j}" for j in range(8))
        lines += [
            f"r{ep} AS (SELECT s, ({wdot}) - y * {_GD_S} AS r,"
            + ", ".join(f"x{j}" for j in range(8))
            + f" FROM d, w{ep-1} w),",
            f"g{ep} AS (SELECT s, {gsums} FROM r{ep} GROUP BY s),",
            f"v{ep} AS (SELECT c.j,"
            f" CAST(SUM(CASE WHEN (CASE c.j {gcase} END) > 0 THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS n_pos,"
            f" CAST(SUM(CASE WHEN (CASE c.j {gcase} END) < 0 THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS n_neg"
            f" FROM g{ep} g, coords c GROUP BY c.j),",
            f"vt{ep} AS (SELECT j, n_pos, n_neg,"
            f" CAST(SIGN(n_pos - n_neg) AS BIGINT) AS vote FROM v{ep}),",
            f"vp{ep} AS (SELECT "
            + ", ".join(f"MAX(CASE WHEN j = {j} THEN vote END) AS v{j}" for j in range(8))
            + f" FROM vt{ep}),",
            f"w{ep} AS (SELECT "
            + ", ".join(
                f"CAST(w.w{j} - {_SSG_STEP} * g.v{j} AS BIGINT) AS w{j}" for j in range(8)
            )
            + f" FROM w{ep-1} w, vp{ep} g),",
        ]
    lines[-1] = lines[-1].rstrip(",")
    selects = [
        f"SELECT CAST({ep} AS INTEGER) AS epoch, vt{ep}.j AS coord, "
        + f"(CASE vt{ep}.j "
        + " ".join(f"WHEN {j} THEN w{ep}.w{j}" for j in range(8))
        + " END) AS w, "
        + f"vt{ep}.vote, vt{ep}.n_pos AS n_pos_shards, vt{ep}.n_neg AS n_neg_shards"
        + f" FROM vt{ep}, w{ep}"
        for ep in range(1, _SSG_EPOCHS + 1)
    ]
    return "\n".join(lines) + "\n" + "\nUNION ALL\n".join(selects) + "\nORDER BY epoch, coord"


@register(
    "distributed_signsgd_majority",
    survey_ref="M2,§2.6,§2.12",
    oracle=_ssg_oracle_sql(),
)
def q_distributed_signsgd_majority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """signSGD with majority vote (Bernstein et al. 2018 — public): the
    1-bit-per-coordinate end of the gradient-compression spectrum
    (``distributed_topk_grad_compression`` is the sparse end). Each of
    8 logical shards transmits only the SIGN of each gradient
    coordinate; the server takes the coordinate-wise majority and
    applies a fixed-magnitude step. Every quantity is a small exact
    integer — signs, vote tallies, the 2⁸-tick step — so three rounds
    hash-match the unrolled-SQL oracle with no division at all, and
    the byzantine-tolerance property the vote exists for (one corrupt
    shard cannot flip a 6-2 majority) is visible in the
    n_pos/n_neg_shards columns.

    Scale shape: identical to the GD family — per round ONE
    map-side-combinable shard-keyed aggregate (the 8×8 gradient
    table), sign/vote arithmetic on 64 driver-side integers (the
    parameter-server role, bounded-collect license), weights
    re-broadcast in the next round's residual expression."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    d = _tkc_shard_frame(ev).cache()
    try:
        w = [0] * 8
        out = []
        for epoch in range(1, _SSG_EPOCHS + 1):
            rows = _tkc_shard_gradients(d, w).collect()
            # bounded: |shards| rows — parameter-server state
            for j in range(8):
                n_pos = sum(1 for row in rows if int(row[f"g{j}"]) > 0)
                n_neg = sum(1 for row in rows if int(row[f"g{j}"]) < 0)
                vote = (n_pos > n_neg) - (n_pos < n_neg)
                w[j] -= _SSG_STEP * vote
                out.append((epoch, j, w[j], vote, n_pos, n_neg))
    finally:
        d.unpersist()
    return spark.createDataFrame(
        out,
        "epoch int, coord long, w long, vote long, n_pos_shards long, n_neg_shards long",
    ).orderBy("epoch", "coord")
