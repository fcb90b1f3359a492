"""ML-surface tests: fitted-state lifecycle (SURVEY §2.1 S5 — the
reference persists scalers/models with joblib/torch.save and reloads
them in a separate run) and sampling semantics (X2)."""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F

from high_energy_gamma_ray_search_in_kascade_array_data_spark.ml import pipeline
from high_energy_gamma_ray_search_in_kascade_array_data_spark.queries.common import shower_frame
from high_energy_gamma_ray_search_in_kascade_array_data_spark.sources.catalog import SCRATCH


def test_pipeline_model_persistence_roundtrip(spark, sf_dir):
    """fit → save → load → identical predictions (the cross-run fitted
    state that the reference handles with joblib files, S5)."""
    from pyspark.ml import PipelineModel

    df = shower_frame(spark, sf_dir).select("event_id", "label", "lg_e", "ze", "p")
    weighted = pipeline.add_class_weights(df, boost={1: 2.0})
    model = pipeline.fit_lr(weighted, ["lg_e", "ze", "p"])

    # per-process path: a reused dir can hit transient rename conflicts
    # in the Hadoop local committer when a previous run's dir lingers
    path = os.path.join(SCRATCH, f"lr_model_{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    try:
        model.write().overwrite().save(path)
        reloaded = PipelineModel.load(path)

        a = model.transform(df).select("event_id", "prediction")
        b = reloaded.transform(df).select("event_id", F.col("prediction").alias("p2"))
        diff = a.join(b, "event_id").filter(F.col("prediction") != F.col("p2"))
        assert diff.count() == 0
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_model_artifact_roundtrips_udf(spark, sf_dir):
    """A persisted state-dict artifact (torch-interop .npz) must score
    identically through the executor-side pandas_udf and a driver-side
    reference forward pass — proving the checkpoint→ship→batch-score
    path (M1/S5), not just in-memory math. With torch installed the
    same file loads via torch.from_numpy into CNN_B's fc head."""
    import numpy as np

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.ml import inference
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.queries.ml import _MLP_INPUT_EXPRS, _mlp_state

    os.makedirs(SCRATCH, exist_ok=True)
    path = os.path.join(SCRATCH, f"mlp_rt_{os.getpid()}.npz")
    state = _mlp_state()
    inference.save_model_artifact(path, state)
    try:
        loaded = inference.load_model_artifact(path)
        assert set(loaded) == set(state)
        for k in state:
            assert np.array_equal(loaded[k], state[k])

        df = shower_frame(spark, sf_dir).limit(200)
        feats = F.array(*[F.expr(e).cast("double") for e in _MLP_INPUT_EXPRS])
        score = inference.make_mlp_scorer_udf(path)
        got = {
            r["event_id"]: r["s"]
            for r in df.select("event_id", score(feats).alias("s")).collect()
        }

        # independent driver-side forward pass on the same inputs
        rows = df.selectExpr("event_id", *_MLP_INPUT_EXPRS).collect()
        for row in rows:
            x = np.array(row[1:], dtype="float64")
            for li in (1, 2, 3):
                w, b = state[f"fc{li}.weight"], state[f"fc{li}.bias"]
                x = w @ x + b
                if li != 3:
                    x = np.maximum(x, 0.0)
            expect = 1.0 / (1.0 + np.exp(-x[0]))
            assert abs(got[row["event_id"]] - expect) < 1e-12
    finally:
        os.remove(path)


def test_rewritten_artifact_scores_with_new_state(spark, sf_dir):
    """A checkpoint rewritten at the SAME path mid-session must score
    with its new weights, on both MLP scorer forms: score with state A,
    rewrite the file with state B, score again — the second result is
    B's forward pass (the unrolled-SQL twin), not A's. Python workers
    are reused across jobs, so a per-worker weight cache that missed
    the rewrite would fail here."""
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.ml import inference
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.queries.ml import _MLP_INPUT_EXPRS, _mlp_state

    state_a = _mlp_state()
    state_b = dict(state_a, **{"fc3.bias": state_a["fc3.bias"] + 0.5})
    df = shower_frame(spark, sf_dir).limit(200)
    feats = F.array(*[F.expr(e).cast("double") for e in _MLP_INPUT_EXPRS])

    def sql_scores(state):
        expr = inference.mlp_score_sql(state, _MLP_INPUT_EXPRS)
        return {r["event_id"]: r["s"] for r in df.selectExpr("event_id", f"{expr} AS s").collect()}

    def max_diff(got, want):
        assert set(got) == set(want)
        return max(abs(got[k] - want[k]) for k in want)

    want_a, want_b = sql_scores(state_a), sql_scores(state_b)
    assert max_diff(want_a, want_b) > 1e-3  # the two states are distinguishable

    os.makedirs(SCRATCH, exist_ok=True)
    path = os.path.join(SCRATCH, f"mlp_rewrite_{os.getpid()}.npz")
    try:
        for make in (inference.make_mlp_scorer_udf, inference.make_mlp_scorer_iter_udf):
            got = []
            for state in (state_a, state_b):
                inference.save_model_artifact(path, state)
                score = make(path)
                got.append({r["event_id"]: r["s"] for r in df.select("event_id", score(feats).alias("s")).collect()})
            assert max_diff(got[0], want_a) < 1e-12, make.__name__
            assert max_diff(got[1], want_b) < 1e-12, f"{make.__name__} scored the rewritten path with stale weights"
    finally:
        if os.path.exists(path):
            os.remove(path)


def test_sample_with_replacement_fraction(spark, sf_dir):
    """df.sample(withReplacement=True) draws ≈ fraction·N rows and is
    deterministic for a fixed seed + partitioning (X2/X3)."""
    df = shower_frame(spark, sf_dir).select("event_id")
    n = df.count()
    s1 = df.sample(withReplacement=True, fraction=0.3, seed=42)
    s2 = df.sample(withReplacement=True, fraction=0.3, seed=42)
    c1, c2 = s1.count(), s2.count()
    assert c1 == c2  # seeded determinism
    assert abs(c1 / n - 0.3) < 0.1  # binomial tolerance at n=1000
    # with replacement: duplicates are possible and allowed
    assert s1.distinct().count() <= c1


def test_class_weights_sum_structure(spark, sf_dir):
    """Each class's total weight = 1 (before boost); boosted class
    scales by the boost factor (M3 semantics)."""
    df = shower_frame(spark, sf_dir)
    weighted = pipeline.add_class_weights(df, boost={1: 80.0})
    sums = {
        r["label"]: r["w"]
        for r in weighted.groupBy("label").agg(F.round(F.sum("weight"), 6).alias("w")).collect()
    }
    assert abs(sums[0] - 1.0) < 1e-6
    assert abs(sums[1] - 80.0) < 1e-6


# ------------------------------------------------------- full CNN_B (M1)
def _cnn_forward_slow(state, feats, grids):
    """Independent pure-Python triple-loop CNN_B forward — the golden
    reference for the vectorized ``cnn.cnn_forward``. Mirrors
    ``/root/reference/cnn_model.py:31-43`` layer by layer with explicit
    loops (no einsum, no stride tricks), so a vectorization bug in the
    fast path cannot hide."""
    import math

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.ml.cnn import CONVS, FCS

    out = []
    for bi in range(grids.shape[0]):
        x = [[[float(grids[bi, c, y, xx]) for xx in range(16)] for y in range(16)]
             for c in range(grids.shape[1])]
        size = 16
        for li, n_out, n_in in CONVS:
            w = state[f"conv{li}.weight"]
            b = state[f"conv{li}.bias"]
            s = state[f"bn{li}.scale"]
            t = state[f"bn{li}.shift"]
            size -= 2
            nxt = []
            for o in range(n_out):
                plane = []
                for y in range(size):
                    row = []
                    for xx in range(size):
                        acc = float(b[o])
                        for i in range(n_in):
                            for r in range(3):
                                for c in range(3):
                                    acc += float(w[o, i, r, c]) * x[i][y + r][xx + c]
                        v = float(s[o]) * max(acc, 0.0) + float(t[o])
                        row.append(math.floor(v * 1024.0) / 1024.0)
                    plane.append(row)
                nxt.append(plane)
            x = nxt
        flat = [x[c][y][xx] for c in range(len(x)) for y in range(size) for xx in range(size)]
        a = [float(v) for v in feats[bi]] + flat
        for lf, n_out, n_in in FCS:
            w = state[f"fc{lf}.weight"]
            b = state[f"fc{lf}.bias"]
            z = [float(b[u]) + sum(float(w[u, j]) * a[j] for j in range(n_in)) for u in range(n_out)]
            if lf < 3:
                a = [math.floor(max(v, 0.0) * 1024.0) / 1024.0 for v in z]
            else:
                a = z
        out.append(a[0] - a[1])
    return out


def test_cnn_forward_matches_slow_reference():
    """Vectorized einsum forward == independent triple-loop forward,
    BIT-exactly, on the corpus input formulas — validates conv padding,
    flatten order (torch .view C-order), features-first concat and the
    quantization steps all at once. Exactness (ml/cnn.py docstring)
    means zero tolerance is the correct comparison."""
    import numpy as np

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.ml import cnn

    state = cnn.cnn_state()
    eids = np.array([0, 199, 398, 597])
    m = np.arange(256)
    k = np.arange(cnn.N_FEATS)
    feats = np.stack([((e * (2 * k + 3)) % 257 - 128) / 256.0 for e in eids])
    edep = np.stack([((e * (m + 7)) % 97) / 16.0 for e in eids]).reshape(-1, 16, 16)
    muons = np.stack([((e * (m + 13)) % 89) / 16.0 for e in eids]).reshape(-1, 16, 16)
    grids = np.stack([edep, muons], axis=1)
    fast = cnn.cnn_forward(state, feats, grids)
    slow = _cnn_forward_slow(state, feats, grids)
    assert fast.tolist() == slow  # bit-exact, no tolerance

    # batch-order invariance: exact arithmetic means a permuted batch
    # returns exactly permuted results (any partitioning is safe)
    perm = np.array([2, 0, 3, 1])
    fast_perm = cnn.cnn_forward(state, feats[perm], grids[perm])
    assert fast_perm.tolist() == [fast[i] for i in perm]


def test_cnn_tiny_hand_computed():
    """One conv block on a hand-computable input: a single-1 impulse
    image through a known 3x3 kernel must place the kernel values at
    the expected output offsets (correlation, NOT flipped convolution —
    torch Conv2d semantics), then BN-affine and quantize."""
    import math

    import numpy as np

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.ml import cnn

    state = cnn.cnn_state()
    w = state["conv1.weight"]
    b = state["conv1.bias"]
    s = state["bn1.scale"]
    t = state["bn1.shift"]
    grids = np.zeros((1, 2, 16, 16))
    grids[0, 0, 5, 7] = 1.0  # impulse in channel 0 at (y=5, x=7)
    feats = np.zeros((1, cnn.N_FEATS))

    win = np.lib.stride_tricks.sliding_window_view(grids, (3, 3), axis=(2, 3))
    z = np.einsum("bcyxrs,ocrs->boyx", win, w) + b[None, :, None, None]
    # impulse at (5,7) contributes w[o,0,r,c] to output (5-r, 7-c)
    for o in range(w.shape[0]):
        for r in range(3):
            for c in range(3):
                expected = w[o, 0, r, c] + b[o]
                assert z[0, o, 5 - r, 7 - c] == expected
        # away from the impulse support: bias only
        assert z[0, o, 0, 0] == b[o]
        # full block output at one position, computed INDEPENDENTLY by
        # scalar python (relu -> BN affine -> quantize) and compared to
        # the vectorized forward's first-layer output
        v = math.floor((s[o] * max(w[o, 0, 0, 0] + b[o], 0.0) + t[o]) * 1024.0) / 1024.0
        win_full = np.lib.stride_tricks.sliding_window_view(grids, (3, 3), axis=(2, 3))
        z_full = np.einsum("bcyxrs,ocrs->boyx", win_full, w) + b[None, :, None, None]
        h_full = (
            s[None, :, None, None] * np.maximum(z_full, 0.0) + t[None, :, None, None]
        )
        q_full = np.floor(h_full * 1024.0) / 1024.0
        assert q_full[0, o, 5, 7] == v


def test_cnn_scorer_builds_without_warning(spark, tmp_path):
    """The CNN scorer is a plain scalar pandas UDF built from an
    unannotated function; the deprecated ``PandasUDFType`` form warned
    on every build."""
    import warnings

    from pyspark.util import PythonEvalType

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.ml import cnn

    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        udf = cnn.make_cnn_scorer_udf(str(tmp_path / "cnn_b.npz"))
    assert udf.evalType == PythonEvalType.SQL_SCALAR_PANDAS_UDF


def test_cnn_artifact_executor_roundtrip(spark, sf_dir):
    """The registered query's persisted-artifact path: driver-side
    forward (state in memory) == executor-side forward (state reloaded
    from the .npz inside the pandas_udf), bit-exactly."""
    import numpy as np

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.ml import cnn
    from high_energy_gamma_ray_search_in_kascade_array_data_spark.registry import corpus

    q = corpus()["cnn_artifact_inference"]
    pdf = q.fn(spark, sf_dir).toPandas().sort_values("event_id")
    assert len(pdf) > 0
    state = cnn.cnn_state()
    eids = pdf["event_id"].to_numpy()
    m = np.arange(256)
    k = np.arange(cnn.N_FEATS)
    feats = np.stack([((e * (2 * k + 3)) % 257 - 128) / 256.0 for e in eids])
    edep = np.stack([((e * (m + 7)) % 97) / 16.0 for e in eids]).reshape(-1, 16, 16)
    muons = np.stack([((e * (m + 13)) % 89) / 16.0 for e in eids]).reshape(-1, 16, 16)
    logit = cnn.cnn_forward(state, feats, np.stack([edep, muons], axis=1))
    assert pdf["logit"].to_numpy().tolist() == logit.tolist()


def test_cnn_artifact_inference_from_outside_the_checkout(sf_dir, tmp_path):
    """A driver started from a cwd outside the checkout, with no
    PYTHONPATH, still runs the pandas_udf query: ``get_spark`` puts the
    package's parent directory on the Python workers' path, so they can
    unpickle the package's scorer. Without it the workers fail with
    ``ModuleNotFoundError``."""
    import subprocess
    import sys
    import textwrap

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = "high_energy_gamma_ray_search_in_kascade_array_data_spark"
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {root!r})
        from {pkg} import get_spark
        from {pkg}.registry import corpus
        spark = get_spark("outside_checkout", shuffle_partitions=2)
        rows = corpus()["cnn_artifact_inference"].fn(spark, {sf_dir!r}).collect()
        print("rows", len(rows))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="1g")
    r = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, f"stdout:\n{r.stdout}\nstderr:\n{r.stderr[-3000:]}"
    assert int(r.stdout.split("rows", 1)[1]) > 0
