"""Arrow-vectorized model inference (SURVEY §2.12 M1).

The reference runs CNN inference through a torch ``DataLoader`` batch
loop (``tools.py:15-31``, model ``cnn_model.py:31-43``). The Spark form
is a scalar ``pandas_udf``: executors stream Arrow record batches into
Python, the model scores a whole batch vectorized, and the result
returns as a column — the DataLoader's batching, worker parallelism and
device transfer all map onto partition parallelism + Arrow batching
with no user-visible loop.

The stand-in model here is a linear-logistic scorer (deterministic, no
torch dependency — this container has no GPU/torch, and the engine's
job is the dataflow, not the weights). ``predict_batch_udf`` slots a
real torch/onnx model into the same seam.
"""

from __future__ import annotations

import math
from collections.abc import Sequence
from typing import Iterator

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType


def make_linear_scorer_udf(weights: Sequence[float], bias: float):
    """Vectorized σ(w·x + b) over an array<double> feature column.

    One Arrow batch = one vectorized numpy evaluation — the 10-100×
    rule: never a row-at-a-time Python UDF in the hot path.
    """
    import numpy as np

    w = np.asarray(list(weights), dtype="float64")
    b = float(bias)

    @F.pandas_udf(DoubleType())
    def score(features: pd.Series) -> pd.Series:
        mat = np.stack(features.to_numpy())  # (batch, n_features)
        z = mat @ w + b
        return pd.Series(1.0 / (1.0 + np.exp(-z)))

    return score


def save_model_artifact(path: str, state: dict) -> None:
    """Persist a model state-dict (name → ndarray) as an ``.npz``
    archive — the torch interop format: with torch present this is
    ``np.savez(path, **{k: v.numpy() for k, v in model.state_dict().items()})``
    and the reverse load feeds ``model.load_state_dict`` via
    ``torch.from_numpy``. The engine's inference seam consumes the
    arrays directly, so the SAME artifact file serves both runtimes.

    The write is ATOMIC (temp file + ``os.replace``): concurrent
    harnesses sharing the scratch dir must never let an executor's
    lazy load race a half-written zip."""
    import os
    import tempfile

    import numpy as np

    fd, tmp = tempfile.mkstemp(
        dir=os.path.dirname(path) or ".", suffix=".npz.tmp"
    )
    try:
        with os.fdopen(fd, "wb") as fh:
            np.savez(fh, **state)
        os.replace(tmp, path)
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise


def load_model_artifact(path: str) -> dict:
    """Load a persisted state-dict back to name → float64 ndarray."""
    import numpy as np

    with np.load(path) as z:
        return {k: np.asarray(z[k], dtype="float64") for k in z.files}


def _mlp_forward(state: dict, mat):
    """σ(W3·relu(W2·relu(W1·x + b1) + b2) + b3) over ``mat`` (batch,
    n_in) float64, each unit summed ``b + w0*x0 + w1*x1 + ...``
    left-to-right, so the pre-sigmoid values are bit-identical to
    ``mlp_score_sql``'s."""
    import numpy as np

    x = mat
    n_layers = len({k.split(".")[0] for k in state})
    for li in range(1, n_layers + 1):
        w, b = state[f"fc{li}.weight"], state[f"fc{li}.bias"]
        z = np.empty((x.shape[0], w.shape[0]), dtype="float64")
        for u in range(w.shape[0]):  # explicit left-to-right sum
            acc = np.full(x.shape[0], b[u])
            for j in range(w.shape[1]):
                acc = acc + w[u, j] * x[:, j]
            z[:, u] = acc
        x = z if li == n_layers else np.maximum(z, 0.0)
    return 1.0 / (1.0 + np.exp(-x[:, 0]))


def make_mlp_scorer_udf(artifact_path: str):
    """Vectorized MLP forward pass from a PERSISTED model artifact
    (SURVEY M1): σ(W3·relu(W2·relu(W1·x + b1) + b2) + b3) — the fc-head
    shape of the reference CNN_B (``cnn_model.py:26-28,44-47``: fc1 →
    relu → fc2 → relu → fc3, "the loss functions include the sigmoid").

    The artifact is loaded lazily ON THE EXECUTOR, exactly how a torch
    ``state_dict`` checkpoint would ship to a 1000-executor cluster:
    the closure captures only the path string; each worker
    deserializes locally (pair with ``SparkContext.addFile``/shared
    storage at scale). The scalar form loads once per Arrow batch —
    about 1 ms for a small ``.npz`` — and always sees the current file.

    Accumulation order note: each unit computes
    ``b + w0*x0 + w1*x1 + ...`` left-to-right, bit-identical to the
    equivalent SQL expression — this is what lets the DuckDB oracle
    check a neural forward pass hash-exactly (modulo one final
    round(·, 6) on the sigmoid, whose libm may differ by 1 ulp).
    """
    import numpy as np

    @F.pandas_udf(DoubleType())
    def score(features: pd.Series) -> pd.Series:
        state = load_model_artifact(artifact_path)
        mat = np.stack(features.to_numpy())
        return pd.Series(_mlp_forward(state, mat))

    return score


def mlp_score_sql(state: dict, feature_exprs: Sequence[str]) -> str:
    """The SQL twin of ``make_mlp_scorer_udf``'s forward pass: unrolls
    the same weights into nested GREATEST/arithmetic with the same
    left-to-right accumulation order, so DuckDB computes bit-identical
    pre-sigmoid values. Feasible because the oracle model is small; the
    point is that the *artifact path* is checked end-to-end, not that
    SQL is how you'd serve a real CNN."""
    exprs = list(feature_exprs)
    n_layers = len({k.split(".")[0] for k in state})
    for li in range(1, n_layers + 1):
        w, b = state[f"fc{li}.weight"], state[f"fc{li}.bias"]
        nxt = []
        for u in range(w.shape[0]):
            acc = repr(float(b[u]))
            for j, fx in enumerate(exprs):
                acc = f"({acc} + {float(w[u, j])!r} * {fx})"
            nxt.append(acc if li == n_layers else f"GREATEST({acc}, 0.0)")
        exprs = nxt
    return f"1.0 / (1.0 + EXP(-({exprs[0]})))"


def sigmoid(x: float) -> float:
    return 1.0 / (1.0 + math.exp(-x))


def make_mlp_scorer_iter_udf(artifact_path: str):
    """Iterator-form twin of ``make_mlp_scorer_udf`` (SURVEY §2.12):
    ``Iterator[pd.Series] → Iterator[pd.Series]`` — the pandas-UDF
    variant whose contract lets expensive per-task setup run ONCE and
    amortize across every Arrow batch the task processes.  For a real
    torch checkpoint the artifact load (+ GPU transfer) dominates a
    batch, so this is the inference form a 1000-executor scorer
    actually uses; the scalar form reloads per batch.

    Numerics are identical to the scalar form (same ``_mlp_forward``,
    same left-to-right accumulation), so both variants hash against
    the SAME unrolled-SQL oracle."""
    import numpy as np

    @F.pandas_udf(DoubleType())
    def score(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        state = load_model_artifact(artifact_path)  # once per task
        for features in batches:
            mat = np.stack(features.to_numpy())
            yield pd.Series(_mlp_forward(state, mat))

    return score
