"""Full CNN_B forward pass through the Arrow inference seam (M1+S5).

The reference's flagship computation is CNN_B inference
(``cnn_model.py:11-43``, driven by the DataLoader loop
``tools.py:15-31``): a two-branch network — three conv blocks
(Conv2d(k=3) → ReLU → BatchNorm2d) over the 16×16 detector-grid image,
flattened and concatenated with the per-event scalar features, then
fc1 → ReLU → fc2 → ReLU → fc3 ("the loss functions include the
sigmoid", ``tools.py:24``).  This module runs that EXACT topology —
conv stack included — as a vectorized numpy forward inside a scalar
``pandas_udf``, with weights shipped as a persisted ``.npz``
state-dict artifact (torch-interop format; see
``inference.save_model_artifact``).  Channel widths are shrunk
(2→4→8→4 vs the reference's 2→32→64→32) so the cross-engine oracle
stays tractable; every structural element of CNN_B is present.

Cross-engine exactness (what makes a *neural conv stack*
hash-checkable against DuckDB):

* Every weight, bias and folded-BatchNorm affine parameter is a
  **dyadic rational** (k/256, k/64, k/4) generated from exact integer
  hash formulas both engines reproduce verbatim.
* Inputs are dyadic too (integer-hash grids /16, features /256).
* After each ReLU the activation is re-quantized to the 2⁻¹⁰ grid
  (``FLOOR(v · 1024)/1024`` — exact: power-of-two scaling).  A
  step/magnitude audit (see ``_EXACTNESS`` below) shows every partial
  sum in every layer then fits in ≤ 45 mantissa bits, so float64
  addition is EXACT and summation order is irrelevant — numpy einsum
  on the Spark side and DuckDB's hash-aggregate SUM produce
  bit-identical values.  This is inference-time quantization, the same
  trick int8-served models use, applied to make a distributed forward
  pass deterministic at any partitioning.
* BatchNorm runs in inference mode folded to a per-channel affine
  (scale = γ/√(σ²+ε), shift = β − γμ/√(σ²+ε)) — standard BN folding;
  the artifact stores the folded scale/shift.

_EXACTNESS (step 2⁻ˢ / max |partial sum| ≤ 2ᵐ → needs s+m ≤ 53 bits):
conv1 18 terms:  s=12 m=5  → 17;  bn1+floor → q 2⁻¹⁰, ≤ 2⁵
conv2 36 terms:  s=18 m=8  → 26;  bn2+floor → q 2⁻¹⁰, ≤ 2⁸
conv3 72 terms:  s=18 m=12 → 30;  bn3+floor → q 2⁻¹⁰, ≤ 2¹¹
fc1  411 terms:  s=18 m=18 → 36;  relu+floor → q 2⁻¹⁰
fc2    8 terms:  s=18 m=19 → 37;  relu+floor → q 2⁻¹⁰
fc3    4 terms:  s=18 m=17 → 35;  logit = z₀ − z₁ exact.
"""

from __future__ import annotations

import numpy as np

# -------------------------------------------------------- architecture
C_IN = 2  # grid channels: energy deposit, muon count (mat_filter [1,2],
#           train_classification.py:210)
GRID = 16  # 16×16 station grid (SURVEY §1.1)
CONVS = [(1, 4, C_IN), (2, 8, 4), (3, 4, 8)]  # (layer, out_ch, in_ch), k=3
N_FEATS = 11  # features_filter has 11 entries (train_classification.py:209)
FLAT = 4 * 10 * 10  # conv3 output flattened (reference: 32*10*10)
FCS = [(1, 8, N_FEATS + FLAT), (2, 4, 8), (3, 2, 4)]  # (layer, out, in)
EVENT_MOD = 199  # corpus query scores every (event_id % 199 == 0) event

_Q = 1024.0  # activation re-quantization grid (2^-10)


# ------------------------------------------------ deterministic weights
def _conv_w(li: int, o: int, i: int, r: int, c: int) -> float:
    return (
        (li * 73856093 + o * 19349663 + i * 83492791 + r * 2971215073 + c * 433494437) % 129 - 64
    ) / 256.0


def _conv_b(li: int, o: int) -> float:
    return ((li * 97 + o * 57) % 33 - 16) / 256.0


def _bn_scale(li: int, o: int) -> float:
    return ((li * 31 + o * 17) % 3 + 1) / 4.0


def _bn_shift(li: int, o: int) -> float:
    return ((li * 41 + o * 23) % 65 - 32) / 64.0


def _fc_w(lf: int, u: int, j: int) -> float:
    return (((lf + 10) * 73856093 + u * 19349663 + j * 83492791) % 129 - 64) / 256.0


def _fc_b(lf: int, u: int) -> float:
    return (((lf + 10) * 97 + u * 57) % 33 - 16) / 256.0


def cnn_state() -> dict:
    """Full CNN_B state-dict (conv + folded-BN + fc), every parameter an
    exact dyadic rational from the integer formulas above.  Persisted
    via ``inference.save_model_artifact`` exactly like a torch
    checkpoint exported with ``{k: v.numpy() for k, v in
    model.state_dict().items()}`` (BN pre-folded to scale/shift)."""
    state: dict = {}
    for li, n_out, n_in in CONVS:
        w = np.empty((n_out, n_in, 3, 3), dtype="float64")
        for o in range(n_out):
            for i in range(n_in):
                for r in range(3):
                    for c in range(3):
                        w[o, i, r, c] = _conv_w(li, o, i, r, c)
        state[f"conv{li}.weight"] = w
        state[f"conv{li}.bias"] = np.array([_conv_b(li, o) for o in range(n_out)])
        state[f"bn{li}.scale"] = np.array([_bn_scale(li, o) for o in range(n_out)])
        state[f"bn{li}.shift"] = np.array([_bn_shift(li, o) for o in range(n_out)])
    for lf, n_out, n_in in FCS:
        w = np.empty((n_out, n_in), dtype="float64")
        for u in range(n_out):
            for j in range(n_in):
                w[u, j] = _fc_w(lf, u, j)
        state[f"fc{lf}.weight"] = w
        state[f"fc{lf}.bias"] = np.array([_fc_b(lf, u) for u in range(n_out)])
    return state


# ------------------------------------------------------ numpy forward
def cnn_forward(state: dict, feats: np.ndarray, grids: np.ndarray) -> np.ndarray:
    """Batch CNN_B forward: ``feats`` (B, 11), ``grids`` (B, 2, 16, 16)
    → logits (B,) = z₀ − z₁ (two-class output collapsed to a single
    margin, σ(margin) = softmax P(class 0)).  Mirrors
    ``cnn_model.py:31-43``: conv blocks, ``view(B, -1)`` C-order
    flatten, ``cat((x_features, x_mat), dim=1)`` features-first concat,
    fc stack (dropout is identity at inference)."""
    x = grids.astype("float64", copy=False)
    for li, _n_out, _n_in in CONVS:
        w = state[f"conv{li}.weight"]
        b = state[f"conv{li}.bias"]
        win = np.lib.stride_tricks.sliding_window_view(x, (3, 3), axis=(2, 3))
        z = np.einsum("bcyxrs,ocrs->boyx", win, w) + b[None, :, None, None]
        h = (
            state[f"bn{li}.scale"][None, :, None, None] * np.maximum(z, 0.0)
            + state[f"bn{li}.shift"][None, :, None, None]
        )
        x = np.floor(h * _Q) / _Q
    flat = x.reshape(x.shape[0], -1)  # C-order: ch*100 + y*10 + x, = torch .view
    a = np.concatenate([feats.astype("float64", copy=False), flat], axis=1)
    for lf, _n_out, _n_in in FCS:
        z = a @ state[f"fc{lf}.weight"].T + state[f"fc{lf}.bias"]
        if lf < 3:
            a = np.floor(np.maximum(z, 0.0) * _Q) / _Q
        else:
            a = z
    return a[:, 0] - a[:, 1]


def make_cnn_scorer_udf(artifact_path: str):
    """Arrow ``pandas_udf`` running the full CNN_B forward from the
    persisted artifact, loaded on the executor per Arrow batch
    (``inference.load_model_artifact``).  Takes the scalar
    feature array and the two grid-channel arrays; returns a struct of
    (logit, sigmoid) — logit is exact and hash-checked raw, sigmoid is
    rounded by the caller (libm exp may differ in the last ulp)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from high_energy_gamma_ray_search_in_kascade_array_data_spark.ml.inference import load_model_artifact

    def score(feats, edep, muons):
        if len(feats) == 0:
            return pd.DataFrame({"logit": [], "sigmoid": []})
        state = load_model_artifact(artifact_path)
        fmat = np.stack(feats.to_numpy())  # (B, 11)
        g = np.stack(
            [
                np.stack(edep.to_numpy()).reshape(-1, GRID, GRID),
                np.stack(muons.to_numpy()).reshape(-1, GRID, GRID),
            ],
            axis=1,
        )  # (B, 2, 16, 16)
        logit = cnn_forward(state, fmat, g)
        return pd.DataFrame({"logit": logit, "sigmoid": 1.0 / (1.0 + np.exp(-logit))})

    return F.pandas_udf(score, "logit double, sigmoid double")


# ------------------------------------------------------- DuckDB oracle
def cnn_oracle_sql(final_select: str | None = None) -> str:
    """The relational twin of :func:`cnn_forward`: convolution as a
    join-aggregate between the long-form grid and a generated kernel
    relation (output cell (y,x) sums input cell (y+r, x+c) times
    w[o,i,r,c]), folded-BN as a per-channel affine, FLOOR
    re-quantization, fc layers as weight-relation join-aggregates.
    Because every value is exact (see module docstring), DuckDB's
    hash-aggregate SUM is bit-identical to numpy einsum.

    ``final_select`` replaces the default terminal SELECT (it sees the
    ``lg`` CTE with columns event_id, logit) so downstream pipelines —
    e.g. the survival-curve composition — can extend the same network
    oracle instead of duplicating it."""
    parts = [
        f"ev AS (SELECT event_id FROM events WHERE event_id % {EVENT_MOD} = 0)",
        """g0 AS (
  SELECT ev.event_id, 0 AS ch, t.m // 16 AS y, t.m % 16 AS x,
         ((ev.event_id * (t.m + 7)) % 97) / 16.0 AS v
  FROM ev, range(256) AS t(m)
  UNION ALL
  SELECT ev.event_id, 1, t.m // 16, t.m % 16,
         ((ev.event_id * (t.m + 13)) % 89) / 16.0
  FROM ev, range(256) AS t(m)
)""",
    ]
    for li, n_out, n_in in CONVS:
        out_hi = GRID - 2 * li - 1  # 13, 11, 9
        parts.append(
            f"""w{li} AS (
  SELECT oo.o, ii.i, rr.r, cc.c,
         (({li} * 73856093 + oo.o * 19349663 + ii.i * 83492791
           + rr.r * 2971215073 + cc.c * 433494437) % 129 - 64) / 256.0 AS w
  FROM range({n_out}) AS oo(o), range({n_in}) AS ii(i),
       range(3) AS rr(r), range(3) AS cc(c)
)"""
        )
        parts.append(
            f"""z{li} AS (
  SELECT g.event_id, w.o AS ch, g.y - w.r AS y, g.x - w.c AS x,
         SUM(w.w * g.v) AS acc
  FROM g{li - 1} g JOIN w{li} w ON w.i = g.ch
  WHERE g.y - w.r BETWEEN 0 AND {out_hi} AND g.x - w.c BETWEEN 0 AND {out_hi}
  GROUP BY 1, 2, 3, 4
)"""
        )
        parts.append(
            f"""g{li} AS (
  SELECT z.event_id, z.ch, z.y, z.x,
         FLOOR(((({li} * 31 + z.ch * 17) % 3 + 1) / 4.0
                * GREATEST(z.acc + (({li} * 97 + z.ch * 57) % 33 - 16) / 256.0, 0)
                + (({li} * 41 + z.ch * 23) % 65 - 32) / 64.0) * 1024) / 1024 AS v
  FROM z{li} z
)"""
        )
    parts.append(
        f"""fcin1 AS (
  SELECT event_id, ch * 100 + y * 10 + x + {N_FEATS} AS j, v FROM g3
  UNION ALL
  SELECT ev.event_id, t.k AS j,
         ((ev.event_id * (2 * t.k + 3)) % 257 - 128) / 256.0 AS v
  FROM ev, range({N_FEATS}) AS t(k)
)"""
    )
    for lf, n_out, n_in in FCS:
        parts.append(
            f"""wf{lf} AS (
  SELECT uu.u, jj.j,
         ((({lf + 10}) * 73856093 + uu.u * 19349663 + jj.j * 83492791) % 129 - 64) / 256.0 AS w
  FROM range({n_out}) AS uu(u), range({n_in}) AS jj(j)
)"""
        )
        acc = f"""(SELECT f.event_id, w.u, SUM(w.w * f.v) AS acc
        FROM fcin{lf} f JOIN wf{lf} w ON w.j = f.j GROUP BY 1, 2) s"""
        bias = f"(({lf + 10}) * 97 + s.u * 57) % 33 - 16"
        if lf < 3:
            parts.append(
                f"""fcin{lf + 1} AS (
  SELECT s.event_id, s.u AS j,
         FLOOR(GREATEST(s.acc + ({bias}) / 256.0, 0) * 1024) / 1024 AS v
  FROM {acc}
)"""
            )
        else:
            parts.append(
                f"""zout AS (
  SELECT s.event_id, s.u, s.acc + ({bias}) / 256.0 AS v
  FROM {acc}
)"""
            )
    parts.append(
        """lg AS (
  SELECT event_id,
         MAX(CASE WHEN u = 0 THEN v END) - MAX(CASE WHEN u = 1 THEN v END) AS logit
  FROM zout GROUP BY event_id
)"""
    )
    tail = final_select or (
        "SELECT event_id, logit, ROUND(1.0 / (1.0 + EXP(-logit)), 6) AS score FROM lg"
    )
    return "WITH " + ",\n".join(parts) + "\n" + tail
