"""Distributed CNN_B backprop — the reference's training center of mass
(M2, ``train_classification.py:61-160``) as an EXACT data-parallel
gradient pass on Spark.

The reference trains CNN_B with minibatch SGD: per batch forward →
loss → ``loss.backward()`` → ``optimizer.step()``
(``train_classification.py:86-101``).  The data-parallel decomposition
of that loop is: each worker computes gradient sums over its shard, an
AllReduce adds them, one step updates the replicated weights.  This
module runs exactly that shape on Spark: ``mapInPandas`` partitions
compute per-shard gradient sums for EVERY parameter of the full CNN_B
topology (3 conv blocks + 3 fc layers, ``cnn_model.py:11-43``), a
``groupBy(layer, idx).sum`` is the AllReduce, and the weight update is
pure integer arithmetic.  At 100 TB the only event-scale exchange is
the fixed-width gradient aggregate (~4k parameters × partitions), the
same wire cost as ring-AllReduce per step.

Cross-engine EXACTNESS (what makes a conv-stack *backward* pass
hash-checkable against DuckDB):

* Forward is the audited dyadic pass from ``ml/cnn.py`` (float64 exact,
  summation-order-free).
* Backward uses the straight-through estimator for the 2⁻¹⁰
  re-quantization steps (the standard QAT gradient: d floor-quant/dx
  := 1) and the exact ReLU/BN-affine masks from the forward pass.
* Every backward tensor is held as an INTEGER on a fixed dyadic grid:
  deltas at 2⁻¹⁰, weight gradients at 2⁻²⁰ (products of two 2⁻¹⁰-grid
  ints), propagated deltas at 2⁻¹⁸ re-quantized to 2⁻¹⁰ by floor
  division.  Integer addition is associative — partition-order and
  engine-order independent by construction, no 53-bit float budget to
  audit in the backward direction.
* The SGD step with lr = 2⁻¹² is integer too: w'·2³² =
  k·2²⁴ − g_int  (w = k/256 dyadic, g = g_int·2⁻²⁰), and the epoch-2
  forward re-quantizes weights to the 2⁻⁸ grid (k' = k − ceil(g·2⁻²⁴))
  so the second epoch runs the SAME audited forward with new integer
  weights — the QAT master-weight/quantized-forward split.
* Frozen BN affine: the folded scale/shift act as constants in the
  backward pass (standard fine-tune practice; the reference's BN layers
  train, but their running-stat updates are not a gradient computation).

Loss: squared margin L = ½(logit − y)², y ∈ {+1,−1} from
event parity, dL/dlogit = logit − y, scaled by 2⁻⁷ and floored to the
2⁻¹⁰ grid (the scale folds into the learning rate).  The reference's
CrossEntropyLoss needs exp/log — transcendentals cannot be exact-hash
gated cross-engine; the margin loss keeps the identical epoch ×
{forward, loss, backward, step} structure with exact arithmetic.

DuckDB reproduces the ENTIRE backward relationally: transposed
convolution as the (o,r,c)-shifted join-aggregate, weight gradients as
correlation join-aggregates, masks from the stored pre-activations —
see :func:`cnn_train_oracle_sql`.
"""

from __future__ import annotations

import numpy as np

from high_energy_gamma_ray_search_in_kascade_array_data_spark.ml import cnn

TRAIN_MOD = 997  # training batch: every (event_id % 997 == 0) event
LR_BITS = 12  # lr = 2^-12
_Q = 1024.0

# layer name -> (kind, li/lf) in topology order
LAYERS = (
    [(f"conv{li}.weight", "cw", li) for li, _, _ in cnn.CONVS]
    + [(f"conv{li}.bias", "cb", li) for li, _, _ in cnn.CONVS]
    + [(f"fc{lf}.weight", "fw", lf) for lf, _, _ in cnn.FCS]
    + [(f"fc{lf}.bias", "fb", lf) for lf, _, _ in cnn.FCS]
)


# ---------------------------------------------------------------- numpy
def _int_state(state: dict) -> dict:
    """Integer views of the dyadic state: weights/biases × 256 (exact),
    BN scale × 4 (exact)."""
    s: dict = {}
    for li, _o, _i in cnn.CONVS:
        s[f"cw{li}"] = np.rint(state[f"conv{li}.weight"] * 256).astype(np.int64)
        s[f"cb{li}"] = np.rint(state[f"conv{li}.bias"] * 256).astype(np.int64)
        s[f"ks{li}"] = np.rint(state[f"bn{li}.scale"] * 4).astype(np.int64)
    for lf, _o, _i in cnn.FCS:
        s[f"fw{lf}"] = np.rint(state[f"fc{lf}.weight"] * 256).astype(np.int64)
        s[f"fb{lf}"] = np.rint(state[f"fc{lf}.bias"] * 256).astype(np.int64)
    return s


def forward_intermediates(state: dict, feats: np.ndarray, grids: np.ndarray) -> dict:
    """The :func:`cnn.cnn_forward` pass, keeping what backward needs:
    post-quant activations (g0..g3, a1..a3) and the pre-activation
    ReLU masks (z > 0) of every conv block and fc1/fc2."""
    x = grids.astype("float64", copy=False)
    acts = {0: x}
    cmask = {}
    for li, _n_out, _n_in in cnn.CONVS:
        z, x = cnn.conv_block(state, li, x)
        cmask[li] = z > 0
        acts[li] = x
    flat = x.reshape(x.shape[0], -1)
    a = {1: np.concatenate([feats.astype("float64", copy=False), flat], axis=1)}
    fmask = {}
    for lf, _n_out, _n_in in cnn.FCS:
        z = a[lf] @ state[f"fc{lf}.weight"].T + state[f"fc{lf}.bias"]
        if lf < 3:
            fmask[lf] = z > 0
            a[lf + 1] = np.floor(np.maximum(z, 0.0) * _Q) / _Q
        else:
            logit = z[:, 0] - z[:, 1]
    return {"acts": acts, "cmask": cmask, "a": a, "fmask": fmask, "logit": logit}


def backward_grads(state: dict, fw: dict, y: np.ndarray) -> dict[str, np.ndarray]:
    """Exact integer gradient sums over the batch for every trainable
    parameter.  All products/sums are int64 on the fixed dyadic grids
    described in the module docstring; results are summation-order
    independent, so per-partition sums add exactly across executors."""
    si = _int_state(state)
    acts, cmask, a, fmask = fw["acts"], fw["cmask"], fw["a"], fw["fmask"]
    ai = {lf: np.rint(a[lf] * _Q).astype(np.int64) for lf in a}  # 2^-10 grid
    gi = {li: np.rint(acts[li] * _Q).astype(np.int64) for li in acts}
    grads: dict[str, np.ndarray] = {}

    # loss gradient, scaled 2^-7 and floored to the 2^-10 grid
    d0 = np.floor((fw["logit"] - y) * 8.0).astype(np.int64)
    dz = np.stack([d0, -d0], axis=1)  # fc3 delta, scale 2^-10
    for lf in (3, 2, 1):
        grads[f"fc{lf}.weight"] = dz.T @ ai[lf]  # scale 2^-20
        grads[f"fc{lf}.bias"] = dz.sum(axis=0) * 1024
        da18 = dz @ si[f"fw{lf}"]  # (B, n_in) scale 2^-18
        if lf > 1:
            dz = np.where(fmask[lf - 1], np.floor_divide(da18, 256), 0)
    dgrid = da18[:, cnn.N_FEATS :].reshape(-1, cnn.CONVS[-1][1], 10, 10)
    dg = np.floor_divide(dgrid, 256)  # delta wrt g3, scale 2^-10
    for li, n_out, _n_in in reversed(cnn.CONVS):
        ks = si[f"ks{li}"]
        dzc = np.where(
            cmask[li], np.floor_divide(dg * ks[None, :, None, None], 4), 0
        )
        win = np.lib.stride_tricks.sliding_window_view(
            gi[li - 1], (3, 3), axis=(2, 3)
        )
        grads[f"conv{li}.weight"] = np.einsum("boyx,biyxrc->oirc", dzc, win)
        grads[f"conv{li}.bias"] = dzc.sum(axis=(0, 2, 3)) * 1024
        if li > 1:
            pad = np.pad(dzc, ((0, 0), (0, 0), (2, 2), (2, 2)))
            winp = np.lib.stride_tricks.sliding_window_view(
                pad, (3, 3), axis=(2, 3)
            )
            wflip = si[f"cw{li}"][:, :, ::-1, ::-1]
            dg18 = np.einsum("boyxuv,oiuv->biyx", winp, wflip)
            dg = np.floor_divide(dg18, 256)
    return grads


def batch_arrays(eids: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(feats, grids, y) for a batch of event ids — the same integer
    hash formulas the inference query and its oracle use
    (``queries/ml.py:_cnn_scored_frame``)."""
    e = eids.reshape(-1, 1).astype(np.int64)
    k = np.arange(cnn.N_FEATS, dtype=np.int64)[None, :]
    feats = ((e * (2 * k + 3)) % 257 - 128) / 256.0
    m = np.arange(cnn.GRID * cnn.GRID, dtype=np.int64)[None, :]
    edep = ((e * (m + 7)) % 97) / 16.0
    muon = ((e * (m + 13)) % 89) / 16.0
    grids = np.stack(
        [edep.reshape(-1, cnn.GRID, cnn.GRID), muon.reshape(-1, cnn.GRID, cnn.GRID)],
        axis=1,
    )
    y = np.where(eids % 2 == 0, 1.0, -1.0)
    return feats, grids, y


def partition_grads(state: dict, eids: np.ndarray) -> dict[str, np.ndarray]:
    feats, grids, y = batch_arrays(eids)
    return backward_grads(state, forward_intermediates(state, feats, grids), y)


def weight_int_sums(state: dict) -> dict[str, int]:
    """Per layer, Σ over params of w·2³² (= k·2²⁴, exact) — the
    constant part of the updated-weight checksum."""
    out = {}
    for name, kind, _n in LAYERS:
        out[name] = int(np.rint(state[name] * 256).astype(np.int64).sum()) * (1 << 24)
    return out


def updated_int_state(state: dict, grad_sums: dict[str, np.ndarray]) -> dict:
    """Epoch-2 weights: master update w' = w − 2⁻¹²·g re-quantized to
    the 2⁻⁸ grid: k' = k − ceil(g / 2²⁴) — pure integer arithmetic, so
    the second forward runs the audited dyadic pass unchanged."""
    new = dict(state)
    for name, _kind, _n in LAYERS:
        k = np.rint(state[name] * 256).astype(np.int64)
        g = grad_sums[name].reshape(k.shape)
        k2 = k - (-np.floor_divide(-g, 1 << 24))  # ceil(g / 2^24)
        new[name] = k2.astype("float64") / 256.0
    return new


# --------------------------------------------------------------- oracle
def _fwd_fc_parts() -> list[str]:
    """Named-CTE fc forward (zf{lf} keeps the pre-bias accumulator so
    backward can reconstruct the ReLU mask; ``cnn.cnn_oracle_sql``
    inlines these, which inference doesn't need but training does)."""
    parts = []
    for lf, n_out, n_in in cnn.FCS:
        parts.append(
            f"""wf{lf} AS (
  SELECT uu.u, jj.j,
         ((({lf + 10}) * 73856093 + uu.u * 19349663 + jj.j * 83492791) % 129 - 64) / 256.0 AS w
  FROM range({n_out}) AS uu(u), range({n_in}) AS jj(j)
)"""
        )
        parts.append(
            f"""zf{lf} AS (
  SELECT f.event_id, w.u, SUM(w.w * f.v) AS acc
  FROM fcin{lf} f JOIN wf{lf} w ON w.j = f.j GROUP BY 1, 2
)"""
        )
        bias = f"((({lf + 10}) * 97 + u * 57) % 33 - 16) / 256.0"
        if lf < 3:
            parts.append(
                f"""fcin{lf + 1} AS (
  SELECT event_id, u AS j,
         FLOOR(GREATEST(acc + {bias}, 0) * 1024) / 1024 AS v
  FROM zf{lf}
)"""
            )
        else:
            parts.append(
                f"""lg AS (
  SELECT event_id,
         MAX(CASE WHEN u = 0 THEN acc + {bias} END)
           - MAX(CASE WHEN u = 1 THEN acc + {bias} END) AS logit
  FROM zf{lf} GROUP BY event_id
)"""
            )
    return parts


def _forward_parts(event_mod: int) -> list[str]:
    """Conv forward CTEs (ev, g0..g3, w/z per block, fcin1) — identical
    formulas to ``cnn.cnn_oracle_sql`` — plus the named fc CTEs."""
    parts = [
        f"ev AS (SELECT event_id FROM events WHERE event_id % {event_mod} = 0)",
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
    for li, n_out, n_in in cnn.CONVS:
        out_hi = cnn.GRID - 2 * li - 1
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
  SELECT event_id, ch * 100 + y * 10 + x + {cnn.N_FEATS} AS j, v FROM g3
  UNION ALL
  SELECT ev.event_id, t.k AS j,
         ((ev.event_id * (2 * t.k + 3)) % 257 - 128) / 256.0 AS v
  FROM ev, range({cnn.N_FEATS}) AS t(k)
)"""
    )
    parts.extend(_fwd_fc_parts())
    return parts


def _backward_parts() -> list[str]:
    """Backward CTEs: integer deltas/gradients mirroring
    :func:`backward_grads` term by term.  ``FLOOR(x / 256.0)`` is the
    2⁻¹⁸ → 2⁻¹⁰ re-quantization (exact: |x| ≪ 2⁵³, power-of-two
    divisor); masks come from the stored pre-bias accumulators."""
    parts = [
        """lbl AS (
  SELECT event_id, CASE WHEN event_id % 2 = 0 THEN 1.0 ELSE -1.0 END AS y
  FROM ev
)""",
        """dzf3 AS (
  SELECT g.event_id, t.u,
         CASE WHEN t.u = 0 THEN 1 ELSE -1 END
           * CAST(FLOOR((g.logit - l.y) * 8) AS BIGINT) AS dz
  FROM lg g JOIN lbl l USING (event_id), range(2) AS t(u)
)""",
    ]
    # int fc activations
    for lf in (1, 2, 3):
        parts.append(
            f"""ai{lf} AS (
  SELECT event_id, j, CAST(ROUND(v * 1024) AS BIGINT) AS ai FROM fcin{lf}
)"""
        )
    for lf, n_out, n_in in reversed(cnn.FCS):
        parts.append(
            f"""gwf{lf} AS (
  SELECT z.u, a.j, SUM(z.dz * a.ai) AS g
  FROM dzf{lf} z JOIN ai{lf} a USING (event_id) GROUP BY 1, 2
)"""
        )
        parts.append(
            f"""gbf{lf} AS (SELECT u, SUM(dz) * 1024 AS g FROM dzf{lf} GROUP BY u)"""
        )
        parts.append(
            f"""da{lf} AS (
  SELECT z.event_id, w.j, SUM(CAST(ROUND(w.w * 256) AS BIGINT) * z.dz) AS d18
  FROM dzf{lf} z JOIN wf{lf} w ON w.u = z.u GROUP BY 1, 2
)"""
        )
        if lf > 1:
            bias = f"((({lf + 9}) * 97 + m.u * 57) % 33 - 16) / 256.0"
            parts.append(
                f"""dzf{lf - 1} AS (
  SELECT d.event_id, d.j AS u,
         CASE WHEN m.acc + {bias} > 0
              THEN CAST(FLOOR(d.d18 / 256.0) AS BIGINT) ELSE 0 END AS dz
  FROM da{lf} d JOIN zf{lf - 1} m ON m.event_id = d.event_id AND m.u = d.j
)"""
            )
    # delta into the conv stack (no mask: g3 feeds fc1 directly)
    parts.append(
        f"""dg3 AS (
  SELECT event_id, (j - {cnn.N_FEATS}) // 100 AS ch,
         ((j - {cnn.N_FEATS}) % 100) // 10 AS y, (j - {cnn.N_FEATS}) % 10 AS x,
         CAST(FLOOR(d18 / 256.0) AS BIGINT) AS dg
  FROM da1 WHERE j >= {cnn.N_FEATS}
)"""
    )
    for li in (0, 1, 2):
        parts.append(
            f"""gi{li} AS (
  SELECT event_id, ch, y, x, CAST(ROUND(v * 1024) AS BIGINT) AS ai FROM g{li}
)"""
        )
    for li, _n_out, _n_in in reversed(cnn.CONVS):
        ks = f"(({li} * 31 + d.ch * 17) % 3 + 1)"
        cbias = f"(({li} * 97 + z.ch * 57) % 33 - 16) / 256.0"
        parts.append(
            f"""dzc{li} AS (
  SELECT d.event_id, d.ch, d.y, d.x,
         CASE WHEN z.acc + {cbias} > 0
              THEN CAST(FLOOR(d.dg * {ks} / 4.0) AS BIGINT) ELSE 0 END AS dz
  FROM dg{li} d JOIN z{li} z
    ON z.event_id = d.event_id AND z.ch = d.ch AND z.y = d.y AND z.x = d.x
)"""
        )
        parts.append(
            f"""gwc{li} AS (
  SELECT d.ch AS o, g.ch AS i, g.y - d.y AS r, g.x - d.x AS c,
         SUM(d.dz * g.ai) AS g
  FROM dzc{li} d JOIN gi{li - 1} g
    ON g.event_id = d.event_id
   AND g.y BETWEEN d.y AND d.y + 2 AND g.x BETWEEN d.x AND d.x + 2
  GROUP BY 1, 2, 3, 4
)"""
        )
        parts.append(
            f"""gbc{li} AS (SELECT ch AS o, SUM(dz) * 1024 AS g FROM dzc{li} GROUP BY ch)"""
        )
        if li > 1:
            parts.append(
                f"""dg{li - 1} AS (
  SELECT d.event_id, w.i AS ch, d.y + w.r AS y, d.x + w.c AS x,
         CAST(FLOOR(SUM(CAST(ROUND(w.w * 256) AS BIGINT) * d.dz) / 256.0) AS BIGINT) AS dg
  FROM dzc{li} d JOIN w{li} w ON w.o = d.ch
  GROUP BY 1, 2, 3, 4
)"""
            )
    return parts


def _grads_union() -> str:
    sels = []
    for li, n_out, n_in in cnn.CONVS:
        sels.append(
            f"SELECT 'conv{li}.weight' AS layer, ((o * {n_in} + i) * 3 + r) * 3 + c AS idx,"
            f" CAST(g AS BIGINT) AS g FROM gwc{li}"
        )
        sels.append(
            f"SELECT 'conv{li}.bias', o, CAST(g AS BIGINT) FROM gbc{li}"
        )
    for lf, n_out, n_in in cnn.FCS:
        sels.append(
            f"SELECT 'fc{lf}.weight', u * {n_in} + j, CAST(g AS BIGINT) FROM gwf{lf}"
        )
        sels.append(f"SELECT 'fc{lf}.bias', u, CAST(g AS BIGINT) FROM gbf{lf}")
    return "grads AS (\n" + "\nUNION ALL\n".join(sels) + "\n)"


def _wsums_union() -> str:
    sels = []
    for li, n_out, n_in in cnn.CONVS:
        sels.append(
            f"SELECT 'conv{li}.weight' AS layer,"
            f" SUM(CAST(ROUND(w * 256) AS BIGINT)) * 16777216 AS wsum FROM w{li}"
        )
        sels.append(
            f"SELECT 'conv{li}.bias', SUM(({li} * 97 + t.o * 57) % 33 - 16) * 16777216"
            f" FROM range({n_out}) AS t(o)"
        )
    for lf, n_out, n_in in cnn.FCS:
        sels.append(
            f"SELECT 'fc{lf}.weight',"
            f" SUM(CAST(ROUND(w * 256) AS BIGINT)) * 16777216 FROM wf{lf}"
        )
        sels.append(
            f"SELECT 'fc{lf}.bias', SUM((({lf + 10}) * 97 + t.u * 57) % 33 - 16) * 16777216"
            f" FROM range({n_out}) AS t(u)"
        )
    return "wsums AS (\n" + "\nUNION ALL\n".join(sels) + "\n)"


def cnn_train_oracle_sql() -> str:
    """Full relational twin of one distributed training step: forward,
    integer backward, per-layer gradient statistics and the
    updated-weight checksum (Σ w'·2³² = Σ k·2²⁴ − Σ g)."""
    parts = _materialize(
        _forward_parts(TRAIN_MOD)
        + _backward_parts()
        + [_grads_union(), _wsums_union()]
    )
    tail = """SELECT g.layer AS layer,
       CAST(COUNT(*) AS BIGINT) AS n_params,
       CAST(SUM(ABS(g.g)) AS BIGINT) AS grad_l1,
       CAST(SUM(g.g) AS BIGINT) AS grad_sum,
       CAST(MAX(ABS(g.g)) AS BIGINT) AS grad_max_abs,
       CAST(MAX(w.wsum) - SUM(g.g) AS BIGINT) AS updated_w_checksum
FROM grads g JOIN wsums w USING (layer)
GROUP BY g.layer ORDER BY layer"""
    return "WITH " + ",\n".join(parts) + "\n" + tail


def _materialize(parts: list[str]) -> list[str]:
    """Rewrite each CTE header ``name AS (`` to ``name AS MATERIALIZED (``
    — without it DuckDB re-inlines the shared forward/backward chain
    into every one of its ~12 consumers and the epoch-2 oracle goes
    exponential (measured 436 s for a 2-event batch at sf0.001;
    materialized: seconds).  DuckDB-only syntax is fine here — this SQL
    is the oracle, Spark never parses it."""
    out = []
    for p in parts:
        head, rest = p.split(" AS (", 1)
        out.append(head + " AS MATERIALIZED (" + rest)
    return out


def cnn_epoch_loss_oracle_sql() -> str:
    """Relational twin of the two-epoch loop: epoch-1 forward + loss,
    gradient step, epoch-2 forward with the re-quantized updated
    weights + loss.  The epoch-2 CTEs rebuild the same forward with
    ``w2*``/``wf2*`` weight relations: k' = k − ceil(g/2²⁴), all
    integer.  Loss is Σ |logit − y|·2¹⁸ as an exact integer."""
    parts = (
        _forward_parts(TRAIN_MOD)
        + _backward_parts()
        + [_grads_union()]
    )
    # epoch-2 integer weights per layer: k2 = k - ceil(g / 2^24)
    for li, n_out, n_in in cnn.CONVS:
        parts.extend([
            f"""w2c{li} AS (
  SELECT w.o, w.i, w.r, w.c,
         (CAST(ROUND(w.w * 256) AS BIGINT)
          + CAST(FLOOR(-s.g / 16777216.0) AS BIGINT)) / 256.0 AS w
  FROM w{li} w JOIN grads s
    ON s.layer = 'conv{li}.weight'
   AND s.idx = ((w.o * {n_in} + w.i) * 3 + w.r) * 3 + w.c
)""",
            f"""b2c{li} AS (
  SELECT s.idx AS o,
         (({li} * 97 + s.idx * 57) % 33 - 16
          + CAST(FLOOR(-s.g / 16777216.0) AS BIGINT)) / 256.0 AS b
  FROM grads s WHERE s.layer = 'conv{li}.bias'
)""",
        ])
    for lf, n_out, n_in in cnn.FCS:
        parts.extend([
            f"""w2f{lf} AS (
  SELECT w.u, w.j,
         (CAST(ROUND(w.w * 256) AS BIGINT)
          + CAST(FLOOR(-s.g / 16777216.0) AS BIGINT)) / 256.0 AS w
  FROM wf{lf} w JOIN grads s
    ON s.layer = 'fc{lf}.weight' AND s.idx = w.u * {n_in} + w.j
)""",
            f"""b2f{lf} AS (
  SELECT s.idx AS u,
         ((({lf + 10}) * 97 + s.idx * 57) % 33 - 16
          + CAST(FLOOR(-s.g / 16777216.0) AS BIGINT)) / 256.0 AS b
  FROM grads s WHERE s.layer = 'fc{lf}.bias'
)""",
        ])
    # epoch-2 forward (e2 prefix), conv then fc
    for li, n_out, n_in in cnn.CONVS:
        out_hi = cnn.GRID - 2 * li - 1
        src = "g0" if li == 1 else f"e2g{li - 1}"
        parts.append(
            f"""e2z{li} AS (
  SELECT g.event_id, w.o AS ch, g.y - w.r AS y, g.x - w.c AS x,
         SUM(w.w * g.v) AS acc
  FROM {src} g JOIN w2c{li} w ON w.i = g.ch
  WHERE g.y - w.r BETWEEN 0 AND {out_hi} AND g.x - w.c BETWEEN 0 AND {out_hi}
  GROUP BY 1, 2, 3, 4
)"""
        )
        parts.append(
            f"""e2g{li} AS (
  SELECT z.event_id, z.ch, z.y, z.x,
         FLOOR(((({li} * 31 + z.ch * 17) % 3 + 1) / 4.0
                * GREATEST(z.acc + b.b, 0)
                + (({li} * 41 + z.ch * 23) % 65 - 32) / 64.0) * 1024) / 1024 AS v
  FROM e2z{li} z JOIN b2c{li} b ON b.o = z.ch
)"""
        )
    parts.append(
        f"""e2fcin1 AS (
  SELECT event_id, ch * 100 + y * 10 + x + {cnn.N_FEATS} AS j, v FROM e2g3
  UNION ALL
  SELECT ev.event_id, t.k AS j,
         ((ev.event_id * (2 * t.k + 3)) % 257 - 128) / 256.0 AS v
  FROM ev, range({cnn.N_FEATS}) AS t(k)
)"""
    )
    for lf, n_out, n_in in cnn.FCS:
        parts.append(
            f"""e2zf{lf} AS (
  SELECT f.event_id, w.u, SUM(w.w * f.v) AS acc
  FROM e2fcin{lf} f JOIN w2f{lf} w ON w.j = f.j GROUP BY 1, 2
)"""
        )
        if lf < 3:
            parts.append(
                f"""e2fcin{lf + 1} AS (
  SELECT z.event_id, z.u AS j,
         FLOOR(GREATEST(z.acc + b.b, 0) * 1024) / 1024 AS v
  FROM e2zf{lf} z JOIN b2f{lf} b ON b.u = z.u
)"""
            )
        else:
            parts.append(
                f"""e2lg AS (
  SELECT z.event_id,
         MAX(CASE WHEN z.u = 0 THEN z.acc + b.b END)
           - MAX(CASE WHEN z.u = 1 THEN z.acc + b.b END) AS logit
  FROM e2zf{lf} z JOIN b2f{lf} b ON b.u = z.u
  GROUP BY z.event_id
)"""
            )
    parts = _materialize(parts)
    tail = """SELECT epoch, CAST(n_events AS BIGINT) AS n_events,
       CAST(loss_l1 AS BIGINT) AS loss_l1
FROM (
  SELECT 1 AS epoch, COUNT(*) AS n_events,
         SUM(CAST(ROUND(ABS(g.logit - l.y) * 262144) AS BIGINT)) AS loss_l1
  FROM lg g JOIN lbl l USING (event_id)
  UNION ALL
  SELECT 2, COUNT(*),
         SUM(CAST(ROUND(ABS(g.logit - l.y) * 262144) AS BIGINT))
  FROM e2lg g JOIN lbl l USING (event_id)
) ORDER BY epoch"""
    return "WITH " + ",\n".join(parts) + "\n" + tail
