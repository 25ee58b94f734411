"""In-repo training of the BLLA-style segmentation net — pure numpy.

The reference ships a TRAINED segmentation model (blla.mlmodel, loaded in
/root/reference/kraken/blla.py:59-141); that file is an LFS stub in this
snapshot, so earlier rounds ran CONSTRUCTED weights through the real
forward machinery. This module removes that last stand-in: a small
conv net is trained from RANDOM init with a hand-written numpy
forward/backward (no torch) on the synthetic corpus's exact line/region
ground truth (kernels/render.py), and the learned weights ship in-repo
(kraken_spark/assets/blla_learned.safetensors, written by
tools/train_segmenter.py and loadable by any safetensors reader).

Architecture (the trained twin of blla.SEG_SPEC_REF's topology):

    ink mask --_pool_or(2)--> conv0 7x7 (1->2) + sigmoid
              --> conv1 5x49 SEPARABLE (2->2, per-pair rank-1 u (x) v)
              + sigmoid --> (baseline, region) heatmaps

The separable parameterization keeps the 5x49 integration layer cheap at
inference (two 1-D passes instead of a 245-tap kernel — the same
factorization trick depthwise-separable conv nets use) and spans the
hand-constructed solution exactly (its row-group box kernels are rank-1),
so the trained net can only match or beat it. Loss is per-channel
positively-weighted BCE against rasterized GT: a 5-px band centered on
each line's true baseline (straight or sinusoidal) for channel 0, the
text-region rectangles for channel 1. Everything is seeded (PCG64) —
retraining reproduces the shipped weights bit-for-bit.
"""

from __future__ import annotations

import os

import numpy as np
from numpy.lib.stride_tricks import sliding_window_view

from .layers import sigmoid

K0 = 7    # conv0 kernel (square)
KV = 5    # conv1 vertical taps
KH = 49   # conv1 horizontal taps
C0 = 4    # conv0 output channels
C1 = 2    # output classes: 0 = baseline, 1 = region

ASSET = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "assets",
    "blla_learned.safetensors",
)


# ---------------------------------------------------------------- primitives


def _corr1d(a: np.ndarray, k: np.ndarray, axis: int) -> np.ndarray:
    """'same' zero-padded 1-D cross-correlation along axis (odd-length k)."""
    half = len(k) // 2
    pad = [(0, 0), (0, 0)]
    pad[axis] = (half, half)
    win = sliding_window_view(np.pad(a, pad), len(k), axis=axis)
    return win @ k


def _corr1d_dk(a: np.ndarray, dz: np.ndarray, n: int, axis: int) -> np.ndarray:
    """Gradient of _corr1d(a, k, axis) wrt k."""
    half = n // 2
    pad = [(0, 0), (0, 0)]
    pad[axis] = (half, half)
    win = sliding_window_view(np.pad(a, pad), n, axis=axis)
    return np.einsum("hwn,hw->n", win, dz)


def _conv0_cols(x: np.ndarray) -> np.ndarray:
    """im2col for the 7x7 'same' conv over a single-channel map."""
    win = sliding_window_view(np.pad(x, K0 // 2), (K0, K0))
    return win.reshape(x.shape[0] * x.shape[1], K0 * K0)


def forward(x: np.ndarray, W: dict, want_grad_cache: bool = False):
    """x: (H, W) pooled {0,1} ink mask -> (2, H, W) sigmoid heatmaps."""
    H, Wd = x.shape
    Xc = _conv0_cols(x)
    z0 = (Xc @ W["w0"].reshape(C0, -1).T + W["b0"]).reshape(H, Wd, C0)
    a = sigmoid(z0)  # (H, W, C0)
    z1 = np.empty((C1, H, Wd), dtype=np.float64)
    t_cache = {}
    for o in range(C1):
        acc = np.full((H, Wd), W["b1"][o], dtype=np.float64)
        for i in range(C0):
            t = _corr1d(a[..., i], W["u"][o, i], axis=0)
            if want_grad_cache:
                t_cache[(o, i)] = t
            acc += _corr1d(t, W["v"][o, i], axis=1)
        z1[o] = acc
    y = sigmoid(z1)
    if want_grad_cache:
        return y, {"Xc": Xc, "a": a, "t": t_cache, "z1": z1}
    return y


def _backward(x_shape, W: dict, cache: dict, dz1: np.ndarray) -> dict:
    """dz1: (C1, H, W) gradient at conv1 pre-activation. Returns grads."""
    a = cache["a"]
    g = {k: np.zeros_like(W[k]) for k in ("w0", "b0", "u", "v", "b1")}
    dA = np.zeros_like(a)
    for o in range(C1):
        g["b1"][o] = dz1[o].sum()
        for i in range(C0):
            t = cache["t"][(o, i)]
            g["v"][o, i] = _corr1d_dk(t, dz1[o], KH, axis=1)
            dT = _corr1d(dz1[o], W["v"][o, i][::-1], axis=1)
            g["u"][o, i] = _corr1d_dk(a[..., i], dT, KV, axis=0)
            dA[..., i] += _corr1d(dT, W["u"][o, i][::-1], axis=0)
    dz0 = dA * a * (1.0 - a)  # (H, W, C0)
    flat = dz0.reshape(-1, C0)
    g["w0"] = (cache["Xc"].T @ flat).T.reshape(C0, K0, K0)
    g["b0"] = flat.sum(axis=0)
    return g


def forward_infer(x: np.ndarray, W: dict) -> np.ndarray:
    """Inference-only forward in float32 with conv0 as 49 shifted adds —
    no im2col temporary (the training forward materializes an
    (H*W, 49) float64 matrix, ~190 MB/page at heatmap scale; this keeps
    peak memory at a few output maps, which matters at 32-way executor
    concurrency). Numerically float32 instead of float64: the downstream
    vectorizer thresholds at 0.17/0.5 on sigmoid outputs that the trained
    net saturates toward 0/1, so the precision change is inert (re-swept
    in tests/test_seg_train.py::test_infer_forward_matches_training)."""
    H, Wd = x.shape
    xf = x.astype(np.float32)
    w0 = W["w0"].astype(np.float32)
    pad = K0 // 2
    xp = np.pad(xf, pad)
    a = np.empty((C0, H, Wd), dtype=np.float32)
    for c in range(C0):
        acc = np.full((H, Wd), np.float32(W["b0"][c]), dtype=np.float32)
        for dy in range(K0):
            for dx in range(K0):
                wv = w0[c, dy, dx]
                if wv != 0.0:
                    acc += wv * xp[dy : dy + H, dx : dx + Wd]
        a[c] = acc
    a = sigmoid(a)
    z1 = np.empty((C1, H, Wd), dtype=np.float32)
    for o in range(C1):
        acc = np.full((H, Wd), np.float32(W["b1"][o]), dtype=np.float32)
        for i in range(C0):
            t = _corr1d(a[i], W["u"][o, i].astype(np.float32), axis=0)
            acc += _corr1d(t, W["v"][o, i].astype(np.float32), axis=1)
        z1[o] = acc
    return sigmoid(z1)


# ------------------------------------------------------------- ground truth


def gt_maps(doc: dict) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Rasterize a rendered document's golden geometry into pooled input
    and target maps: (x, t_baseline, t_region), all (H/2, W/2)."""
    from .blla import _pool_or
    from .glyphs import CELL_W

    ink = doc["ink"].astype(bool)
    h, w = ink.shape
    bl = np.zeros((h, w), dtype=bool)
    rg = np.zeros((h, w), dtype=bool)
    for line in doc["lines"]:
        pts = line["baseline"]
        if len(pts) == 2 and pts[0][1] == pts[1][1]:
            (x0, yb), (x1, _) = pts
            bl[max(yb - 2, 0) : yb + 3, x0 : x1 + 1] = True
        else:
            for px, py in pts:
                bl[max(py - 2, 0) : py + 3, px : px + CELL_W] = True
    regions = doc["regions"]
    if not regions and doc["lines"]:
        xs0 = min(l["bbox"][0] for l in doc["lines"])
        ys0 = min(l["bbox"][1] for l in doc["lines"])
        xs1 = max(l["bbox"][2] for l in doc["lines"])
        ys1 = max(l["bbox"][3] for l in doc["lines"])
        regions = [{"boundary": [[xs0, ys0], [xs1, ys0], [xs1, ys1], [xs0, ys1]]}]
    for r in regions:
        xs = [p[0] for p in r["boundary"]]
        ys = [p[1] for p in r["boundary"]]
        rg[max(min(ys) - 2, 0) : max(ys) + 3, max(min(xs) - 2, 0) : max(xs) + 3] = True
    return (
        _pool_or(ink, 2).astype(np.float64),
        _pool_or(bl, 2).astype(np.float64),
        _pool_or(rg, 2).astype(np.float64),
    )


def training_pages(n_straight: int = 10, n_curved: int = 6) -> list:
    """Deterministic training set: straight + curved synthetic pages from
    seeds DISJOINT from every test/bench sweep seed (1234/7/555/42/99/2024
    are evaluation seeds — the learned net generalizes to them, it never
    sees them)."""
    from . import render

    pages = []
    for k in range(n_straight):
        pages.append(gt_maps(render.render_document(881000 + k, k)))
    for k in range(n_curved):
        pages.append(gt_maps(render.render_curved_document(882000 + k, k)))
    return pages


# ----------------------------------------------------------------- training

POS_W_BL = 12.0   # baseline ridge pixels are ~2% of the map
POS_W_RG = 2.0
# negative-class weight multiplier on INK pixels: the failure mode that
# breaks the downstream vectorizer is a band-interior false positive (a
# phantom ridge above the true baseline, over glyph ink) slipping past the
# 0.17 threshold — weight those negatives harder than empty background
NEG_INK_W = 2.0


def init_weights(rng: np.random.Generator) -> dict:
    return {
        "w0": (rng.standard_normal((C0, K0, K0)) * (2.0 / (K0 * K0)) ** 0.5),
        "b0": np.zeros(C0),
        "u": rng.standard_normal((C1, C0, KV)) * (2.0 / KV) ** 0.5,
        "v": rng.standard_normal((C1, C0, KH)) * (2.0 / KH) ** 0.5,
        "b1": np.zeros(C1),
    }


def crop_gradient(x: np.ndarray, tb: np.ndarray, tr: np.ndarray, W: dict,
                  cy: int, cx: int, crop: int) -> tuple[float, dict]:
    """Weighted-BCE loss + gradients for ONE crop of one page — the exact
    inner computation of train()'s minibatch loop, shared with the
    distributed segtrain face (training.spark_seg_gradient)."""
    xs = x[cy : cy + crop, cx : cx + crop]
    ts = np.stack(
        [tb[cy : cy + crop, cx : cx + crop], tr[cy : cy + crop, cx : cx + crop]]
    )
    y, cache = forward(xs, W, want_grad_cache=True)
    n = xs.size
    dz1 = np.empty_like(y)
    wneg = 1.0 + NEG_INK_W * xs
    loss = 0.0
    for c, wp in ((0, POS_W_BL), (1, POS_W_RG)):
        t = ts[c]
        yc = y[c]
        wn = wneg if c == 0 else 1.0
        dz1[c] = (wn * yc * (1.0 - t) + wp * t * (yc - 1.0)) / n
        eps = 1e-9
        loss -= float(
            (wp * t * np.log(yc + eps) + wn * (1 - t) * np.log(1 - yc + eps)).mean()
        )
    return loss, _backward(xs.shape, W, cache, dz1)


def train(
    steps: int = 700,
    lr: float = 0.05,
    crop: int = 160,
    batch: int = 4,
    seed: int = 20240817,
    pages: list | None = None,
    log_every: int = 0,
) -> dict:
    """Adam + weighted BCE from random init; returns the weight dict."""
    from .rec_train import Adam

    rng = np.random.Generator(np.random.PCG64(seed))
    pages = pages or training_pages()
    W = init_weights(rng)
    opt = Adam(W)
    lr0 = lr
    for step in range(1, steps + 1):
        # cosine decay: early steps explore, late steps sharpen the maps so
        # sub-threshold phantom responses (band-interior false positives
        # just over the vectorizer's 0.17 threshold) are pushed down
        lr = lr0 * (0.02 + 0.98 * 0.5 * (1 + np.cos(np.pi * (step - 1) / steps)))
        g_acc = {k: np.zeros_like(v) for k, v in W.items()}
        loss = 0.0
        for _ in range(batch):
            x, tb, tr = pages[int(rng.integers(0, len(pages)))]
            H, Wd = x.shape
            cy = int(rng.integers(0, max(H - crop, 1)))
            cx = int(rng.integers(0, max(Wd - crop, 1)))
            closs, g = crop_gradient(x, tb, tr, W, cy, cx, crop)
            loss += closs
            for k in g_acc:
                g_acc[k] += g[k]
        opt.step(W, {k: g / batch for k, g in g_acc.items()}, lr=lr)
        if log_every and step % log_every == 0:
            print(f"step {step:4d}  loss {loss / batch:.5f}")
    return W


# -------------------------------------------------------------------- I/O


def save_weights(W: dict, path: str = ASSET) -> None:
    from .modelio import write_safetensors

    os.makedirs(os.path.dirname(path), exist_ok=True)
    write_safetensors(
        path,
        {k: np.asarray(v, dtype=np.float32) for k, v in W.items()},
        metadata={"arch": f"conv{K0}x{K0}s-sep{KV}x{KH}s", "trainer": "seg_train.train"},
    )


def load_weights(path: str | None = None) -> dict | None:
    from ..assets_io import asset_bytes
    from .modelio import parse_safetensors, read_safetensors

    if path is not None:
        if not os.path.exists(path):
            return None
        tensors, _ = read_safetensors(path)
    else:  # the shipped asset: plain file OR --py-files zip entry
        blob = asset_bytes(os.path.basename(ASSET))
        if blob is None:
            return None
        tensors, _ = parse_safetensors(blob, ASSET)
    return {k: tensors[k].astype(np.float64) for k in ("w0", "b0", "u", "v", "b1")}
