"""VGSL layer primitives shared by inference and training — pure numpy.

kraken writes each VGSL layer once (lib/vgsl/layers.py) and both training
and inference run it. This module is that library for the layers whose
arithmetic is the same everywhere they are used:

- ``lstm``: the torch nn.LSTM recurrence (gates i,f,g,o, both biases) over
  packed, left-aligned sequences — TorchVGSL's per-line and batched paths
  and VGSLModel's LSTM layers;
- ``softmax`` / ``log_softmax``: the max-shifted forms (TorchVGSL's output
  tail and ``m`` conv activation, VGSLModel's ``m`` activation and output
  head; the CTC loss and forced alignment);
- ``sigmoid``: the overflow-safe split form (the seg and rec trainers);
- ``reverse_within``: per-sample time reversal within each valid length
  (TorchVGSL's reverse LSTM direction, rec_train's reverse direction);
- ``maxpool``: max pooling, floor mode (TorchVGSL and VGSLModel).

Each replaced copies that were measured bit-identical, so every output,
gradient and retrained weight is unchanged. Copies whose arithmetic is
pinned to differ stay where they are:

- the training LSTM (rec_train._lstm_fwd/_lstm_bwd): split sigmoid, padded
  steps and a BPTT cache; the committed recognizer assets retrain bit for
  bit on it, and it matches inference only to ~2e-5;
- the four convs — vgsl._conv2d (summed-area / shifted-tap / tensordot
  strategies), torchvgsl._conv2d_torch, rec_train._conv3x3_* and
  seg_train.forward_infer's bias-first float32 sum: their summation orders
  differ and each is pinned by CER-0, golden or asset tests;
- vgsl._gru_dir (the only GRU), the two groupnorm formulas, and the two
  spec parsers (different grammar and weight names).

The optimizer is not a layer but is written once the same way:
rec_train.Adam steps every in-repo trainer (rec, pretrain, seg, RO and
their Spark faces in training.py) and keeps each weight's dtype, so the
float64 seg/RO loops retrain their assets bit for bit on it. The two
cosine learning-rate forms stay apart: the seg/RO loops compute
``np.pi * (step - 1) / steps``, while the rec/pretrain loops scale
``np.pi * frac``. A shared helper would have to round one of them
differently. For example, ``np.pi * ((step - 1) / steps)`` differs in
the last bit on 196 of 700 seg steps and 1,349 of 4,000 RO steps, which
would change the committed assets.
"""

from __future__ import annotations

import numpy as np
from numpy.lib.stride_tricks import sliding_window_view


def softmax(x: np.ndarray, axis: int = -1) -> np.ndarray:
    m = x.max(axis=axis, keepdims=True)
    e = np.exp(x - m)
    return e / e.sum(axis=axis, keepdims=True)


def log_softmax(x: np.ndarray) -> np.ndarray:
    """log-softmax over the last axis."""
    m = x.max(axis=-1, keepdims=True)
    s = x - m
    return s - np.log(np.exp(s).sum(axis=-1, keepdims=True))


def sigmoid(x: np.ndarray) -> np.ndarray:
    """Logistic function that never evaluates exp of a large positive
    argument (no overflow warning for strongly negative inputs)."""
    out = np.empty_like(x)
    pos = x >= 0
    out[pos] = 1.0 / (1.0 + np.exp(-x[pos]))
    e = np.exp(x[~pos])
    out[~pos] = e / (1.0 + e)
    return out


def maxpool(x: np.ndarray, k: tuple[int, int], stride: tuple[int, int]) -> np.ndarray:
    """Max pooling over the last two axes, floor mode (torch MaxPool2d: a
    trailing partial window is dropped)."""
    ky, kx = k
    sy, sx = stride
    h, w = x.shape[-2:]
    oh = (h - ky) // sy + 1
    ow = (w - kx) // sx + 1
    if oh <= 0 or ow <= 0:
        return x[..., :0, :0]
    if (ky, kx) == (sy, sx):
        # non-overlapping windows (the usual Mp2,2): elementwise max of the
        # ky*kx strided phases — same values, no strided-view reduction
        crop = x[..., : oh * sy, : ow * sx]
        out = crop[..., ::sy, ::sx]
        for dy in range(ky):
            for dx in range(kx):
                if dy or dx:
                    out = np.maximum(out, crop[..., dy::sy, dx::sx])
        return np.ascontiguousarray(out)
    win = sliding_window_view(x, (ky, kx), axis=(-2, -1))[..., ::sy, ::sx, :, :]
    return win[..., :oh, :ow, :, :].max(axis=(-2, -1))


def reverse_within(seq: np.ndarray, lengths: np.ndarray) -> np.ndarray:
    """Per-sample time reversal within each valid length over (N, T, F)
    left-aligned zero-padded sequences (left-aligned in, left-aligned
    out). A forward recurrence over the reversed copy equals a reverse
    recurrence over the unpadded sequence."""
    _, t, _ = seq.shape
    idx = np.arange(t)[None, :]
    src = lengths[:, None] - 1 - idx
    valid = src >= 0
    src = np.where(valid, src, 0)
    out = np.take_along_axis(seq, src[:, :, None], axis=1)
    return out * valid[:, :, None].astype(seq.dtype)


def lstm(seqs: np.ndarray, lengths, wih, whh, bih, bhh,
         reverse: bool = False) -> np.ndarray:
    """torch nn.LSTM, one direction, over (N, T, F) left-aligned zero-padded
    sequences with per-sample valid lengths -> (N, T, hidden) float32.

    Packed-sequence scheme (torch pack_padded_sequence): rows sorted by
    length so the active set at step k is the prefix with length > k, and
    steps at or past a row's length are never computed (their outputs stay
    zero). The reverse direction reverses each sequence within its own
    length first. The input projection runs on ``seqs`` as passed, before
    the length sort, so a caller's strided view keeps its own matmul path.

    One row per call runs the recurrence as GEMVs; several rows in one
    call run it as one GEMM per step, which is not bit-equal to one call
    per row."""
    lengths = np.asarray(lengths, dtype=np.int64)
    if reverse:
        rev = reverse_within(seqs, lengths)
        out = lstm(rev, lengths, wih, whh, bih, bhh, False)
        return reverse_within(out, lengths)
    n, t, _ = seqs.shape
    hid = whh.shape[1]
    order = np.argsort(-lengths, kind="stable")
    inv = np.empty_like(order)
    inv[order] = np.arange(n)
    sl = lengths[order]
    bias = (bih if bih is not None else 0) + (bhh if bhh is not None else 0)
    # time-major so the per-step slice is contiguous
    pre_all = np.ascontiguousarray(
        np.swapaxes((seqs @ wih.T.astype(np.float32) + bias)[order], 0, 1))
    tmax = int(sl[0]) if n else 0
    # active-row count per step: sl is descending
    counts = n - np.searchsorted(sl[::-1], np.arange(tmax), side="right")
    hs = np.zeros((t, n, hid), dtype=np.float32)
    h = np.zeros((n, hid), dtype=np.float32)
    cst = np.zeros((n, hid), dtype=np.float32)
    whh_t = whh.T.astype(np.float32)
    for k in range(tmax):
        nk = int(counts[k])
        pre = pre_all[k, :nk]
        pre += h[:nk] @ whh_t
        # one fused sigmoid over all four gate lanes; the g lane is
        # discarded and recomputed as tanh — identical elementwise values
        # for the lanes actually used, fewer python-level vector ops
        sig = 1.0 / (1.0 + np.exp(-pre))
        i = sig[:, :hid]
        f = sig[:, hid : 2 * hid]
        g = np.tanh(pre[:, 2 * hid : 3 * hid])
        o = sig[:, 3 * hid :]
        cnew = f * cst[:nk] + i * g
        cst[:nk] = cnew
        hnew = o * np.tanh(cnew)
        h[:nk] = hnew
        hs[k, :nk] = hnew
    return np.ascontiguousarray(np.swapaxes(hs, 0, 1))[inv]
