"""Separable O(n) image filters in pure numpy.

Stand-ins for the scipy.ndimage primitives the reference leans on
(gaussian_filter, percentile_filter, maximum_filter, zoom — e.g.
/root/reference/kraken/binarization.py:44-127, /root/reference/kraken/lib/
morph.py:51-81). scipy is not available in this container, and at 100 TB
scale per-page kernel cost dominates, so these are deliberately linear-time:
box-filter cascades for gaussian smoothing, cumsum-based box sums, grid
percentiles with bilinear upsampling for local background estimation, and
stride-tricks moving max/min for dilation/erosion.
"""

from __future__ import annotations

import numpy as np


def box_filter_1d(a: np.ndarray, k: int, axis: int) -> np.ndarray:
    """Mean filter of width k along axis, edge-replicated, O(n)."""
    if k <= 1:
        return a.astype(np.float32, copy=False)
    a = np.moveaxis(a.astype(np.float32, copy=False), axis, -1)
    left = k // 2
    right = k - 1 - left
    pad = np.concatenate(
        [np.repeat(a[..., :1], left, axis=-1), a, np.repeat(a[..., -1:], right, axis=-1)],
        axis=-1,
    )
    c = np.cumsum(pad, axis=-1, dtype=np.float32)
    out = np.empty_like(a)
    out[..., 0] = c[..., k - 1]
    out[..., 1:] = c[..., k:] - c[..., : c.shape[-1] - k]
    out /= k
    return np.moveaxis(out.astype(np.float32), -1, axis)


def gaussian_filter(a: np.ndarray, sigma: float) -> np.ndarray:
    """Approximate gaussian blur: 3 passes of a box filter per axis.

    Box width chosen so the cascade variance matches sigma^2 (standard
    Wells'86 approximation; error < 3% vs a true gaussian).
    """
    if sigma <= 0:
        return a.astype(np.float32, copy=False)
    k = max(1, int(round(np.sqrt(sigma * sigma * 12.0 / 3.0 + 1.0))))
    if k % 2 == 0:
        k += 1
    out = a
    for axis in (0, 1):
        for _ in range(3):
            out = box_filter_1d(out, k, axis)
    return out


def moving_max_1d(a: np.ndarray, k: int, axis: int) -> np.ndarray:
    """Moving maximum of width k along axis (edge-replicated), via the
    van Herk/Gil-Werman two-scan algorithm — O(n) independent of k."""
    if k <= 1:
        return a
    a = np.moveaxis(a, axis, -1)
    n = a.shape[-1]
    left = k // 2
    right = k - 1 - left
    pad = np.concatenate(
        [np.repeat(a[..., :1], left, axis=-1), a, np.repeat(a[..., -1:], right, axis=-1)],
        axis=-1,
    )
    m = pad.shape[-1]
    nblocks = -(-m // k)
    padded = np.concatenate(
        [pad, np.repeat(pad[..., -1:], nblocks * k - m, axis=-1)], axis=-1
    )
    blocks = padded.reshape(*padded.shape[:-1], nblocks, k)
    fwd = np.maximum.accumulate(blocks, axis=-1).reshape(*padded.shape[:-1], -1)
    bwd = np.flip(
        np.maximum.accumulate(np.flip(blocks, axis=-1), axis=-1), axis=-1
    ).reshape(*padded.shape[:-1], -1)
    idx = np.arange(n)
    out = np.maximum(bwd[..., idx], fwd[..., idx + k - 1])
    return np.moveaxis(out, -1, axis)


def _window_count_1d(m: np.ndarray, k: int, axis: int) -> np.ndarray:
    """Edge-replicated windowed SUM of width k along axis via one cumsum —
    the binary-morphology fast path: for a 0/1 mask, moving max == count>0
    and moving min == count==k, and a single cumsum+subtract beats the two
    accumulate scans + gathers of the van Herk max filter ~3x."""
    m = np.moveaxis(m, axis, -1)
    left = k // 2
    right = k - 1 - left
    pad = np.concatenate(
        [np.repeat(m[..., :1], left, axis=-1), m, np.repeat(m[..., -1:], right, axis=-1)],
        axis=-1,
    )
    c = np.cumsum(pad, axis=-1, dtype=np.int32)
    out = c[..., k - 1 :].copy()
    out[..., 1:] -= c[..., :-k]
    return np.moveaxis(out, -1, axis)


def binary_dilation_sep(mask: np.ndarray, kh: int, kw: int) -> np.ndarray:
    """Binary dilation with a kh x kw ones structuring element (separable)."""
    m = mask.astype(bool, copy=False)
    if kh > 1:
        m = _window_count_1d(m, kh, 0) > 0
    if kw > 1:
        m = _window_count_1d(m, kw, 1) > 0
    return m


def binary_erosion_sep(mask: np.ndarray, kh: int, kw: int) -> np.ndarray:
    m = mask.astype(bool, copy=False)
    if kh > 1:
        m = _window_count_1d(m, kh, 0) == kh
    if kw > 1:
        m = _window_count_1d(m, kw, 1) == kw
    return m


def percentile_nearest(a: np.ndarray, q: float, axis: int = -1) -> np.ndarray:
    """Nearest-rank percentile via np.partition — O(n) selection instead of
    the full sort np.percentile performs; rank semantics differ from linear
    interpolation by at most one sample, irrelevant for background/contrast
    estimation."""
    n = a.shape[axis]
    k = min(n - 1, max(0, int(round(q / 100.0 * (n - 1)))))
    return np.take(np.partition(a, k, axis=axis), k, axis=axis).astype(np.float32)


def grid_percentile(img: np.ndarray, tile: int = 32, perc: float = 80.0) -> np.ndarray:
    """Per-tile percentile grid (gh, gw) float32, in the input's value units.

    Linear-time replacement for the reference's zoom + sliding
    percentile_filter background estimator
    (/root/reference/kraken/binarization.py:78-88) — same estimator class
    (local high percentile ~= page background), O(n) instead of O(n*w^2).

    For uint8 input the k-th order statistic per tile is found by 256-bin
    histogram selection (per-tile-row bincount scatter + a (gw, 256)
    cumsum/argmax) instead of np.partition over a transposed tile copy —
    identical value (same multiset, same nearest-rank k), less work AND
    far less memory traffic: the per-iteration working set is one tile
    row (~128 KB), which matters at 32-way partition concurrency where
    the image kernels are DRAM-bandwidth-bound (guide §1: per-task work;
    BASELINE.md host notes).
    """
    h, w = img.shape
    gh, gw = -(-h // tile), -(-w // tile)
    ph, pw = gh * tile, gw * tile
    padded = np.pad(img, ((0, ph - h), (0, pw - w)), mode="edge")  # stays uint8
    if img.dtype == np.uint8:
        n = tile * tile
        k = min(n - 1, max(0, int(round(perc / 100.0 * (n - 1)))))
        out = np.empty((gh, gw), dtype=np.float32)
        # per-pixel histogram ids within a tile row: tile_col * 256 + value
        xbase = (np.arange(pw, dtype=np.int32) // tile) * np.int32(256)
        nb = gw * 256
        for gy in range(gh):
            ids = xbase[None, :] + padded[gy * tile : (gy + 1) * tile]
            counts = np.bincount(ids.ravel(), minlength=nb)
            cum = np.cumsum(counts.reshape(gw, 256), axis=1)
            # k-th smallest (0-indexed) = first value whose cumulative
            # count reaches k+1 — exactly np.partition(...)[k] for ints
            out[gy] = np.argmax(cum >= k + 1, axis=1)
        return out
    tiles = padded.reshape(gh, tile, gw, tile).transpose(0, 2, 1, 3).reshape(gh, gw, -1)
    return percentile_nearest(tiles, perc, axis=2)


def _interp_coords(n_out: int, n_grid: int, tile: int, stride: int = 1) -> np.ndarray:
    """Fractional grid coordinates of output samples 0, stride, 2*stride, ...
    relative to tile centers."""
    return np.clip(
        (np.arange(n_out, dtype=np.float32) * stride - 0.5 * tile + 0.5) / tile,
        0.0,
        n_grid - 1.0,
    )


def _axis_interp(g: np.ndarray, coords: np.ndarray, axis: int) -> np.ndarray:
    """Linear interpolation of g at fractional coords along axis."""
    n_grid = g.shape[axis]
    i0 = np.minimum(coords.astype(np.int64), max(n_grid - 2, 0))
    f = (coords - i0).astype(np.float32)
    a = np.take(g, i0, axis=axis)
    b = np.take(g, np.minimum(i0 + 1, n_grid - 1), axis=axis)
    shape = [1] * g.ndim
    shape[axis] = len(coords)
    f = f.reshape(shape)
    return a * (1.0 - f) + b * f


def upsample_bilinear(
    grid: np.ndarray, h: int, w: int, tile: int, stride: int = 1
) -> np.ndarray:
    """Bilinear upsample of a tile-center grid to an (h, w) map (float32).
    With stride=k, evaluates at rows/cols 0, k, 2k, ... (a decimated map)."""
    gh, gw = grid.shape
    out = _axis_interp(grid, _interp_coords(h, gh, tile, stride), 0)
    return _axis_interp(out, _interp_coords(w, gw, tile, stride), 1).astype(np.float32)


def grid_percentile_background(
    img: np.ndarray, tile: int = 32, perc: float = 80.0
) -> np.ndarray:
    """Local background map at full resolution (grid_percentile ∘ upsample)."""
    h, w = img.shape
    return upsample_bilinear(grid_percentile(img, tile, perc), h, w, tile)


def threshold_against_background(
    img: np.ndarray, grid: np.ndarray, tile: int, c: float
) -> np.ndarray:
    """mask = img < bilinear_upsample(grid) + c, computed in row chunks so the
    interpolated background stays cache-resident — the full-resolution float32
    background map is never materialized (the dominant DRAM cost of a naive
    nlbin at 32-way partition concurrency is exactly that map)."""
    h, w = img.shape
    gh, gw = grid.shape
    # x-axis interpolation once: (gh, w) float32, ~h/tile rows — tiny
    gx = _axis_interp(grid, _interp_coords(w, gw, tile), 1)
    ycoords = _interp_coords(h, gh, tile)
    i0 = np.minimum(ycoords.astype(np.int64), max(gh - 2, 0))
    fy = (ycoords - i0).astype(np.float32)
    out = np.empty((h, w), dtype=bool)
    step = 64
    cf = np.float32(c)
    for y in range(0, h, step):
        ye = min(y + step, h)
        a = gx[i0[y:ye]]
        b = gx[np.minimum(i0[y:ye] + 1, gh - 1)]
        f = fy[y:ye][:, None]
        bg = a + (b - a) * f
        bg += cf
        np.less(img[y:ye], bg, out=out[y:ye])
    return out.view(np.uint8)
