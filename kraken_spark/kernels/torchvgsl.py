"""Torch-exact VGSL inference for LOADED kraken models (pure numpy).

The engine's own constructed-weight recognizer (kernels/vgsl.py) keeps its
simplified semantics; THIS module replicates the reference's torch modules
bit-faithfully enough to reproduce trained-model predictions. The LSTM
recurrence, softmax and max-pool are the shared primitives of
kernels/layers.py (also run by vgsl.py and the trainers); this module maps
the torch layers onto them and holds the rest:

- conv: torch Conv2d with kraken's always-on (k-1)//2 padding
  (/root/reference/kraken/lib/vgsl/layers.py:785-841 ActConv2D)
- groupnorm: torch GroupNorm semantics, eps=1e-5, biased variance
  (layers.py:955-975)
- reshape: exact port of layers.Reshape:285-336 with the VGSL->NCHW dim map
  of model.py:739-777 (height folds into channels H-major: c' = h*C + c)
- linear head: LinSoftmax NCHW->NWHC matmul, logits out (layers.py:679-722);
  softmax over classes happens in the recognizer wrapper like
  TorchSeqRecognizer.forward (lib/models.py:93-119)
- LSTM: TransposedSummarizingRNN mapping (layers.py:462-547) over torch
  nn.LSTM cell math (gate order i,f,g,o; both biases)
- maxpool: torch MaxPool2d (floor mode, stride defaults to kernel)

plus scipy-compatible preprocessing used by the reference's input pipeline
(no scipy/PIL in this environment):

- gaussian/uniform filters with truncate=4.0 FIR kernels and 'constant'
  mode, matching scipy.ndimage defaults used by lib/lineest.py
- CenterNormalizer + dewarp exact port (lib/lineest.py:26-87) for the
  valid_norm bbox-line path of ImageInputTransforms
  (lib/dataset/utils.py:54-155)
- Lanczos fixed resize matching PIL Image.resize(LANCZOS) geometry for the
  baseline-line path (lib/functional_im_transforms.py:66-82)

Verified end-to-end against the reference's golden predictions for
tests/resources/overfit.mlmodel on 000236.png
(/root/reference/tests/test_rpred.py:352-366) in tests/test_golden_rpred.py.
"""

from __future__ import annotations

import re

import numpy as np

from .layers import lstm, maxpool, softmax

# ------------------------------------------------------------ scipy compat


def _gaussian_kernel(sigma: float, truncate: float = 4.0) -> np.ndarray:
    radius = int(truncate * float(sigma) + 0.5)
    x = np.arange(-radius, radius + 1, dtype=np.float64)
    k = np.exp(-0.5 * (x / sigma) ** 2)
    return k / k.sum()


def _correlate1d_constant(a: np.ndarray, k: np.ndarray, axis: int, mode: str = "constant") -> np.ndarray:
    """FIR correlation along axis, float64 — scipy.ndimage.correlate1d
    semantics for an odd, centered kernel. mode: 'constant' (cval=0) or
    'reflect' (scipy's default, d c b a | a b c d | d c b a)."""
    a = np.asarray(a, dtype=np.float64)
    r = (len(k) - 1) // 2
    pad = [(0, 0)] * a.ndim
    pad[axis] = (r, r)
    if mode == "reflect":
        n = a.shape[axis]
        if r >= n:
            # np.pad symmetric extends by at most the current length per
            # application; iterate to tile the alternating reflection like
            # scipy's 'reflect' for radius >= length
            ap = a
            left = right = r
            while left > 0 or right > 0:
                lp = min(left, ap.shape[axis])
                rp = min(right, ap.shape[axis])
                p = [(0, 0)] * a.ndim
                p[axis] = (lp, rp)
                ap = np.pad(ap, p, mode="symmetric")
                left -= lp
                right -= rp
        else:
            ap = np.pad(a, pad, mode="symmetric")
    else:
        ap = np.pad(a, pad)
    out = np.zeros_like(a)
    sl = [slice(None)] * a.ndim
    n = a.shape[axis]
    for i, w in enumerate(k):
        if w == 0.0:
            continue
        sl[axis] = slice(i, i + n)
        out += w * ap[tuple(sl)]
    return out


def gaussian_filter(a: np.ndarray, sigma, truncate: float = 4.0, mode: str = "reflect") -> np.ndarray:
    """scipy.ndimage.gaussian_filter. Default mode is scipy's 'reflect';
    lib/lineest.py passes mode='constant' explicitly for the image smooth
    but uses the default for the centerline smooth. Integer inputs return
    integer outputs (truncated), like scipy."""
    arr = np.asarray(a)
    int_out = np.issubdtype(arr.dtype, np.integer)
    sigmas = [float(sigma)] * arr.ndim if np.isscalar(sigma) else [float(s) for s in sigma]
    out = arr.astype(np.float64)
    for ax, s in enumerate(sigmas):
        if s <= 0:
            continue
        out = _correlate1d_constant(out, _gaussian_kernel(s, truncate), ax, mode=mode)
        if int_out:
            # scipy applies each 1-D pass into an integer output buffer
            out = out.astype(np.int64).astype(np.float64)
    return out.astype(arr.dtype) if int_out else out


def uniform_filter(a: np.ndarray, size) -> np.ndarray:
    """scipy.ndimage.uniform_filter(mode='constant'): box mean, even sizes
    right-biased (window [i - s//2, i + s - s//2 - 1])."""
    out = np.asarray(a, dtype=np.float64)
    sizes = [int(size)] * out.ndim if np.isscalar(size) else [int(s) for s in size]
    for ax, s in enumerate(sizes):
        if s <= 1:
            continue
        n = out.shape[ax]
        lo, hi = s // 2, s - s // 2 - 1
        pad = [(0, 0)] * out.ndim
        pad[ax] = (lo, hi)
        ap = np.pad(out, pad)
        c = np.cumsum(ap, axis=ax)
        zero_shape = list(c.shape)
        zero_shape[ax] = 1
        c = np.concatenate([np.zeros(zero_shape), c], axis=ax)
        idx_hi = [slice(None)] * out.ndim
        idx_lo = [slice(None)] * out.ndim
        idx_hi[ax] = slice(s, s + n)
        idx_lo[ax] = slice(0, n)
        out = (c[tuple(idx_hi)] - c[tuple(idx_lo)]) / s
    return out


def affine_scale(img: np.ndarray, scale: float, output_shape: tuple[int, int], cval: float = 0.0) -> np.ndarray:
    """scipy.ndimage.affine_transform(img, np.ones(2)/scale, order=1,
    output_shape=..., mode='constant'): out[y, x] samples input at
    (y/scale, x/scale) with bilinear interpolation; taps beyond the input
    extent read cval (lib/lineest.py:13-23 scale_to_h)."""
    h, w = img.shape
    oh, ow = output_shape
    yy = np.arange(oh, dtype=np.float64) / scale
    xx = np.arange(ow, dtype=np.float64) / scale
    y0 = np.floor(yy).astype(np.int64)
    x0 = np.floor(xx).astype(np.int64)
    fy = (yy - y0)[:, None]
    fx = (xx - x0)[None, :]

    def tap(ys, xs):
        valid = (ys >= 0) & (ys < h)
        vx = (xs >= 0) & (xs < w)
        g = img[np.clip(ys, 0, h - 1)[:, None], np.clip(xs, 0, w - 1)[None, :]].astype(np.float64)
        g = np.where(valid[:, None] & vx[None, :], g, cval)
        return g

    return (
        tap(y0, x0) * (1 - fy) * (1 - fx)
        + tap(y0, x0 + 1) * (1 - fy) * fx
        + tap(y0 + 1, x0) * fy * (1 - fx)
        + tap(y0 + 1, x0 + 1) * fy * fx
    )


# --------------------------------------------------------- CenterNormalizer
class CenterNormalizer:
    """Exact port of /root/reference/kraken/lib/lineest.py:26-65."""

    def __init__(self, target_height: int = 48, params=(4, 1.0, 0.3)):
        self.target_height = target_height
        self.range, self.smoothness, self.extra = params

    def measure(self, line: np.ndarray) -> None:
        h, w = line.shape
        smoothed = gaussian_filter(line, (h * 0.5, h * self.smoothness), mode="constant")
        smoothed = smoothed + 0.001 * uniform_filter(smoothed, (h * 0.5, w))
        self.shape = (h, w)
        a = np.argmax(smoothed, axis=0)
        # NB: the reference omits mode here -> scipy default 'reflect'
        a = gaussian_filter(a, h * self.extra)
        self.center = np.array(a, "i")
        deltas = np.abs(np.arange(h)[:, np.newaxis] - self.center[np.newaxis, :])
        self.mad = np.mean(deltas[line != 0])
        self.r = int(1 + self.range * self.mad)

    def dewarp(self, img: np.ndarray, cval: float = 0, dtype="f") -> np.ndarray:
        if img.shape != self.shape:
            raise ValueError("Measured and dewarp image shapes different")
        h, w = img.shape
        padded = np.vstack([cval * np.ones((h, w)), img, cval * np.ones((h, w))])
        center = self.center + h
        dewarped = [padded[center[i] - self.r : center[i] + self.r, i] for i in range(w)]
        return np.array(dewarped, dtype=dtype).T

    def normalize(self, img: np.ndarray, cval: float = 0, dtype="f") -> np.ndarray:
        dewarped = self.dewarp(img, cval=cval, dtype=dtype)
        if dewarped.shape[0] == 0:
            dewarped = img
        scale = self.target_height * 1.0 / dewarped.shape[0]
        target_width = int(scale * dewarped.shape[1])
        return affine_scale(
            1.0 * dewarped, scale, (self.target_height, target_width), cval=cval
        ).astype(dtype)


def dewarp_line(line: np.ndarray, target_height: int) -> np.ndarray:
    """lib/lineest.py:68-87 ``dewarp``: measure on the inverted, normalized
    ink image; normalize the ORIGINAL with white cval. Returns float32."""
    line = np.asarray(line, dtype=np.float64)
    temp = np.amax(line) - line
    peak = np.amax(temp)
    if peak == 0:
        # constant (blank) line: the implicit 0/0 of the normalization is
        # NaN for every element — make that path explicit instead of
        # tripping the divide RuntimeWarning (identical values; the NaN
        # tensor ends as an empty record downstream, pinned in
        # tests/test_batched_rpred.py's invalid-line case)
        temp = np.full_like(temp, np.nan)
    else:
        temp = temp * 1.0 / peak
    norm = CenterNormalizer(target_height)
    norm.measure(temp)
    return norm.normalize(line, cval=np.amax(line))


# --------------------------------------------------------------- lanczos
_PRECISION_BITS = 32 - 8 - 2  # PIL Resample.c precision for 8-bit images


def _lanczos_coeff_table(in_size: int, out_size: int):
    """Cached (xmin (O,), coeffs (O, L) int64) fixed-point Lanczos table,
    PIL precompute_coeffs geometry: support 3, filterscale = max(in/out,
    1), window centered at (i+0.5)*scale, per-window normalization
    (Resample.c), vectorized over output pixels with the identical
    per-element arithmetic. Line tensors repeat (height, ratio) pairs heavily across a corpus, so
    the table is memoized per python worker."""
    key = (in_size, out_size)
    hit = _LANCZOS_CACHE.get(key)
    if hit is not None:
        return hit
    scale = in_size / out_size
    fscale = max(scale, 1.0)
    support = 3.0 * fscale
    centers = (np.arange(out_size, dtype=np.float64) + 0.5) * scale
    # int() truncates toward zero; clamped to [0, in_size] like PIL
    xmin = np.maximum(np.trunc(centers - support + 0.5).astype(np.int64), 0)
    xmax = np.minimum(np.trunc(centers + support + 0.5).astype(np.int64), in_size)
    length = max(int((xmax - xmin).max()), 1)
    xs = xmin[:, None] + np.arange(length, dtype=np.float64)[None, :]
    valid = xs < xmax[:, None]
    t = (xs - centers[:, None] + 0.5) / fscale
    k = np.sinc(t) * np.sinc(t / 3.0)
    k[(t < -3.0) | (t >= 3.0)] = 0.0
    k[~valid] = 0.0
    # per-window normalization; sequential column-order accumulation
    s = np.zeros(out_size, dtype=np.float64)
    for j in range(length):
        s += k[:, j]
    nz = s != 0
    k[nz] = k[nz] / s[nz, None]
    # normalize_coeffs_8bpc: symmetric round to 2^-PRECISION_BITS
    ki = np.where(
        k < 0,
        (k * (1 << _PRECISION_BITS) - 0.5).astype(np.int64),
        (k * (1 << _PRECISION_BITS) + 0.5).astype(np.int64),
    )
    if len(_LANCZOS_CACHE) >= 4096:
        _LANCZOS_CACHE.clear()
    _LANCZOS_CACHE[key] = (xmin, ki)
    return xmin, ki


_LANCZOS_CACHE: dict[tuple[int, int], tuple[np.ndarray, np.ndarray]] = {}


def _lanczos_pass(a: np.ndarray, out_size: int, axis: int) -> np.ndarray:
    """One fixed-point resample pass (PIL ImagingResampleHorizontal_8bpc):
    integer accumulate of uint8 taps, +2^(P-1) rounding bias, arithmetic
    shift, clip to uint8. The gather-multiply-sum runs in float64: every
    product (coeff < 2^22, pixel < 2^8) and every window sum stay below
    2^53, so the accumulation is EXACT integers regardless of association
    — bit-identical to the int64 loop it replaces, but vectorized."""
    in_size = a.shape[axis]
    x0, ki = _lanczos_coeff_table(in_size, out_size)
    idx = np.minimum(x0[:, None] + np.arange(ki.shape[1]), in_size - 1)
    kf = ki.astype(np.float64)
    af = a.astype(np.float64)
    if axis == 1:
        out = np.einsum("hol,ol->ho", af[:, idx], kf, optimize=True)
    else:
        out = np.einsum("olw,ol->ow", af[idx, :], kf, optimize=True)
    out = out.astype(np.int64)
    out = (out + (1 << (_PRECISION_BITS - 1))) >> _PRECISION_BITS
    return np.clip(out, 0, 255).astype(np.uint8)


def lanczos_resize(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """PIL Image.resize((ow, oh), LANCZOS) for L-mode arrays, bit-exact:
    horizontal pass first, intermediate quantized to uint8, then vertical
    (PIL's two-pass ImagingResample)."""
    a = np.asarray(img, dtype=np.uint8)
    h, w = a.shape
    if out_w != w:
        a = _lanczos_pass(a, out_w, axis=1)
    if out_h != h:
        a = _lanczos_pass(a, out_h, axis=0)
    return a


def fixed_resize(img: np.ndarray, size: tuple[int, int]) -> np.ndarray:
    """lib/functional_im_transforms.py:66-82 _fixed_resize (LANCZOS)."""
    h, w = img.shape
    oh, ow = size
    if oh == 0:
        oh = int(h * ow / w)
    elif ow == 0:
        ow = int(w * oh / h)
    return lanczos_resize(img, oh, ow)


# --------------------------------------------------------------- layers
def _conv2d_torch(x: np.ndarray, w: np.ndarray, b: np.ndarray, stride, padding) -> np.ndarray:
    """x: (C,H,W) -> (O,H',W'), torch Conv2d semantics with explicit
    symmetric zero padding."""
    c, h, wid = x.shape
    o, _, kh, kw = w.shape
    sh, sw = stride
    ph, pw = padding
    xp = np.pad(x, ((0, 0), (ph, ph), (pw, pw))).astype(np.float32, copy=False)
    h2, w2 = xp.shape[1], xp.shape[2]
    oh = (h2 - kh) // sh + 1
    ow = (w2 - kw) // sw + 1
    win = np.lib.stride_tricks.sliding_window_view(xp, (kh, kw), axis=(1, 2))[:, ::sh, ::sw]
    out = np.tensordot(w.astype(np.float32), win, axes=([1, 2, 3], [0, 3, 4]))
    return (out + b.astype(np.float32)[:, None, None])[:, :oh, :ow]


def _groupnorm_torch(x: np.ndarray, groups: int, gamma: np.ndarray, beta: np.ndarray, eps: float = 1e-5) -> np.ndarray:
    c = x.shape[0]
    xg = x.reshape(groups, -1).astype(np.float32)
    mu = xg.mean(axis=1, keepdims=True)
    var = xg.var(axis=1, keepdims=True)
    xn = ((xg - mu) / np.sqrt(var + eps)).reshape(c, *x.shape[1:])
    return xn * gamma[:, None, None] + beta[:, None, None]


def _reshape_torch(x: np.ndarray, src_dim: int, part_a: int, part_b: int, high: int, low: int) -> np.ndarray:
    """Exact port of layers.Reshape.forward on an NCHW array."""
    shp = x.shape
    x = x.reshape(shp[:src_dim] + (part_a, part_b) + shp[src_dim + 1 :])
    dest = low
    sd = src_dim
    if high != sd:
        dest = high
    else:
        sd += 1
    perm = list(range(x.ndim))
    step = 1 if dest > sd else -1
    for i in range(sd, dest, step):
        perm[i], perm[i + step] = perm[i + step], perm[i]
    x = np.transpose(x, perm)
    shp = x.shape
    return x.reshape(shp[:dest] + (shp[dest] * shp[dest + 1],) + shp[dest + 2 :])


# --------------------------------------------------------------- model
_DIM_MAP = {0: 0, 1: 2, 2: 3, 3: 1}  # VGSL (b,y,x,c) -> NCHW

_CONV_RE = re.compile(
    r"C(?P<trans>T)?(?P<nl>lr|[strlm])(?:\{(?P<name>\w+)\})?(?P<ky>\d+),(?P<kx>\d+),(?P<out>\d+)"
    r"(?:,(?P<sy>\d+),(?P<sx>\d+))?(?:,(?P<dy>\d+),(?P<dx>\d+))?"
)
_GN_RE = re.compile(r"Gn(?:\{(?P<name>\w+)\})?(?P<groups>\d+)")
_MP_RE = re.compile(r"Mp(?:\{(?P<name>\w+)\})?(?P<ky>\d+),(?P<kx>\d+)(?:,(?P<sy>\d+),(?P<sx>\d+))?")
_RNN_RE = re.compile(r"(?P<type>[LG])(?P<dir>[frb])(?P<dim>[xy])(?P<sum>s)?(?P<legacy>[co])?(?:\{(?P<name>\w+)\})?(?P<out>\d+)")
_RESHAPE_RE = re.compile(r"S(?:\{(?P<name>\w+)\})?(?P<dim>\d+)\((?P<a>\d+)x(?P<b>\d+)\)(?P<high>\d+),(?P<low>\d+)")
_OUT_RE = re.compile(r"O(?:\{(?P<name>\w+)\})?(?P<dim>[012])(?P<type>[lsc])(?P<aug>a)?(?P<out>\d+)")
_DO_RE = re.compile(r"Do(?:\{(?P<name>\w+)\})?[\d.,]*")


class TorchVGSL:
    """Forward-only torch-semantics VGSL net bound to loaded weights."""

    def __init__(self, vgsl: str, weights: dict[str, np.ndarray]):
        vgsl = vgsl.strip()
        if not (vgsl.startswith("[") and vgsl.endswith("]")):
            raise ValueError(f"unbracketed VGSL spec {vgsl!r}")
        blocks = vgsl[1:-1].split()
        m = re.fullmatch(r"(\d+),(\d+),(\d+),(\d+)", blocks[0])
        if not m:
            raise ValueError(f"bad input block {blocks[0]!r}")
        self.batch, self.height, self.width, self.channels = map(int, m.groups())
        self.spec = vgsl
        self.weights = weights
        self.layers: list[dict] = []
        idx = 0
        for blk in blocks[1:]:
            layer = self._parse(blk, idx)
            self.layers.append(layer)
            idx += 1

    def _parse(self, blk: str, idx: int) -> dict:
        if m := _CONV_RE.fullmatch(blk):
            if m.group("trans"):
                raise ValueError("transposed conv not supported in inference path")
            ky, kx = int(m.group("ky")), int(m.group("kx"))
            stride = (int(m.group("sy")), int(m.group("sx"))) if m.group("sx") else (1, 1)
            dil = (int(m.group("dy")), int(m.group("dx"))) if m.group("dx") else (1, 1)
            if dil != (1, 1):
                raise ValueError("dilated conv not supported in inference path")
            return {
                "kind": "conv", "name": m.group("name") or f"C_{idx}",
                "nl": m.group("nl"), "k": (ky, kx), "stride": stride,
                "pad": ((ky - 1) // 2, (kx - 1) // 2),
            }
        if m := _GN_RE.fullmatch(blk):
            return {"kind": "gn", "name": m.group("name") or f"Gn_{idx}", "groups": int(m.group("groups"))}
        if m := _MP_RE.fullmatch(blk):
            k = (int(m.group("ky")), int(m.group("kx")))
            s = (int(m.group("sy")), int(m.group("sx"))) if m.group("sx") else k
            return {"kind": "pool", "k": k, "stride": s}
        if m := _RNN_RE.fullmatch(blk):
            if m.group("legacy"):
                raise ValueError("clstm/ocropy legacy RNNs not supported")
            if m.group("type") == "G":
                raise ValueError("GRU inference for loaded models not supported")
            return {
                "kind": "lstm", "name": m.group("name") or f"L_{idx}",
                "bidi": m.group("dir") == "b",
                "transpose": m.group("dim") == "y",
                "summarize": m.group("sum") == "s",
                "hidden": int(m.group("out")),
            }
        if m := _RESHAPE_RE.fullmatch(blk):
            a, b = int(m.group("a")), int(m.group("b"))
            return {
                "kind": "reshape",
                "src_dim": _DIM_MAP[int(m.group("dim"))],
                "part_a": -1 if a == 0 else a,
                "part_b": -1 if b == 0 else b,
                "high": _DIM_MAP[int(m.group("high"))],
                "low": _DIM_MAP[int(m.group("low"))],
            }
        if m := _OUT_RE.fullmatch(blk):
            return {"kind": "out", "name": m.group("name") or f"O_{idx}", "aug": bool(m.group("aug"))}
        if _DO_RE.fullmatch(blk) or blk == "I":
            return {"kind": "identity"}
        raise ValueError(f"unparseable VGSL block {blk!r}")

    def forward(self, x: np.ndarray) -> np.ndarray:
        """x: (C,H,W) float32 network input -> (W', classes) softmax probs
        (TorchSeqRecognizer.forward applies softmax over the class dim,
        lib/models.py:112-116): ``forward_batch`` on one line."""
        return self.forward_batch([x])[0]

    def _tail_split(self) -> int | None:
        """Index of the first LSTM layer if everything from there on is
        batchable cross-line (non-transposed LSTMs, output heads,
        identities); None when the net has no batchable tail. The conv/
        pool/reshape head stays per-line (bit-exact, already one big GEMM
        per line); the recurrence is where batch=1 GEMVs dominate."""
        first = None
        for i, layer in enumerate(self.layers):
            if layer["kind"] == "lstm":
                first = i
                break
        if first is None:
            return None
        for layer in self.layers[first:]:
            if layer["kind"] == "lstm":
                if layer["transpose"]:
                    return None
            elif layer["kind"] not in ("out", "identity"):
                return None
        return first

    def forward_batch(self, tensors: list[np.ndarray]) -> list[np.ndarray]:
        """Width-bucketed batched forward over prepared line tensors (each
        (H, W) or (C, H, W) float32). Returns per-line (W', classes)
        softmax probs.

        The head (every layer before the first LSTM) runs per line; the
        LSTM stack + linear head run batched over left-aligned zero-padded
        sequences with per-sample valid lengths (rec_train's masking
        scheme). Nets without a batchable tail run every layer per line."""
        split = self._tail_split()
        if split is None:
            split = len(self.layers)
        heads = []
        for t in tensors:
            x = np.asarray(t, dtype=np.float32)
            if x.ndim == 2:
                x = x[None]
            x = x[None]
            for layer in self.layers[:split]:
                x = self._forward_layer(x, layer)
            heads.append(x[0])  # (C', H', W'_i)
        if heads and split < len(self.layers):
            heads = self._forward_tail(heads, self.layers[split:])
        out = []
        for hd in heads:
            if hd.shape[1] != 1:
                raise ValueError(f"expected height-1 output, got {hd.shape}")
            out.append(softmax(hd[:, 0, :], axis=0).T)
        return out

    def _forward_tail(self, heads: list[np.ndarray], layers: list[dict]) -> list[np.ndarray]:
        """Run the batchable tail over per-line head outputs zero-padded to
        one width; returns each line's (C, H, W_i) valid slice."""
        c, h = heads[0].shape[0], heads[0].shape[1]
        widths = np.array([hd.shape[2] for hd in heads], dtype=np.int64)
        wmax = int(max(widths.max(), 1))
        batch = np.zeros((len(heads), c, h, wmax), dtype=np.float32)
        for i, hd in enumerate(heads):
            batch[i, :, :, : hd.shape[2]] = hd
        for layer in layers:
            if layer["kind"] == "lstm":
                batch, widths = self._forward_lstm_batch(batch, widths, layer)
            elif layer["kind"] == "out":
                batch = self._forward_layer(batch, layer)
        return [batch[i, :, :, : widths[i]] for i in range(batch.shape[0])]

    def _bilstm(self, seqs: np.ndarray, lengths: np.ndarray, layer: dict) -> np.ndarray:
        """(N, T, F) -> (N, T, hidden * directions): the layer's forward
        direction, then its reverse direction for bidi layers."""
        n = layer["name"]
        outs = []
        for sfx in ("", "_reverse") if layer["bidi"] else ("",):
            outs.append(lstm(
                seqs, lengths,
                self.weights[f"{n}.layer.weight_ih_l0{sfx}"],
                self.weights[f"{n}.layer.weight_hh_l0{sfx}"],
                self.weights.get(f"{n}.layer.bias_ih_l0{sfx}"),
                self.weights.get(f"{n}.layer.bias_hh_l0{sfx}"),
                reverse=bool(sfx),
            ))
        return np.concatenate(outs, axis=2)

    def _forward_lstm_batch(self, x: np.ndarray, widths: np.ndarray,
                            layer: dict):
        """TransposedSummarizingRNN over a width-padded batch (transpose=n
        only). x: (N, C, H, W); widths: per-sample valid W."""
        nb, cc, hh, ww = x.shape
        # NCHW -> (H*N, W, C): row h*N + i carries sample i's h-th scanline
        t = np.transpose(x, (2, 0, 3, 1)).reshape(hh * nb, ww, cc)
        t = np.ascontiguousarray(t, dtype=np.float32)
        o = self._bilstm(t, np.tile(widths, hh), layer)
        o = o.reshape(hh, nb, ww, o.shape[2])
        if layer["summarize"]:
            # per-line summarize takes the LAST frame == index width-1
            idx = np.maximum(widths - 1, 0)
            o = np.transpose(o[:, np.arange(nb), idx, :], (1, 0, 2))[:, :, None, :]
            o = np.transpose(o, (1, 0, 2, 3))  # (H, N, 1, O)
            widths = np.ones_like(widths)
        return np.transpose(o, (1, 3, 0, 2)), widths

    def _forward_layer(self, x: np.ndarray, layer: dict) -> np.ndarray:
        kind = layer["kind"]
        if kind == "conv":
            n = layer["name"]
            o = _conv2d_torch(x[0], self.weights[f"{n}.co.weight"], self.weights[f"{n}.co.bias"], layer["stride"], layer["pad"])[None]
            nl = layer["nl"]
            if nl == "r":
                np.maximum(o, 0.0, out=o)
            elif nl == "t":
                np.tanh(o, out=o)
            elif nl == "m":
                o = softmax(o, axis=1)
            # 's' (sigmoid) stays logits at inference (ActConv2D.forward)
            return o.astype(np.float32, copy=False)
        if kind == "gn":
            n = layer["name"]
            return _groupnorm_torch(x[0], layer["groups"], self.weights[f"{n}.layer.weight"], self.weights[f"{n}.layer.bias"])[None]
        if kind == "pool":
            return maxpool(x, layer["k"], layer["stride"])
        if kind == "reshape":
            return _reshape_torch(x, layer["src_dim"], layer["part_a"], layer["part_b"], layer["high"], layer["low"])
        if kind == "out":
            n = layer["name"]
            w = self.weights[f"{n}.lin.weight"]
            b = self.weights[f"{n}.lin.bias"]
            # NCHW -> NWHC, linear over C, back (LinSoftmax.forward)
            t = np.transpose(x, (0, 3, 2, 1)).astype(np.float32)
            if layer["aug"]:
                t = np.concatenate([np.ones(t.shape[:3] + (1,), dtype=np.float32), t], axis=3)
            o = t @ w.T.astype(np.float32) + b.astype(np.float32)
            return np.transpose(o, (0, 3, 2, 1))
        if kind == "lstm":
            return self._forward_lstm(x, layer)
        return x  # identity / dropout

    def _forward_lstm(self, x: np.ndarray, layer: dict) -> np.ndarray:
        """TransposedSummarizingRNN.forward (layers.py:513-547), one kernel
        call per scanline."""
        # NCHW -> HNWC
        t = np.transpose(x, (2, 0, 3, 1))
        if layer["transpose"]:
            t = np.swapaxes(t, 0, 2)
        hh, nn_, ww, cc = t.shape
        seqs = t.reshape(-1, ww, cc).astype(np.float32)
        lens = np.array([ww])
        o = np.concatenate([self._bilstm(seqs[bi : bi + 1], lens, layer)
                            for bi in range(seqs.shape[0])])
        o = o.reshape(hh, nn_, ww, o.shape[2])
        if layer["summarize"]:
            o = o[:, :, -1:, :]
        if layer["transpose"]:
            o = np.swapaxes(o, 0, 2)
        # HNWO -> NOHW
        return np.transpose(o, (1, 3, 0, 2))
