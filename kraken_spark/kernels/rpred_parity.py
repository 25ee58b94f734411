"""Trained-model line recognition with reference-exact preprocessing.

Reproduces the reference's rpred pipeline (/root/reference/kraken/rpred.py)
for models loaded by kernels/modelio.py, byte-for-byte against the golden
predictions of tests/test_rpred.py:352-366:

- bbox lines (``_recognize_box_line``): crop -> ImageInputTransforms with
  valid_norm=True, which for a (1, H>1, 0, 1) input spec means
  CenterNormalizer dewarp (lib/dataset/utils.py:98-104 + lib/lineest.py)
  instead of plain resize. The dewarped image is FLOAT; PIL's F->L mode
  transform then truncates it to uint8 and ToDtype(scale=True) scales
  that to 0..1.
- baseline lines (``_recognize_baseline_line``): legacy or new polygon
  extraction chosen by the model's ``legacy_polygons`` flag
  (rpred.py:332-341; extractor lib/segmentation.py:1471-1549) ->
  Lanczos fixed-height resize (valid_norm=False) -> uint8 path, scaled
  to 0..1.
- both: pad 16 white columns, invert (max - x), forward, softmax, greedy
  CTC decode (lib/ctc_decoder.py greedy_decoder), codec decode, and BiDi
  logical reordering via get_display (containers.py:547-605).

Every caller runs the same chain of steps, each written once:

1. guard + crop (``bbox_crop`` / ``baseline_crop``, dispatched per line by
   ``LoadedRecognizer.line_crop``): the bounds check against the full page
   and the rectangular crop — the only step that needs the page image;
2. crop-local prep (``LoadedRecognizer._prep_crop``): dewarp, or polygon
   extract + trim + Lanczos resize, down to the uint8 line image;
3. ``net_input``: /255, pad, invert;
4. ``LoadedRecognizer._forward``: width-sorted chunks through
   TorchVGSL.forward_batch with one failure rule — a chunk that raises is
   retried line by line, and a line that still raises fails alone;
5. ``LoadedRecognizer._decode_probs`` (greedy CTC, ``scale_cuts``, BiDi),
   or the viterbi alignment of ``align_baseline``.

The per-line API (recognize_bbox/recognize_baseline) runs one-line chunks,
and ``forward_batch`` of one tensor IS ``forward``, so it is the batched
API's arithmetic exactly. The line-parallel plan (pipeline_lines.py) cuts
the chain after step 1: its PREPARE stage ships the crop, its RECOGNIZE
stage runs steps 2-5 through ``LoadedRecognizer.run_lines``. Cropping
first is exact: extract_polygon_legacy/new slice exactly the polygon's
bbox and every warp tap outside the patch reads cval, so the crop plus
crop-translated geometry yields the page-level patch.
"""

from __future__ import annotations

import time

import numpy as np

from .bidi import get_display
from .codec import Codec
from .ctc import greedy_decoder
from .modelio import KrakenModelBundle
from .torchvgsl import TorchVGSL, dewarp_line, fixed_resize

BBOX, BASELINE = 0, 1  # crop kinds: (kind, crop, geom) tuples


def _empty() -> dict:
    return {"prediction": "", "cuts": [], "confidences": []}


def bbox_crop(img: np.ndarray, bbox):
    """Guard + crop of a bbox line ([x0, y0, x1, y1], exclusive like PIL
    crop): (BBOX, crop, None), or None when the box leaves the page or is
    empty."""
    x0, y0, x1, y1 = bbox
    if x0 < 0 or y0 < 0 or x1 > img.shape[1] or y1 > img.shape[0] or x1 <= x0 or y1 <= y0:
        return None
    return BBOX, img[y0:y1, x0:x1], None


def baseline_crop(img: np.ndarray, baseline, boundary):
    """Guard + crop of a baseline line: the bounds check of both polygons
    against the FULL page, then the boundary polygon's bbox crop.
    Returns (BASELINE, crop, (bl_local, poly_local)) with the geometry
    translated by the crop origin, or None for out-of-bounds lines."""
    pl = np.asarray(boundary)
    bl = np.asarray(baseline, dtype=np.float64)
    h, w = img.shape
    if (pl < 0).any() or pl[:, 0].max() >= w or pl[:, 1].max() >= h:
        return None
    if (bl < 0).any() or bl[:, 0].max() >= w or bl[:, 1].max() >= h:
        return None
    c_min, r_min = int(pl[:, 0].min()), int(pl[:, 1].min())
    c_max, r_max = int(pl[:, 0].max()), int(pl[:, 1].max())
    crop = img[r_min : r_max + 1, c_min : c_max + 1]
    return BASELINE, crop, (bl - (c_min, r_min), pl - (c_min, r_min))


def prep_baseline_crop(crop: np.ndarray, bl_local, poly_local, height: int,
                       legacy: bool):
    """Crop-local prep of a baseline line: polygon extraction, the
    i.crop(i.getbbox()) zero-border trim, Lanczos fixed-height resize.
    Returns (uint8 line image, trimmed width) or None for blank lines."""
    extract = extract_polygon_legacy if legacy else extract_polygon_new
    patch = extract(crop, bl_local, poly_local)
    nzr = np.nonzero(patch.any(axis=1))[0]
    nzc = np.nonzero(patch.any(axis=0))[0]
    if len(nzr) == 0 or len(nzc) == 0:
        return None
    patch = patch[nzr[0] : nzr[-1] + 1, nzc[0] : nzc[-1] + 1]
    return fixed_resize(patch, (height, 0)), patch.shape[1]


def net_input(u8: np.ndarray, pad: int) -> np.ndarray | None:
    """uint8 line image -> network input: ToDtype(scale=True), `pad` white
    columns each side, tensor_invert. None for constant (blank) lines,
    which emit empty records; a zero-area image is a prep failure and
    raises."""
    if u8.size == 0:
        raise ValueError("zero-area line tensor")
    ts = u8.astype(np.float32) / 255.0
    if pad:
        ts = np.pad(ts, ((0, 0), (pad, pad)), constant_values=1.0)
    ts = ts.max() - ts
    if ts.max() == ts.min():
        return None
    return ts


def scale_cuts(cuts, ts_w: int, n_frames: int, pad: int, box_w: int) -> list:
    """Network-frame cuts -> crop-pixel x-spans (rpred.py:293-311
    net_scale/in_scale + _scale_val)."""
    net_scale = ts_w / n_frames
    in_scale = box_w / (ts_w - 2 * pad)

    def scale_val(v):
        return int(round(min(max((v * net_scale - pad) * in_scale, 0), box_w - 1)))

    return [(scale_val(a), scale_val(b)) for a, b in cuts]


class LoadedRecognizer:
    """TorchSeqRecognizer analog bound to a loaded KrakenModelBundle."""

    def __init__(self, bundle: KrakenModelBundle,
                 temperature: float = 1.0):
        self.bundle = bundle
        self.net = TorchVGSL(bundle.vgsl, bundle.weights)
        self.codec = Codec(bundle.codec)
        self.height = self.net.height
        # the kraken ocr -t/--temperature knob: softmax(z/T) equals
        # p^(1/T) renormalized, so probability-space scaling is EXACT
        # logit-temperature semantics; argmax (and thus the prediction)
        # is invariant — only confidences sharpen (T<1) or flatten (T>1)
        self.temperature = float(temperature)

    # -- chain steps ---------------------------------------------------------
    def line_crop(self, img: np.ndarray, ln: dict):
        """Guard + crop of one segmentation line dict: the bbox path (box
        clamped to the page) when the model's seg_type is bbox or the line
        has no baseline, like stages.extract_document; else the baseline
        path."""
        if self.bundle.seg_type == "bbox" or not ln.get("baseline"):
            x0, y0, x1, y1 = ln["bbox"]
            h, w = img.shape
            return bbox_crop(img, [max(0, x0), max(0, y0), min(w, x1), min(h, y1)])
        return baseline_crop(img, ln["baseline"], ln["boundary"])

    def _prep_crop(self, c, legacy: bool | None = None):
        """Crop-local prep of one (kind, crop, geom) crop -> (uint8 line
        image, box_w) or None for blank lines."""
        kind, crop, geom = c
        if kind == BBOX:
            return self._prep_bbox_u8_from_crop(crop)
        return self._prep_baseline_u8_from_crop(crop, *geom, legacy=legacy)

    def _prep_bbox_u8_from_crop(self, crop: np.ndarray):
        """CenterNormalizer dewarp + the PIL F->L uint8 truncation
        (utils.py:139-141)."""
        return np.clip(dewarp_line(crop, self.height), 0, 255).astype(np.uint8), crop.shape[1]

    def _prep_baseline_u8_from_crop(self, crop: np.ndarray, bl_local, poly_local,
                                    legacy: bool | None = None):
        """prep_baseline_crop at this model's height; legacy defaults to
        the model's legacy_polygons flag (rpred.py:332-341)."""
        if legacy is None:
            legacy = self.bundle.legacy_polygons
        return prep_baseline_crop(crop, bl_local, poly_local, self.height, legacy)

    def _forward(self, tensors: list[np.ndarray]) -> list:
        """forward_batch over one chunk. When it raises, each line is
        retried alone; a line that still raises comes back as its
        exception instead of its probs."""
        try:
            return self.net.forward_batch(tensors)
        except Exception as e:
            if len(tensors) == 1:
                return [e]
            return [self._forward([t])[0] for t in tensors]

    def _decode_probs(self, probs: np.ndarray, ts_w: int, pad: int,
                      bidi_reordering=True, box_w: int | None = None) -> dict:
        """softmax-probs -> record: temperature, greedy CTC, codec decode,
        cut scaling, BiDi reorder."""
        if self.temperature != 1.0:
            probs = probs ** (1.0 / self.temperature)
            probs = probs / probs.sum(axis=1, keepdims=True)
        decoded = greedy_decoder(probs)
        chars = self.codec.decode(decoded)
        pred = "".join(c[0] for c in chars)
        cuts = [(c[1], c[2]) for c in chars]
        confs = [c[3] for c in chars]
        if box_w is not None and cuts:
            cuts = scale_cuts(cuts, ts_w, probs.shape[0], pad, box_w)
        if bidi_reordering:
            base = bidi_reordering if bidi_reordering in ("L", "R") else None
            pred, order = get_display(pred, base)
            cuts = [cuts[i] for i in order]
            confs = [confs[i] for i in order]
        return {"prediction": pred, "cuts": cuts, "confidences": confs}

    # -- the chain -----------------------------------------------------------
    def run_lines(self, items: list, prep, pad: int = 16, bidi_reordering=True,
                  scale_cuts: bool = False, batch_size: int = 32):
        """prep -> net_input -> chunked forward -> decode over `items`
        (None items are invalid lines); prep maps an item to (uint8 line
        image, box_w) or None. Lines run width-sorted so each forward_batch
        chunk pads to a near-uniform length. Returns (records, rec_ms):
        records[i] is item i's record — the empty record for invalid and
        blank lines, or the exception the line raised — and rec_ms[i] its
        width-proportional share of its chunk's forward wall."""
        records: list = [_empty() for _ in items]
        rec_ms = [0.0] * len(items)
        inputs = []  # (i, net input, box_w)
        for i, item in enumerate(items):
            if item is None:
                continue
            try:
                p = prep(item)
                x = None if p is None else net_input(p[0], pad)
            except Exception as e:
                records[i] = e
                continue
            if x is not None:
                inputs.append((i, x, p[1]))
        inputs.sort(key=lambda t: t[1].shape[1])
        for s in range(0, len(inputs), batch_size):
            chunk = inputs[s : s + batch_size]
            c0 = time.perf_counter()
            probs_list = self._forward([x for _, x, _ in chunk])
            chunk_ms = (time.perf_counter() - c0) * 1000.0
            wsum = sum(x.shape[1] for _, x, _ in chunk)
            for (i, x, box_w), probs in zip(chunk, probs_list):
                rec_ms[i] = chunk_ms * x.shape[1] / wsum
                if isinstance(probs, Exception):
                    records[i] = probs
                    continue
                try:
                    records[i] = self._decode_probs(
                        probs, x.shape[1], pad, bidi_reordering,
                        box_w=box_w if scale_cuts else None)
                except Exception as e:
                    records[i] = e
        return records, rec_ms

    def _recognize_crops(self, crops: list, pad: int = 16, bidi_reordering=True,
                         scale_cuts: bool = False, legacy: bool | None = None,
                         batch_size: int = 32) -> list[dict]:
        """run_lines over guarded crops; a line that raised re-raises here
        (the fused plan trips the line's page)."""
        records, _ = self.run_lines(
            crops, lambda c: self._prep_crop(c, legacy), pad, bidi_reordering,
            scale_cuts, batch_size)
        for r in records:
            if isinstance(r, Exception):
                raise r
        return records

    # -- public API ----------------------------------------------------------
    def recognize_bbox(
        self, img: np.ndarray, bbox, pad: int = 16, bidi_reordering=True, scale_cuts: bool = False
    ) -> dict:
        """img: full-page grayscale uint8 (H, W); bbox: [x0, y0, x1, y1]
        exclusive like PIL crop. valid_norm=True path. scale_cuts maps
        character cuts from network frames to crop-pixel x-spans."""
        return self._recognize_crops([bbox_crop(img, bbox)], pad, bidi_reordering,
                                     scale_cuts)[0]

    def recognize_baseline(
        self,
        img: np.ndarray,
        baseline,
        boundary,
        pad: int = 16,
        bidi_reordering=True,
        legacy: bool | None = None,
        scale_cuts: bool = False,
    ) -> dict:
        """img: full-page grayscale uint8; baseline [[x,y],...]; boundary
        polygon [[x,y],...]. valid_norm=False path (Lanczos resize)."""
        return self._recognize_crops([baseline_crop(img, baseline, boundary)], pad,
                                     bidi_reordering, scale_cuts, legacy)[0]

    def recognize_lines(
        self,
        img: np.ndarray,
        lines: list[dict],
        pad: int = 16,
        bidi_reordering=True,
        scale_cuts: bool = False,
        legacy: bool | None = None,
        batch_size: int = 32,
    ) -> list[dict]:
        """Cross-line batched recognition over one page — the analog of the
        reference's queue batching (lib/vgsl/rpred.py:100-124). Each line
        dict carries either 'bbox' or 'baseline'+'boundary' (line_crop
        picks the path). The network forward runs width-bucketed through
        TorchVGSL.forward_batch, which turns the per-timestep batch-1 GEMVs
        of the recurrence into GEMMs. Results are returned in input order
        and match the per-line API."""
        return self._recognize_crops([self.line_crop(img, ln) for ln in lines], pad,
                                     bidi_reordering, scale_cuts, legacy, batch_size)


def _polygon_mask_pil(poly: np.ndarray, h: int, w: int) -> np.ndarray:
    """ImageDraw.polygon(outline=1, fill=1) lookalike: integer-scanline
    even-odd fill with INCLUSIVE edges plus the Bresenham outline — PIL
    includes boundary pixels, unlike the engine's pixel-center rasterizer
    (lineextract.polygon_mask), and the legacy extractor's golden parity
    depends on the full-cover mask."""
    mask = np.zeros((h, w), dtype=bool)
    pts = np.asarray(poly, dtype=np.float64)
    n = len(pts)
    # vectorized exact scanline: each non-horizontal edge crosses a given
    # row at most once; the (edges x rows) crossing matrix sorted per row
    # reproduces the per-row sorted crossing list of the scalar loop
    # (same elementwise arithmetic, same multiset -> same pairs)
    x1 = pts[:, 0]
    y1 = pts[:, 1]
    x2 = np.roll(x1, -1)
    y2 = np.roll(y1, -1)
    keep = y1 != y2
    if keep.any():
        ex1, ey1, ex2, ey2 = x1[keep], y1[keep], x2[keep], y2[keep]
        ylo = np.minimum(ey1, ey2)
        yhi = np.maximum(ey1, ey2)
        ys = np.arange(h, dtype=np.float64)
        active = (ylo[:, None] <= ys[None, :]) & (ys[None, :] < yhi[:, None])
        xc = ex1[:, None] + (ys[None, :] - ey1[:, None]) * (ex2 - ex1)[:, None] / (ey2 - ey1)[:, None]
        xc = np.where(active, xc, np.inf)  # inactive sorts last
        xs = np.sort(xc, axis=0)  # (E, h)
        cols = np.arange(w)
        for k in range(0, xs.shape[0] - 1, 2):
            hi = xs[k + 1]
            pair = np.isfinite(hi)
            if not pair.any():
                break
            a = np.maximum(0, np.where(pair, np.ceil(xs[k]), w)).astype(np.int64)
            b = np.minimum(w - 1, np.floor(np.where(pair, hi, -1.0))).astype(np.int64)
            mask |= (cols[None, :] >= a[:, None]) & (cols[None, :] <= b[:, None])
    # outline (Bresenham-ish via dense sampling of each edge)
    for i in range(n):
        x1, y1 = pts[i]
        x2, y2 = pts[(i + 1) % n]
        steps = int(max(abs(x2 - x1), abs(y2 - y1))) + 1
        xs = np.rint(np.linspace(x1, x2, steps)).astype(np.int64)
        ys = np.rint(np.linspace(y1, y2, steps)).astype(np.int64)
        ok = (xs >= 0) & (xs < w) & (ys >= 0) & (ys < h)
        mask[ys[ok], xs[ok]] = True
    return mask


def extract_polygon_legacy(img: np.ndarray, baseline: np.ndarray, poly: np.ndarray) -> np.ndarray:
    """Legacy extractor, straight-baseline fast path
    (lib/segmentation.py:1471-1492): crop the polygon's bbox, zero outside
    the polygon, rotate by the baseline angle. Curved baselines fall back
    to the piecewise dewarp analog (the reference's piecewise-affine warp,
    segmentation.py:1494-1549) shared with the engine's own curved path."""
    c_min, c_max = int(poly[:, 0].min()), int(poly[:, 0].max())
    r_min, r_max = int(poly[:, 1].min()), int(poly[:, 1].max())
    patch = img[r_min : r_max + 1, c_min : c_max + 1].astype(np.uint8).copy()
    off = poly - (c_min, r_min)
    mask = _polygon_mask_pil(off, patch.shape[0], patch.shape[1])
    patch[~mask] = 0
    if len(baseline) == 2:
        d = np.diff(baseline.T)
        lengths = np.linalg.norm(d, axis=0)
        p_dir = np.mean(d * lengths / lengths.sum(), axis=1)
        p_dir = p_dir / np.sqrt(np.sum(p_dir**2))
        angle = float(np.arctan2(p_dir[1], p_dir[0]))
        if abs(angle) < 1e-9:
            return patch
        return _rotate_nearest(patch, angle)
    # curved: bevelled-envelope quad mesh warp (the analog of the legacy
    # path's piecewise-affine Delaunay warp, segmentation.py:1494-1549)
    return curved_line_dewarp(
        patch, baseline - (c_min, r_min), poly - (c_min, r_min), order=1, cval=0.0
    )


def extract_polygon_new(img: np.ndarray, baseline: np.ndarray, poly: np.ndarray) -> np.ndarray:
    """Non-legacy extractor fast path (segmentation.py:1551-1643): same
    bbox crop + rotation but masking to the dilated polygon with WHITE
    background (the new path composites onto the line's median background;
    white for the bitonal corpus)."""
    c_min, c_max = int(poly[:, 0].min()), int(poly[:, 0].max())
    r_min, r_max = int(poly[:, 1].min()), int(poly[:, 1].max())
    patch = img[r_min : r_max + 1, c_min : c_max + 1].astype(np.uint8).copy()
    off = poly - (c_min, r_min)
    mask = _polygon_mask_pil(off, patch.shape[0], patch.shape[1])
    bg = int(np.median(patch[mask])) if mask.any() else 255
    patch[~mask] = bg
    if len(baseline) == 2:
        d = np.diff(baseline.T)
        lengths = np.linalg.norm(d, axis=0)
        p_dir = np.mean(d * lengths / lengths.sum(), axis=1)
        p_dir = p_dir / np.sqrt(np.sum(p_dir**2))
        angle = float(np.arctan2(p_dir[1], p_dir[0]))
        if abs(angle) < 1e-9:
            return patch
        return _rotate_nearest(patch, angle, cval=bg)
    # curved: the reference's non-legacy curved branch — projected
    # destination extents + bevelled envelope + quad mesh warp
    # (segmentation.py:1573-1628), background-composited
    return curved_line_dewarp(
        patch, baseline - (c_min, r_min), poly - (c_min, r_min), order=1, cval=float(bg)
    )


def _bevelled_envelope(baseline: np.ndarray, bl_start, out_shape):
    """Source/target envelope point pairs for the curved-line quad warp —
    port of the reference's _bevelled_warping_envelope
    (lib/segmentation.py:1334-1394): per-vertex bezier bevels between
    segment normals, producing (top, bottom) point columns along the line."""
    env_dy = [-bl_start[1], out_shape[0] - bl_start[1]]
    diff = np.diff(baseline, axis=0)
    norms = np.linalg.norm(diff, axis=1)
    dn = diff / norms[:, None]
    cum = np.concatenate([[0.0], np.cumsum(norms)])
    seg_normals = np.stack([-dn[:, 1], dn[:, 0]], axis=1)

    def it(p):
        return (int(p[0]), int(p[1]))

    ini = baseline[0] - dn[0] * bl_start[0]
    src = [it(ini + env_dy[0] * seg_normals[0]), it(ini + env_dy[1] * seg_normals[0])]
    tgt = [(0, 0), (0, out_shape[0])]
    max_bevel = out_shape[0] / 3
    step = max_bevel / 2
    for k in range(len(baseline) - 2):
        pt = baseline[k + 1]
        seg_prev = baseline[k] - pt
        seg_next = baseline[k + 2] - pt
        bev_prev = seg_prev / max(2.0, np.linalg.norm(seg_prev) / max_bevel)
        bev_next = seg_next / max(2.0, np.linalg.norm(seg_next) / max_bevel)
        nsteps = max(1, int(np.round((np.linalg.norm(bev_prev) + np.linalg.norm(bev_next)) / step)))
        lp, ln = np.linalg.norm(bev_prev), np.linalg.norm(bev_next)
        for i in range(nsteps + 1):
            t = i / nsteps
            tpt = pt + (1 - t) ** 2 * bev_prev + t**2 * bev_next
            tx = bl_start[0] + cum[k + 1] - (1 - t) ** 2 * lp + t**2 * ln
            tn = (1 - t) * seg_normals[k] + t * seg_normals[k + 1]
            tn = tn / np.linalg.norm(tn)
            sp = [it(tpt + env_dy[0] * tn), it(tpt + env_dy[1] * tn)]
            tp = [(int(tx), 0), (int(tx), out_shape[0])]
            if sp[0] == src[-2] or sp[1] == src[-1] or tp[0] == tgt[-2]:
                continue
            src += sp
            tgt += tp
    end = baseline[-1] + dn[-1] * (out_shape[1] - cum[-1] - bl_start[0])
    src += [it(end + env_dy[0] * seg_normals[-1]), it(end + env_dy[1] * seg_normals[-1])]
    tgt += [(out_shape[1], 0), (out_shape[1], out_shape[0])]
    return src, tgt


def _quad_mesh_warp(patch: np.ndarray, src_env, tgt_env, out_shape, order: int = 1, cval: float = 0.0) -> np.ndarray:
    """PIL Image.MESH transform analog over (target box, source quad)
    pairs (segmentation.py:1618-1628): each vertical target slab samples a
    bilinear source quad (NW, SW, SE, NE); order 0 = nearest, 1 =
    bilinear; taps outside the patch read cval."""
    h, w = patch.shape
    out = np.full(out_shape, cval, dtype=np.float64)
    pf = patch.astype(np.float64)
    ys = np.arange(out_shape[0], dtype=np.float64)
    for i in range(0, len(src_env) - 3, 2):
        x0, _ = tgt_env[i]
        x1, y1t = tgt_env[i + 3]
        if x1 <= x0:
            continue
        nw, sw, se, ne = (
            np.asarray(src_env[i], dtype=np.float64),
            np.asarray(src_env[i + 1], dtype=np.float64),
            np.asarray(src_env[i + 3], dtype=np.float64),
            np.asarray(src_env[i + 2], dtype=np.float64),
        )
        xs = np.arange(max(x0, 0), min(x1, out_shape[1]), dtype=np.float64)
        if len(xs) == 0:
            continue
        u = ((xs - x0) / (x1 - x0))[None, :]
        v = (ys / max(y1t, 1))[:, None]
        sx = (1 - u) * (1 - v) * nw[0] + u * (1 - v) * ne[0] + (1 - u) * v * sw[0] + u * v * se[0]
        sy = (1 - u) * (1 - v) * nw[1] + u * (1 - v) * ne[1] + (1 - u) * v * sw[1] + u * v * se[1]
        if order == 0:
            ix = np.rint(sx).astype(np.int64)
            iy = np.rint(sy).astype(np.int64)
            valid = (ix >= 0) & (ix < w) & (iy >= 0) & (iy < h)
            vals = np.where(valid, pf[np.clip(iy, 0, h - 1), np.clip(ix, 0, w - 1)], cval)
        else:
            fx = np.floor(sx)
            fy = np.floor(sy)
            ax = sx - fx
            ay = sy - fy
            ix = fx.astype(np.int64)
            iy = fy.astype(np.int64)

            def tap(dy, dx):
                yy = iy + dy
                xx = ix + dx
                ok = (xx >= 0) & (xx < w) & (yy >= 0) & (yy < h)
                return np.where(ok, pf[np.clip(yy, 0, h - 1), np.clip(xx, 0, w - 1)], cval)

            vals = (
                tap(0, 0) * (1 - ax) * (1 - ay)
                + tap(0, 1) * ax * (1 - ay)
                + tap(1, 0) * (1 - ax) * ay
                + tap(1, 1) * ax * ay
            )
        out[:, int(max(x0, 0)) : int(max(x0, 0)) + len(xs)] = vals
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)


def curved_line_dewarp(patch: np.ndarray, baseline: np.ndarray, poly: np.ndarray, order: int = 1, cval: float = 0.0) -> np.ndarray:
    """Curved-baseline line straightening — the reference's non-legacy
    curved branch (segmentation.py:1573-1628): polygon points projected
    onto their nearest baseline segment give the rectified destination
    extents; the bevelled envelope + quad mesh warp resamples the patch
    onto a straight-baseline strip. baseline/poly are patch-local."""
    bl = np.asarray(baseline, dtype=np.float64)
    fp = np.asarray(poly, dtype=np.float64)
    diff = np.diff(bl, axis=0)
    norms = np.linalg.norm(diff, axis=1)
    if (norms == 0).any():
        keep = np.concatenate([[True], norms > 0])
        bl = bl[keep]
        diff = np.diff(bl, axis=0)
        norms = np.linalg.norm(diff, axis=1)
    if len(bl) < 2:
        return patch
    dn = diff / norms[:, None]
    cum = np.concatenate([[0.0], np.cumsum(norms)])
    pb = fp[None, :, :] - bl[:-1, None, :]
    x = np.einsum("kpm,km->kp", pb, dn)
    segdist = np.maximum(-x, x - norms[:, None])
    closest = np.argmin(segdist, axis=0)
    idx = np.arange(len(fp))
    x_c = x[closest, idx]
    d_c = pb[closest, idx]
    y_c = np.cross(dn[closest], d_c)
    dst = np.stack([cum[closest] + x_c, y_c], axis=1) + bl[0]
    c0, c1 = int(dst[:, 0].min()), int(dst[:, 0].max())
    r0, r1 = int(dst[:, 1].min()), int(dst[:, 1].max())
    out_shape = (r1 - r0 + 1, c1 - c0 + 1)
    bl_dst0 = (bl[0][0] + 0.0 - c0, bl[0][1] + 0.0 - r0)
    src_env, tgt_env = _bevelled_envelope(bl, bl_dst0, out_shape)
    return _quad_mesh_warp(patch, src_env, tgt_env, out_shape, order=order, cval=cval)


def _rotate_nearest(patch: np.ndarray, angle: float, cval: int = 0) -> np.ndarray:
    """segmentation.py _rotate (:452-515) geometry: output canvas fits the
    rotated corners; nearest-neighbor inverse warp (order=0, the mode the
    legacy extractor uses for bitonal input)."""
    rows, cols = patch.shape
    ca, sa = np.cos(angle), np.sin(angle)
    # inverse rotation of the corners (tform.inverse in the reference)
    inv = np.array([[ca, sa], [-sa, ca]])
    corners = np.array([[0, 0], [0, rows - 1], [cols - 1, rows - 1], [cols - 1, 0]], dtype=np.float64)
    icorners = corners @ inv.T
    minc, minr = icorners[:, 0].min(), icorners[:, 1].min()
    maxc, maxr = icorners[:, 0].max(), icorners[:, 1].max()
    out_shape = (int(np.around(maxr - minr + 1)), int(np.around(maxc - minc + 1)))
    # dst -> src mapping: src = R(angle) @ dst + t, t = R(angle) @ (minc, minr)
    fwd = np.array([[ca, -sa], [sa, ca]])
    t = fwd @ np.array([minc, minr])
    ys, xs = np.mgrid[0 : out_shape[0], 0 : out_shape[1]]
    src = np.stack([xs, ys], axis=-1) @ fwd.T + t
    sx = np.rint(src[..., 0]).astype(np.int64)
    sy = np.rint(src[..., 1]).astype(np.int64)
    valid = (sx >= 0) & (sx < cols) & (sy >= 0) & (sy < rows)
    out = np.full(out_shape, cval, dtype=patch.dtype)
    out[valid] = patch[sy[valid], sx[valid]]
    return out


def resolve_tag(tags: dict | None, default: str = "default") -> str:
    """Line-type tag resolution (reference rpred.py:47-54, _get_type):
    tags carry {'type': [{'type': <tag>}, ...]}; absent/None pieces fall
    back to 'default'."""
    if tags is None:
        return default
    head = tags.get("type", [{"type": default}])[0]
    return head.get("type") or default


class MultiModelDispatcher:
    """mm_rpred parity (reference rpred.py:57-341): per-line tag-keyed
    model routing over a segmentation, with tags_ignore (matching lines
    yield empty records without touching a model), defaultdict fallback
    (unknown tags resolve to the factory model), and the reference's two
    failure modes — a plain mapping missing a model for a present tag, and
    untagged input with no default mapping — both raising ValueError.

    ``nets`` maps tag -> LoadedRecognizer; pass a collections.defaultdict
    for fallback semantics, exactly like the reference API. ``seg`` is a
    dict: {'type': 'bbox'|'baselines', 'script_detection': bool,
    'lines': [...]}, each line {'id', 'tags', and 'bbox' or
    'baseline'+'boundary'}.
    """

    def __init__(self, nets, im, seg, pad: int = 16, bidi_reordering=True,
                 tags_ignore=None, no_legacy_polygons: bool = False):
        from collections import defaultdict

        self.nets = nets
        self.im = im
        self.seg = seg
        self.pad = pad
        self.bidi_reordering = bidi_reordering
        self.no_legacy_polygons = no_legacy_polygons
        self.tags_ignore = list(tags_ignore or [])
        self.have_tags = bool(seg.get("script_detection"))
        self._is_dd = isinstance(nets, defaultdict)

        active = set()
        if self.have_tags:
            tags = {resolve_tag(ln.get("tags")) for ln in seg["lines"]}
            missing = {t for t in tags
                       if not self._is_dd and not nets.get(t)
                       and t not in self.tags_ignore}
            if missing:
                raise ValueError(f"missing models for tags {missing}")
            active = tags - set(self.tags_ignore)
        if not self._is_dd and not active:
            raise ValueError(
                "no tags in input data and no default model in mapping")

    def _model_for(self, tags):
        tag = resolve_tag(tags) if tags is not None else None
        if tag in self.nets:
            return tag, self.nets[tag]
        if self._is_dd:
            return tag or "default", self.nets.default_factory()
        raise ValueError(f"no model for type {tag}")

    def __iter__(self):
        for ln in self.seg["lines"]:
            if self.have_tags and self.tags_ignore and \
                    resolve_tag(ln.get("tags")) in self.tags_ignore:
                yield {"id": ln.get("id"), "tag": resolve_tag(ln.get("tags")),
                       "model": None, "prediction": "", "cuts": [],
                       "confidences": []}
                continue
            tag, net = self._model_for(ln.get("tags"))
            if self.seg["type"] == "bbox":
                r = net.recognize_bbox(self.im, ln["bbox"], pad=self.pad,
                                       bidi_reordering=self.bidi_reordering)
            else:
                # legacy-extractor choice per model metadata, overridable
                # by no_legacy_polygons (rpred.py:343-353)
                legacy = net.bundle.legacy_polygons and                     not self.no_legacy_polygons
                r = net.recognize_baseline(
                    self.im, ln["baseline"], ln["boundary"], pad=self.pad,
                    bidi_reordering=self.bidi_reordering, legacy=legacy)
            yield dict(r, id=ln.get("id"), tag=tag, model=net)


def align_baseline(recognizer, img, baseline, boundary, text, pad: int = 16,
                   base_dir=None, legacy: bool | None = None) -> dict:
    """Forced alignment of ground-truth text to a baseline line through a
    LOADED trained model (reference align.py forced_align, :85-130): the
    recognition chain's guard, crop, prep and forward, but the decode step
    is a CTC viterbi alignment of the encoded display-order text. Raises
    ValueError for unencodable text; emits an empty record when the
    activation sequence is too short to carry the labels."""
    from .align import ctc_viterbi_align

    empty = dict(_empty(), display_order=True)
    c = baseline_crop(img, baseline, boundary)
    p = None if c is None else recognizer._prep_crop(c, legacy)
    if p is None:
        return empty
    u8, box_w = p
    do_text, _ = get_display(text, base_dir if base_dir in ("L", "R") else None)
    labels = recognizer.codec.encode(do_text)
    if not labels:
        raise ValueError(f"text {text!r} encodes to an empty label sequence")
    x = net_input(u8, pad)
    if x is None:
        return empty
    probs = recognizer._forward([x])[0]
    if isinstance(probs, Exception):
        raise probs
    if probs.shape[0] < 2 * len(labels):
        # reference: log a warning, emit an empty record (align.py:111-115)
        return empty
    ali = ctc_viterbi_align(probs, list(labels))
    if ali is None:
        raise ValueError(f"could not align {text!r}")
    cuts = scale_cuts([(f0, f1) for _, f0, f1, _ in ali], x.shape[1],
                      probs.shape[0], pad, box_w)
    confs = [float(p) for _, _, _, p in ali]
    n = min(len(do_text), len(cuts))
    return {"prediction": do_text[:n], "cuts": cuts[:n],
            "confidences": confs[:n], "display_order": True}


def forced_align_segmentation(recognizer, img, seg: dict, pad: int = 16,
                              base_dir=None) -> list[dict]:
    """Reference forced_align over a segmentation dict: one aligned record
    per line, in order; empty input yields an empty list."""
    out = []
    for ln in seg.get("lines", []):
        rec = align_baseline(recognizer, img, ln["baseline"], ln["boundary"],
                             ln.get("text") or "", pad=pad, base_dir=base_dir)
        out.append(dict(rec, id=ln.get("id")))
    return out
