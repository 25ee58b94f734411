"""BLLA-style neural segmentation: heatmap forward -> vectorize ->
polygonize -> scale back.

Reimplements the stage structure of the reference's neural baseline
segmenter (/root/reference/kraken/blla.py:59-508,
/root/reference/kraken/lib/vgsl/spred.py:161-287):

1. forward a VGSL conv net over a DOWNSCALED page, producing per-class
   heatmaps (baseline, region) — `compute_segmentation_map`
   (blla.py:59-141); the engine's net is CONSTRUCTED, not trained (the
   reference's blla.mlmodel is an LFS stub in this snapshot, SURVEY §7.5):
   a bottom-edge detector for the baseline class and a local-density box
   kernel for the region class, built as ordinary VGSL conv weights.
2. vectorize the baseline heatmap into polylines — `vectorize_lines`
   (lib/segmentation.py:316-419): threshold -> x-closing + small y-dilation
   -> connected components -> per-column BOTTOM fit -> Douglas-Peucker;
   fragments are then joined across gaps (join_baseline_fragments, the
   LineMCP analog) and mid-band phantoms suppressed (lower-wins).
3. vectorize the region heatmap into boundary polygons —
   `vectorize_regions` (lib/segmentation.py:422-449).
4. polygonize each baseline into a bounding envelope against the ink
   mask — the role of `calculate_polygonal_environment`
   (lib/segmentation.py:747-842); per-line failure yields None and the
   line is dropped, matching the reference's failure semantics.
5. scale coordinates back to page space — `scale_polygonal_lines`
   (lib/segmentation.py:1069-1084).

Output is the same Segmentation dict shape as pageseg.segment, so the
recognition stage is segmenter-agnostic.
"""

from __future__ import annotations

import numpy as np

from .filters import binary_dilation_sep, binary_erosion_sep
from .morph import find_objects, label
from .order import is_in_region
from .pageseg import det_id, finish_segmentation, segment_rotated
from .vgsl import VGSLModel

SEG_SPEC = "[1,0,0,1 Cs7,7,2]"
DOWNSCALE = 2


def build_segmenter() -> VGSLModel:
    """Constructed 2-class heatmap net over the VGSL machinery; input is
    the {0,1} ink mask.

    Class 0 (baseline): ink-band bottom detector — positive weight on the
    center row and the 3 rows above it, a 4x penalty on the 3 rows below.
    Glyph strokes are sparse (~35% coverage inside the band), so the
    detector integrates ink COUNT above vs below rather than edge polarity;
    it fires on the last band row (and the row just under it), never inside
    the band (the penalty dominates) nor between lines (no ink above).

    Class 1 (region): 7x7 ink density above ~9% of the window."""
    model = VGSLModel(SEG_SPEC)
    w = np.zeros((2, 1, 7, 7), dtype=np.float32)
    # baseline detector restricted to the 3 CENTER columns: on curved lines
    # a wide window mixes neighboring glyphs at different vertical offsets
    # (their ink lands "below" the center cell and vetoes the response);
    # within +/-1 column the local offset change is < 1 px
    w[0, 0, 0:4, 2:5] = 1.0   # center row + 3 above
    w[0, 0, 4:7, 2:5] = -4.0  # 3 rows below
    b = np.zeros(2, dtype=np.float32)
    b[0] = -2.5  # fire when >= ~3 uncontested ink px above
    w[1, 0, :, :] = 1.0
    b[1] = -4.5  # fire when >= ~5 ink px in the window
    model.weights["conv0.w"] = w
    model.weights["conv0.b"] = b
    return model


SEG_SPEC_REF = "[1,0,0,1 Cs7,7,2 Cs5,49,2]"

# conv1 (bridge layer) constants — tuned so that every text line yields
# exactly ONE ridge component across 24 corpus pages (all zero-mismatch
# configs formed a plateau k in 45..53, theta 0.02..0.025, pen 1.5; this is
# its center). See build_segmenter_ref.
_REF_BOX_W = 49
_REF_GAIN = 40.0
_REF_THETA = 0.028
_REF_PEN = 1.5


def build_segmenter_ref() -> VGSLModel:
    """Two-layer constructed heatmap net for the reference-faithful
    vectorizer (kernels/blla_vec.py, the port of lib/segmentation.py's
    vectorize_lines). A TRAINED blla model (blla.mlmodel — an LFS stub in
    this snapshot) emits smooth CONTINUOUS ridges along whole text lines;
    the single-layer bottom-edge detector of build_segmenter instead emits
    dashed per-glyph responses with ~12 px word gaps that no ridge filter
    or MCP join can bridge (MCP wavefronts cross at most one off-skeleton
    pixel). The second conv constructs the trained regime:

    baseline channel: a 49-px horizontal box over the edge response,
    positive on the center row + 2 above, 1.5x-penalized on the 2 below —
    the ridge is continuous along each line and BOTTOM-aligned, so the
    skeleton centerline lands on the baseline exactly like a trained
    model's ridge. region channel: full 5x49 box mean over the density
    response at threshold 0.1 — bridges inter-word and inter-line gaps so
    each text block is ONE solid blob (the trained-model regime the
    reference's Moore-tracing vectorize_regions expects; the raw density
    channel splinters into ~100 word blobs per page)."""
    model = VGSLModel(SEG_SPEC_REF)
    w0 = np.zeros((2, 1, 7, 7), dtype=np.float32)
    w0[0, 0, 0:4, 2:5] = 1.0
    w0[0, 0, 4:7, 2:5] = -4.0
    b0 = np.zeros(2, dtype=np.float32)
    b0[0] = -2.5
    w0[1, 0, :, :] = 1.0
    b0[1] = -4.5
    k = _REF_BOX_W
    g = _REF_GAIN
    w1 = np.zeros((2, 2, 5, k), dtype=np.float32)
    w1[0, 0, 0:3, :] = g / (3 * k)            # rows dy=-2..0: band above
    w1[0, 0, 3:5, :] = -g * _REF_PEN / (2 * k)  # rows dy=+1..+2: veto below
    # region threshold 0.05 (not 0.1): the Moore-traced boundary is
    # Douglas-Peucker(10)-simplified, which can cut up to 10 px inward at
    # block corners; the lower threshold grows the blob a few px so
    # bottom-line baseline midpoints stay inside the simplified polygon
    w1[1, 1, :, :] = g / (5 * k)              # region: solid-block bridge
    b1 = np.array([-g * _REF_THETA, -g * 0.05], dtype=np.float32)
    model.weights["conv0.w"] = w0
    model.weights["conv0.b"] = b0
    model.weights["conv1.w"] = w1
    model.weights["conv1.b"] = b1
    return model


_LEARNED_CACHE: list = [None]


def learned_weights() -> dict | None:
    """The in-repo TRAINED segmentation weights (kernels/seg_train.py,
    asset written by tools/train_segmenter.py) — the trained replacement
    for the constructed build_segmenter_ref net, standing in for the
    reference's blla.mlmodel (an LFS stub in this snapshot). Returns None
    when the asset is absent or KRAKEN_SPARK_BLLA_NET=constructed forces
    the constructed net (used by divergence tests)."""
    import os

    if os.environ.get("KRAKEN_SPARK_BLLA_NET") == "constructed":
        return None
    if _LEARNED_CACHE[0] is None:
        from .seg_train import load_weights

        _LEARNED_CACHE[0] = load_weights() or False
    return _LEARNED_CACHE[0] or None


def compute_segmentation_map_learned(mask: np.ndarray, W: dict) -> np.ndarray:
    """Forward the TRAINED net (seg_train.forward_infer — float32
    shifted-add conv, no im2col temporary): downscale -> conv0 7x7 ->
    sigmoid -> separable conv1 5x49 -> sigmoid, (2, H/2, W/2) heatmaps in
    the trained-model regime the reference vectorizer expects."""
    from .seg_train import forward_infer

    small = _pool_or(mask, DOWNSCALE)
    return forward_infer(small.astype(np.float32), W)


def _pool_or(mask: np.ndarray, d: int) -> np.ndarray:
    """d x d max-pool of a binary mask via strided OR (no reshape/reduce
    temporaries — ~10x cheaper than reshape().max(axis=(1,3)) at page size)."""
    h2, w2 = mask.shape[0] // d, mask.shape[1] // d
    m = mask[: h2 * d, : w2 * d].astype(bool, copy=False)
    out = m[0::d, 0::d].copy()
    for i in range(d):
        for j in range(d):
            if i or j:
                out |= m[i::d, j::d]
    return out


def compute_segmentation_map(mask: np.ndarray, model: VGSLModel) -> np.ndarray:
    """Downscale the ink mask (max-pool keeps thin ink), forward, return
    (2, H/2, W/2) sigmoid heatmaps (blla.py:59-141 analog)."""
    small = _pool_or(mask, DOWNSCALE)
    x = small.astype(np.float32)[None]  # {0,1} ink coding
    # forward() returns (T, C) for output-less specs via reshape; we need the
    # raw (C, H', W') map, so run the conv layer directly
    from .vgsl import _ACT, _conv2d

    act = _conv2d(x, model.weights["conv0.w"], model.weights["conv0.b"], (1, 1), "same")
    return _ACT["s"](act)


def _box_row_sum(c: np.ndarray, r0: int, r1: int, cols: int) -> np.ndarray:
    """Sum over the window rows [r+r0, r+r1] x cols centered columns for
    every pixel, from a zero-padded 2-D integral image. c is the integral
    image of the input padded by (pr, pc) on each side."""
    h = c.shape[0] - 1 - 2 * _REF_PAD_R
    w = c.shape[1] - 1 - 2 * _REF_PAD_C
    lo = cols // 2
    a0 = _REF_PAD_R + r0
    a1 = _REF_PAD_R + r1 + 1
    b0 = _REF_PAD_C - lo
    b1 = _REF_PAD_C - lo + cols
    return (
        c[a1 : a1 + h, b1 : b1 + w]
        - c[a0 : a0 + h, b1 : b1 + w]
        - c[a1 : a1 + h, b0 : b0 + w]
        + c[a0 : a0 + h, b0 : b0 + w]
    )


_REF_PAD_R = 2
_REF_PAD_C = _REF_BOX_W // 2


def compute_segmentation_map_ref(mask: np.ndarray, model: VGSLModel) -> np.ndarray:
    """Two-layer forward for the reference-vectorizer net
    (build_segmenter_ref): downscale -> conv0 -> sigmoid -> conv1 ->
    sigmoid, returning (2, H/2, W/2) heatmaps in the trained-model regime
    (continuous bottom-aligned baseline ridges).

    conv1's weights are box-uniform per row group by construction, so the
    convolution is evaluated exactly via integral-image box sums instead
    of im2col (a ~150x speedup for the 5x49 kernel; numerical equivalence
    with vgsl._conv2d is pinned in tests/test_blla_vec.py)."""
    small = _pool_or(mask, DOWNSCALE)
    x = small.astype(np.float32)[None]
    from .vgsl import _ACT, _conv2d

    a = _ACT["s"](_conv2d(x, model.weights["conv0.w"], model.weights["conv0.b"], (1, 1), "same"))
    k = _REF_BOX_W
    g = _REF_GAIN
    pads = ((_REF_PAD_R, _REF_PAD_R), (_REF_PAD_C, _REF_PAD_C))
    ints = []
    for ch in (0, 1):
        p = np.pad(a[ch].astype(np.float64), pads)
        c = np.cumsum(np.cumsum(p, axis=0), axis=1)
        ints.append(np.pad(c, ((1, 0), (1, 0))))
    up = _box_row_sum(ints[0], -2, 0, k) * (g / (3 * k))
    dn = _box_row_sum(ints[0], 1, 2, k) * (g * _REF_PEN / (2 * k))
    z0 = up - dn + float(model.weights["conv1.b"][0])
    z1 = _box_row_sum(ints[1], -2, 2, k) * (g / (5 * k)) + float(model.weights["conv1.b"][1])
    return _ACT["s"](np.stack([z0, z1]).astype(np.float32))


def approximate_polygon(points: np.ndarray, tolerance: float = 3.0) -> np.ndarray:
    """Douglas-Peucker polyline simplification (the role of scikit-image's
    approximate_polygon in vectorize_lines, lib/segmentation.py:391)."""
    pts = np.asarray(points, dtype=np.float64)
    n = len(pts)
    if n <= 2:
        return pts
    keep = np.zeros(n, dtype=bool)
    keep[0] = keep[-1] = True
    stack = [(0, n - 1)]
    while stack:
        i0, i1 = stack.pop()
        if i1 <= i0 + 1:
            continue
        a, c = pts[i0], pts[i1]
        ac = c - a
        seg_len = np.hypot(*ac)
        mid = pts[i0 + 1 : i1]
        if seg_len == 0:
            d = np.hypot(*(mid - a).T)
        else:
            d = np.abs(np.cross(ac, mid - a)) / seg_len
        j = int(np.argmax(d))
        if d[j] > tolerance:
            k = i0 + 1 + j
            keep[k] = True
            stack.extend([(i0, k), (k, i1)])
    return pts[keep]


# x-closing width: bridges intra-line gaps (inter-glyph 9 px, inter-word
# ~25 px at DOWNSCALE=2) without bridging the 2-column gutter (48 px) —
# the role of the reference's MCP endpoint joining (lib/segmentation.py:
# 353-381), realized morphologically for the thin-response regime
GAP_BRIDGE_X = 31
REGION_CLOSE_Y = 9


def vectorize_lines(
    bl_map: np.ndarray, threshold: float = 0.5, min_len: int = 20, simplify: bool = True
) -> list[list[list[int]]]:
    """Thresholded baseline heatmap -> polylines (vectorize_lines,
    lib/segmentation.py:316-419). Coordinates are in heatmap space; the
    caller scales back. With simplify=False the dense per-column bottom
    polyline is returned — the join pass needs dense ends, because
    Douglas-Peucker may displace endpoints by up to `tolerance` px and
    that error is enough to push a curved-line join past its dy budget.

    Returns (N, 2) int64 ARRAYS: dense polylines are one point per column
    and the list-of-lists round-trips through the join/suppress chain
    made `tolist` the hottest call of segmentation on many-line pages —
    callers convert to lists only after Douglas-Peucker shrinks them."""
    hot = bl_map > threshold
    # closing along x: fill gaps, preserve extents
    hot = binary_erosion_sep(binary_dilation_sep(hot, 1, GAP_BRIDGE_X), 1, GAP_BRIDGE_X)
    # small vertical dilation so gently sloped responses stay connected
    hot = binary_dilation_sep(hot, 3, 1)
    labels, n = label(hot)
    out = []
    for li, (y0, x0, y1, x1) in enumerate(find_objects(labels, n), start=1):
        if x1 - x0 < min_len:
            continue
        sub = labels[y0:y1, x0:x1] == li
        ys, xs = np.nonzero(sub)
        # per-column BOTTOM fit: the baseline is the lowest response of its
        # band, so taking the column maximum ignores mid-band phantom rows
        # that connected into the component (sparse strokes can fire the
        # detector above the true baseline)
        order = np.argsort(xs, kind="stable")
        xs, ys = xs[order], ys[order]
        ux, starts = np.unique(xs, return_index=True)
        cy = np.maximum.reduceat(ys, starts).astype(np.float64)
        pts = np.stack([ux + x0, cy + y0], axis=1)
        if simplify:
            pts = approximate_polygon(pts, tolerance=3.0)
        out.append(np.rint(pts).astype(np.int64))
    return out


def _facing_anchor(frag: list[list[int]], from_end: bool, radius: int = 8) -> float:
    """Robust y-anchor at a fragment's facing end: the MAXIMUM y (lowest
    point) among points within `radius` px of the end. Detector artifacts
    only ever deviate UPWARD from the true baseline (the baseline is the
    lowest response of its band), so max-y is outlier-immune. Meant for
    DENSE (unsimplified) polylines; the small radius keeps the anchor
    local so a sloping sinusoidal baseline is not phase-shifted between
    the two facing ends."""
    x_face = frag[-1][0] if from_end else frag[0][0]
    ys = [y for x, y in frag if abs(x - x_face) <= radius]
    return float(max(ys))


def join_baseline_fragments(
    baselines: list[list[list[int]]],
    max_gap_x: int = 30,
    max_dy: float = 7.0,
    ink_small: np.ndarray | None = None,
    max_gap_far: int = 60,
) -> list[list[list[int]]]:
    """Join polyline fragments across x-gaps when their facing-end anchors
    agree vertically — the explicit polyline-level analog of the
    reference's minimum-cost-path endpoint joining (LineMCP,
    lib/segmentation.py:293-313,353-381). Anchors are max-y over the facing
    8 px of the DENSE polyline (see _facing_anchor), so upward detector
    outliers at fragment tips cannot block a join, while mid-band phantom
    fragments (entirely 5+ px above the true baseline) still fail the dy
    test. Anchors are computed once per original fragment end and carried
    through merges (a merge's outer ends are the survivors' outer ends),
    so dense input costs nothing extra in the O(F^2) merge loop."""
    # numpy-internal fragments (dense polylines are one point per column;
    # python point lists made this pass the hottest part of segmentation):
    # stable x-sorts and max-y anchors match the scalar loop exactly
    frags = []
    for bl in baselines:
        arr = np.asarray(bl, dtype=np.int64).reshape(-1, 2)
        frags.append(arr[np.argsort(arr[:, 0], kind="stable")])
    frags.sort(key=lambda f: int(f[0, 0]))

    def _anchor(arr: np.ndarray, from_end: bool, radius: int = 8) -> float:
        x_face = arr[-1, 0] if from_end else arr[0, 0]
        return float(arr[np.abs(arr[:, 0] - x_face) <= radius, 1].max())

    # per-fragment [left_anchor, right_anchor]; invariant under merging
    anchors = [[_anchor(f, False), _anchor(f, True)] for f in frags]
    yspans = [
        [int(f[:, 1].min()), int(f[:, 1].max())] for f in frags
    ]
    merged = True
    while merged:
        merged = False
        for i in range(len(frags)):
            for j in range(len(frags)):
                if i == j:
                    continue
                a, b = frags[i], frags[j]
                # b continues a rightward; small x-overlaps (dilation tails
                # of the two components) are allowed
                if b[0, 0] >= a[-1, 0] - 10 and b[-1, 0] > a[-1, 0]:
                    gap = int(max(b[0, 0] - a[-1, 0], 0))
                    limit = max_gap_far if ink_small is not None else max_gap_x
                    if gap > limit:
                        continue
                    ya = anchors[i][1]
                    yb = anchors[j][0]
                    dy = abs(ya - yb)
                    if gap > max_gap_x:
                        # far joins (runs of glyphs that never touch the
                        # baseline leave long response gaps) need ink
                        # EVIDENCE in the gap band; a column gutter has
                        # none, so columns can never merge
                        ymid = int((ya + yb) / 2)
                        box = ink_small[
                            max(ymid - 8, 0) : ymid + 2, int(a[-1, 0]) : int(b[0, 0])
                        ]
                        if box.size == 0 or box.sum() < 0.1 * box.shape[1]:
                            continue
                    # touching fragments (a component split by labeling,
                    # one side's tip riding a mid-band shelf) join when
                    # their y-INTERVALS overlap even if the facing anchors
                    # disagree: distinct lines are band-separated (pitch >
                    # band) and column gutters are > 2 px, so this can
                    # never bridge two real lines
                    touch_join = gap <= 2 and (
                        min(yspans[i][1], yspans[j][1])
                        - max(yspans[i][0], yspans[j][0])
                        >= 3
                    )
                    if dy <= max_dy or touch_join:
                        m = np.concatenate([a, b])
                        frags[i] = m[np.argsort(m[:, 0], kind="stable")]
                        anchors[i] = [anchors[i][0], anchors[j][1]]
                        yspans[i] = [
                            min(yspans[i][0], yspans[j][0]),
                            max(yspans[i][1], yspans[j][1]),
                        ]
                        del frags[j]
                        del anchors[j]
                        del yspans[j]
                        merged = True
                        break
            if merged:
                break
    # stays (N, 2) int64 arrays — see vectorize_lines' return contract
    return frags


def _col_bottoms(frag: list[list[int]]) -> dict[int, int]:
    """Per-column max-y of a polyline (vectorized; fragments arrive
    x-sorted so insertion order matches the scalar loop)."""
    arr = np.asarray(frag, dtype=np.int64).reshape(-1, 2)
    order = np.argsort(arr[:, 0], kind="stable")
    xs, ys = arr[order, 0], arr[order, 1]
    ux, starts = np.unique(xs, return_index=True)
    maxy = np.maximum.reduceat(ys, starts)
    return dict(zip(ux.tolist(), maxy.tolist()))


def _snap_bottoms(
    cols: dict[int, int], ink_small: np.ndarray, up: int = 4
) -> dict[int, int]:
    """Snap detector bottoms to the actual lowest INK row at/above them
    (the heatmap response trails the ink by 2-3 rows — the conv fires as
    long as ink sits within its upper taps), so the ink-evidence gates
    below measure from real glyph geometry, not detector geometry.
    Columns with no ink nearby (inter-stroke gaps — the response bridges
    them) are DROPPED: they carry no geometric evidence either way."""
    h = ink_small.shape[0]
    if not cols:
        return {}
    xs = np.fromiter(cols.keys(), dtype=np.int64, count=len(cols))
    ys = np.fromiter(cols.values(), dtype=np.int64, count=len(cols))
    lo = np.maximum(ys - up, 0)
    hi = np.minimum(ys + 1, h)
    # bottom-most ink row in [lo, hi) per column: at most up+1 vectorized
    # row probes from the bottom up (same result as the per-column scan)
    res = np.full(len(xs), -1, dtype=np.int64)
    for d in range(int(max((hi - lo).max(), 0))):
        r = hi - 1 - d
        ok = (res < 0) & (r >= lo)
        rr = np.clip(r, 0, h - 1)
        hit = ok & (ink_small[rr, xs] != 0)
        res[hit] = rr[hit]
    return {int(x): int(v) for x, v in zip(xs, res) if v >= 0}


def _band_height(
    cols: dict[int, int], xs: list[int], ink_small: np.ndarray, max_h: int = 14
) -> float:
    """Contiguous ink-band height above the (ink-snapped) median bottom,
    measured on the ROW PROJECTION over the given x-range (per-column runs
    break on sparse strokes): rows with any ink in the range extend the
    band, a run of >= 2 blank rows ends it, so a neighboring line's ink
    across the inter-line gap is never counted (the glyph x-height
    estimate; analog of the reference's scale estimation,
    pageseg.py:69-81)."""
    if not xs:
        return float(max_h)
    ys = sorted(cols[x] for x in xs)
    yb = ys[len(ys) // 2]
    rows = ink_small[max(yb - max_h, 0) : yb + 1, min(xs) : max(xs) + 1].any(axis=1)
    height = 0
    blanks = 0
    for k in range(1, len(rows)):
        if rows[-1 - k]:
            height = k
            blanks = 0
        else:
            blanks += 1
            if blanks >= 2:
                break
    return float(height)


def _ink_below_frac(
    cols: dict[int, int], ink_small: np.ndarray, lo: int = 2, hi: int = 5
) -> float:
    """Fraction of (ink-snapped) columns with ink in rows (y+lo, y+hi)
    strictly below the bottom. The true baseline is the LOWEST ink of its
    band, so real baselines score ~0 (the first rows of the inter-line gap
    are blank), while a mid-band phantom has its band's remaining glyph
    strokes directly underneath."""
    if not cols:
        return 0.0
    h = ink_small.shape[0]
    hit = sum(
        1 for x, y in cols.items() if ink_small[min(y + lo, h - 1) : min(y + hi, h), x].any()
    )
    return hit / len(cols)


def suppress_phantom_baselines(
    baselines: list[list[list[int]]],
    y_radius: int = 7,
    y_radius_short: int = 10,
    ink_small: np.ndarray | None = None,
    y_radius_ink: int = 16,
) -> list[list[list[int]]]:
    """Drop a baseline when ANOTHER baseline covers >=80% of its x-range
    no more than y_radius rows BELOW it: sparse stroke patterns fire the
    band-bottom detector mid-band, and the true baseline is by definition
    the lowest response of its band, so the upper of two stacked
    overlapping baselines is the phantom (the analog of the reference's
    suppression of duplicate sub-threshold responses in vectorize_lines).
    y_radius (heatmap px) stays below the inter-line pitch (12 heatmap px
    on the tightest straight corpus) so a real line can never suppress its
    neighbor. Phantoms up to y_radius_short above the band get a second
    chance ONLY when they are much shorter than the covering line: a real
    short line (e.g. a paragraph's last line) spans well over 60% of its
    full-width neighbor below never — post-join real baselines are
    full-span — while mid-band phantom fragments are by nature short.
    A third, ink-evidence tier (needs ink_small) reaches the rest of the
    band (up to y_radius_ink — large-amplitude curved bands put phantoms
    further above the dipping baseline than any fixed window below the
    inter-line pitch can cover). The ink tier works LOCALLY: the covering
    baseline's per-column bottoms at the candidate's own columns must sit
    within one glyph-band height (ink-derived, _band_height) below it —
    i.e. the candidate lies inside the covering line's glyph band — and
    glyph ink must continue directly BELOW the candidate's bottom, which
    no true baseline allows (the baseline is the lowest ink of its band).
    A real short line right above a full line sits a full line-pitch
    above it, beyond the band gate."""
    spans = []
    for bl in baselines:
        arr = np.asarray(bl, dtype=np.int64).reshape(-1, 2)
        # int sum / len == the scalar loop's exact mean (int64 is exact)
        spans.append((int(arr[:, 0].min()), int(arr[:, 0].max()),
                      int(arr[:, 1].sum()) / len(arr)))
    keep = []
    for i, (x0, x1, y) in enumerate(spans):
        li = x1 - x0
        phantom = False
        for j, (u0, u1, v) in enumerate(spans):
            if j == i:
                continue
            if 0.0 < v - y <= y_radius_ink:  # j sits BELOW i within the band
                overlap = min(x1, u1) - max(x0, u0)
                if overlap < 0.8 * max(li, 1):
                    continue
                short = li <= 0.6 * (u1 - u0)
                if v - y <= y_radius or (short and v - y <= y_radius_short):
                    phantom = True
                    break
                if short and ink_small is not None:
                    ci_raw = _col_bottoms(baselines[i])
                    ci = _snap_bottoms(ci_raw, ink_small)
                    cj = _snap_bottoms(_col_bottoms(baselines[j]), ink_small)
                    shared = [x for x in ci if x in cj]
                    # a handful of ink-backed shared columns suffices: the
                    # band/ink gates below carry the discrimination, and
                    # sparse strokes legitimately thin out the snapped set
                    if len(shared) < max(6, 0.25 * len(ci_raw)):
                        continue
                    local_gap = sum(cj[x] - ci[x] for x in shared) / len(shared)
                    band_h = _band_height(cj, shared, ink_small)
                    if (
                        0.0 < local_gap <= band_h + 2
                        and _ink_below_frac(ci, ink_small) >= 0.15
                    ):
                        phantom = True
                        break
        if not phantom:
            keep.append(baselines[i])
    return keep


def vectorize_regions(rg_map: np.ndarray, threshold: float = 0.5) -> list[list[list[int]]]:
    """Thresholded region heatmap -> boundary polygons (rectangular hulls
    per connected component — vectorize_regions, lib/segmentation.py:422-449;
    the reference Moore-traces + simplifies, which for the box-kernel
    response converges to the same hull)."""
    hot = rg_map > threshold
    hot = binary_erosion_sep(
        binary_dilation_sep(hot, REGION_CLOSE_Y, GAP_BRIDGE_X),
        REGION_CLOSE_Y,
        GAP_BRIDGE_X,
    )
    labels, n = label(hot)
    out = []
    for (y0, x0, y1, x1) in find_objects(labels, n):
        out.append([[x0, y0], [x1, y0], [x1, y1], [x0, y1]])
    return out


def polygonize_line(
    baseline: list[list[int]], mask: np.ndarray, max_height: int = 18, x_pad: int = 6
) -> list[list[int]] | None:
    """Ink-exact bounding envelope for a baseline — the role of
    calculate_polygonal_environment (lib/segmentation.py:747-842). The
    heatmap baseline is only DOWNSCALE-accurate; the envelope re-snaps to
    the true ink extents inside the baseline's band so downstream line
    strips are pixel-exact (the recognizer's frames are cell-aligned).
    Returns None on failure (line dropped, reference failure semantics)."""
    if len(baseline) < 2:
        return None
    xs = [p[0] for p in baseline]
    ys = [p[1] for p in baseline]
    h, w = mask.shape
    yb = max(ys)
    # curved baselines: the band spans the glyph height PLUS the baseline's
    # own vertical excursion — widen the search window accordingly
    max_height = max_height + (max(ys) - min(ys))
    gx0 = max(min(xs) - x_pad, 0)
    gx1 = min(max(xs) + 1 + x_pad, w)
    gy0 = max(yb - max_height, 0)
    gy1 = min(yb + 3, h)
    band = mask[gy0:gy1, gx0:gx1]
    rows = np.nonzero(band.any(axis=1))[0]
    cols = np.nonzero(band.any(axis=0))[0]
    if len(rows) == 0 or len(cols) == 0:
        return None
    top, bot = gy0 + int(rows[0]), gy0 + int(rows[-1]) + 1
    x0, x1 = gx0 + int(cols[0]), gx0 + int(cols[-1]) + 1
    return [[x0, top], [x1, top], [x1, bot], [x0, bot]]


def scale_polygonal_lines(lines: list[list[list[int]]], scale: float) -> list[list[list[int]]]:
    """Coordinate scale-back (scale_polygonal_lines,
    lib/segmentation.py:1069-1084)."""
    return [[[int(round(x * scale)), int(round(y * scale))] for x, y in pl] for pl in lines]


def segment_blla(
    mask: np.ndarray,
    url: str = "",
    text_direction: str = "horizontal-lr",
    model: VGSLModel | None = None,
    reading_order_fn=None,
    boundary_mode: str = "rect",
    vectorizer: str = "analog",
) -> dict:
    """Full neural path: heatmaps -> vectorize -> scale back -> polygonize
    -> region assignment -> reading order. Same output contract as
    pageseg.segment. reading_order_fn: optional override,
    ``fn(line_bboxes, line_region_idx, region_bboxes, rl) -> permutation``
    (the reference's pluggable hook, /root/reference/kraken/blla.py:254).

    boundary_mode: 'rect' keeps ink-exact rectangular envelopes;
    'seam' replaces each boundary with a seam-carved polygonal environment
    (kernels/seamcarve.py — the reference's calculate_polygonal_environment,
    lib/segmentation.py:747-842) while the bbox stays ink-exact, so
    polygon-masked extraction remains byte-identical.

    vectorizer: 'analog' is the engine's own chain (threshold -> x-closing
    -> CC bottom-fit -> fragment join); 'reference' is the faithful port
    of the reference's vectorize_lines (Sato ridge -> threshold 0.17 ->
    skeletonize -> endpoint-budgeted MCP joins -> Douglas-Peucker ->
    boundary extension -> separator orientation, kernels/blla_vec.py),
    fed by the in-repo TRAINED net (learned_weights/seg_train.py) when the
    committed asset is present, else the constructed two-layer
    trained-regime net (build_segmenter_ref)."""
    learned = (
        learned_weights() if vectorizer == "reference" and model is None else None
    )
    if model is None and learned is None:
        model = build_segmenter_ref() if vectorizer == "reference" else build_segmenter()
    if text_direction.startswith("vertical"):
        return segment_rotated(
            segment_blla, mask, text_direction, url=url, model=model,
            reading_order_fn=reading_order_fn, boundary_mode=boundary_mode,
            vectorizer=vectorizer,
        )
    rl = text_direction.endswith("rl")
    if vectorizer == "reference":
        from . import blla_vec

        heat = (
            compute_segmentation_map_learned(mask, learned)
            if learned is not None
            else compute_segmentation_map_ref(mask, model)
        )
        zeros = np.zeros_like(heat[0])
        # the constructed net has no start/end separator heads, so the
        # orientation stage sees empty marker maps and takes the
        # reference's low-confidence default branch (left-to-right)
        joined = blla_vec.vectorize_lines_ref(np.stack([zeros, zeros, heat[0]]))
        baselines = scale_polygonal_lines(joined, DOWNSCALE)
        region_polys = scale_polygonal_lines(
            blla_vec.vectorize_regions_ref(heat[1]), DOWNSCALE
        )
    else:
        heat = compute_segmentation_map(mask, model)
        # vectorize with a tiny length floor so curved-line fragments survive
        # until the join pass; the real minimum applies post-join
        ink_small = _pool_or(mask, DOWNSCALE)
        # dense polylines through the join (endpoint anchors must not carry
        # Douglas-Peucker displacement); simplified only after joining
        raw = vectorize_lines(heat[0], min_len=8, simplify=False)
        joined = join_baseline_fragments(raw, ink_small=ink_small)
        joined = [bl for bl in joined if bl[-1][0] - bl[0][0] >= 20]
        joined = [
            np.rint(approximate_polygon(np.asarray(bl, dtype=np.float64), tolerance=3.0))
            .astype(np.int64)
            .tolist()
            for bl in suppress_phantom_baselines(joined, ink_small=ink_small)
        ]
        baselines = scale_polygonal_lines(joined, DOWNSCALE)
        region_polys = scale_polygonal_lines(vectorize_regions(heat[1]), DOWNSCALE)

    lines = []
    for bl in baselines:
        boundary = polygonize_line(bl, mask)
        if boundary is None:
            continue
        xs = [p[0] for p in boundary]
        ys = [p[1] for p in boundary]
        lines.append(
            {
                "bbox": [min(xs), min(ys), max(xs), max(ys)],
                "baseline": [bl[0], bl[-1]] if len(bl) == 2 else bl,
                "boundary": boundary,
            }
        )
    regions = [
        {
            "id": det_id(url, "blla_region", i),
            "region_type": "text",
            "boundary": poly,
            "rank": i,
        }
        for i, poly in enumerate(region_polys)
    ]
    # region order in reading direction (left->right, rl flips)
    regions.sort(key=lambda r: r["boundary"][0][0] * (-1 if rl else 1))
    for i, r in enumerate(regions):
        r["rank"] = i

    def _bbox_dist(px: float, py: float, r: dict) -> float:
        xs = [p[0] for p in r["boundary"]]
        ys = [p[1] for p in r["boundary"]]
        dx = max(min(xs) - px, 0.0, px - max(xs))
        dy = max(min(ys) - py, 0.0, py - max(ys))
        return dx * dx + dy * dy

    line_region_idx = []
    for l in lines:
        bl = l["baseline"]
        mx = sum(p[0] for p in bl) / len(bl)
        my = sum(p[1] for p in bl) / len(bl)
        # midpoint-in-region, reference semantics (lib/segmentation.py:
        # 906-922); a miss falls back to the NEAREST region rather than
        # region 0 — Douglas-Peucker(10) region simplification can cut a
        # block corner by a few px and strand its bottom line's midpoint
        # just outside the polygon
        idx = next(
            (i for i, r in enumerate(regions) if is_in_region((mx, my), r["boundary"])),
            None,
        )
        if idx is None:
            idx = (
                min(range(len(regions)), key=lambda i: _bbox_dist(mx, my, regions[i]))
                if regions
                else 0
            )
        line_region_idx.append(idx)

    seg = finish_segmentation(
        lines, line_region_idx, regions, url, "blla_line", text_direction, reading_order_fn
    )
    if boundary_mode == "seam":
        from .seamcarve import polygonal_environment

        for l, poly in zip(seg["lines"], polygonal_environment(mask, seg["lines"])):
            l["boundary"] = poly
    return seg
