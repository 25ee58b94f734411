"""Page segmentation: ink mask -> columns, text lines, regions, reading order.

Model-free segmenter in the spirit of the reference's legacy morphological
path (/root/reference/kraken/pageseg.py:307-454): connected-component page
guards and scale stats, whitespace column-separator detection
(cf. compute_colseps_conv /root/reference/kraken/pageseg.py:137-166),
projection-based line finding (the gradient/seed machinery of
/root/reference/kraken/pageseg.py:209-267 collapses to row-projection runs
for horizontal text), and the pairwise partial-order + topsort reading order
(/root/reference/kraken/lib/segmentation.py:85-174).

Output mirrors the reference's Segmentation container
(/root/reference/kraken/containers.py:251-354): lines carry id, bbox,
baseline polyline, boundary polygon, region membership; regions carry id and
boundary; lines are emitted in reading order.
"""

from __future__ import annotations

import hashlib

import numpy as np

from .order import order_lines

MAX_CC_DENSITY = 1.0 / 900.0  # CC-count admission guard (pageseg.py:382-391)


def det_id(url: str, stage: str, idx: int) -> str:
    """Deterministic element id — replaces the reference's uuid4
    (/root/reference/kraken/blla.py:362; SURVEY.md §7.5)."""
    return "id_" + hashlib.sha1(f"{url}:{stage}:{idx}".encode()).hexdigest()[:12]


def _runs(profile: np.ndarray, min_gap: int = 1) -> list[tuple[int, int]]:
    """Maximal runs of positive values; gaps < min_gap are bridged."""
    on = profile > 0
    if not on.any():
        return []
    d = np.diff(np.concatenate([[0], on.astype(np.int8), [0]]))
    starts = np.nonzero(d == 1)[0]
    ends = np.nonzero(d == -1)[0]
    runs = list(zip(starts, ends))
    if min_gap > 1:
        merged = [runs[0]]
        for s, e in runs[1:]:
            if s - merged[-1][1] < min_gap:
                merged[-1] = (merged[-1][0], e)
            else:
                merged.append((s, e))
        runs = merged
    return [(int(s), int(e)) for s, e in runs]


def find_columns(ink: np.ndarray, min_gutter: int = 64) -> list[tuple[int, int]]:
    """Split the text block into column x-ranges at zero-ink vertical strips
    wider than min_gutter (single-space gaps are at most 50 px by the corpus
    geometry contract, so they can never split a column)."""
    proj = ink.sum(axis=0)
    cols = np.nonzero(proj)[0]
    if len(cols) == 0:
        return []
    x0, x1 = int(cols[0]), int(cols[-1]) + 1
    gaps = _runs((proj[x0:x1] == 0).astype(np.int8))
    cuts = [g for g in gaps if g[1] - g[0] >= min_gutter]
    bounds = [x0]
    for g in cuts:
        bounds.extend([x0 + g[0], x0 + g[1]])
    bounds.append(x1)
    return [(bounds[i], bounds[i + 1]) for i in range(0, len(bounds), 2)]


def rotate_points(pts: list[list[int]], k: int, h: int, w: int) -> list[list[int]]:
    """Map (x, y) points from a np.rot90(img, k)-rotated frame back to the
    original image frame (the reference's rotate_lines coordinate-unrotate,
    /root/reference/kraken/pageseg.py:292-304). (h, w) is the ORIGINAL
    image shape."""
    k %= 4
    out = []
    for x, y in pts:
        if k == 0:
            out.append([x, y])
        elif k == 1:  # rot90 CCW: rotated[y, x] == orig[x, w-1-y]... inverse:
            out.append([w - 1 - y, x])
        elif k == 2:
            out.append([w - 1 - x, h - 1 - y])
        else:  # k == 3 (CW)
            out.append([y, h - 1 - x])
    return out


def segment_rotated(segmenter, page: np.ndarray, text_direction: str, **kwargs) -> dict:
    """Vertical text for any segmenter: rotate the page 90° CCW so lines
    run horizontally, call ``segmenter(rotated, text_direction=
    'horizontal-lr|rl', **kwargs)`` (every keyword passed through, the
    reading-order hook included — it sees the rotated page's boxes), then
    un-rotate every coordinate — the
    reference's rotated segmentation + rotate_lines
    (/root/reference/kraken/pageseg.py:307-454, 292-304)."""
    h, w = page.shape
    seg = segmenter(
        np.ascontiguousarray(np.rot90(page, k=1)),
        text_direction="horizontal-" + ("rl" if text_direction.endswith("rl") else "lr"),
        **kwargs,
    )
    for l in seg["lines"]:
        pts = rotate_points(
            [[l["bbox"][0], l["bbox"][1]], [l["bbox"][2] - 1, l["bbox"][3] - 1]],
            1, h, w,
        )
        xs = [p[0] for p in pts]
        ys = [p[1] for p in pts]
        l["bbox"] = [min(xs), min(ys), max(xs) + 1, max(ys) + 1]
        l["baseline"] = rotate_points(l["baseline"], 1, h, w)
        l["boundary"] = rotate_points(l["boundary"], 1, h, w)
    for r in seg["regions"]:
        r["boundary"] = rotate_points(r["boundary"], 1, h, w)
    seg["text_direction"] = text_direction
    return seg


def segmentation(
    text_direction: str, lines: list[dict] | None = None,
    regions: list[dict] | None = None, guard_tripped: bool = False,
) -> dict:
    """The Segmentation-like dict every segmenter returns."""
    return {
        "type": "baselines",
        "text_direction": text_direction,
        "script_detection": False,
        "lines": lines or [],
        "regions": regions or [],
        "guard_tripped": guard_tripped,
    }


def finish_segmentation(
    lines: list[dict], line_regions: list[int], regions: list[dict],
    url: str, stage: str, text_direction: str, reading_order_fn=None,
) -> dict:
    """The shared tail of every segmenter: order the lines
    (order.order_lines), stamp each its deterministic id
    ``det_id(url, stage, rank)``, rank and region id, and build the
    Segmentation dict. ``line_regions[i]`` indexes ``regions``."""
    perm = order_lines(
        lines, line_regions, regions, text_direction.endswith("rl"), reading_order_fn
    )
    ordered = []
    for rank, li in enumerate(perm):
        l = dict(lines[li])
        l["id"] = det_id(url, stage, rank)
        l["rank"] = rank
        l["region_ids"] = [regions[line_regions[li]]["id"]] if regions else []
        ordered.append(l)
    return segmentation(text_direction, ordered, regions)


def _split_merged_runs(runs: list[tuple[int, int]],
                       yproj: np.ndarray) -> list[tuple[int, int]]:
    """Split projection runs that span multiple text lines.

    Real degraded scans (e.g. the reference's bw.png test page) often have
    no zero-projection gap between tightly-leaded lines — descenders and
    specks bridge them, so a raw run covers 2-4 lines. The reference's
    scale-adaptive smoothing handles this implicitly; here any run taller
    than 1.75x the median run height is split at its weakest interior
    projection valleys (valley < 35% of the run's mean projection,
    valleys at least 0.6 median-heights apart). Clean pages — zero-gap
    separated, near-uniform run heights — never meet the trigger, so the
    synthetic-corpus CER-0 paths are untouched."""
    if len(runs) < 2:
        return runs
    med = float(np.median([r1 - r0 for r0, r1 in runs]))
    if med <= 0:
        return runs
    out: list[tuple[int, int]] = []
    for r0, r1 in runs:
        height = r1 - r0
        if height <= 1.75 * med:
            out.append((r0, r1))
            continue
        seg_prof = yproj[r0:r1].astype(np.float64)
        # smooth with a box filter ~ a quarter line height
        k = max(3, int(med // 4) | 1)
        kernel = np.ones(k) / k
        smooth = np.convolve(seg_prof, kernel, mode="same")
        thresh = 0.35 * smooth.mean()
        min_sep = max(int(0.6 * med), 2)
        # candidate valleys: interior local minima below the threshold,
        # greedily taken weakest-first with the separation constraint
        order = np.argsort(smooth[1:-1]) + 1
        cuts: list[int] = []
        for idx in order.tolist():
            if smooth[idx] >= thresh:
                break
            if all(abs(idx - c) >= min_sep for c in cuts) and \
                    min_sep <= idx <= height - min_sep:
                cuts.append(idx)
        if not cuts:
            out.append((r0, r1))
            continue
        bounds = [0] + sorted(cuts) + [height]
        for a, b in zip(bounds, bounds[1:]):
            out.append((r0 + a, r0 + b))
    return out


def segment(
    ink: np.ndarray,
    url: str = "",
    text_direction: str = "horizontal-lr",
    min_gutter: int = 64,
    min_line_height: int = 4,
    min_line_width: int = 4,
    reading_order_fn=None,
) -> dict:
    """Segment a binarized page. Returns a Segmentation-like dict:

    {type:'baselines', text_direction, script_detection: False,
     lines: [{id, bbox, baseline, boundary, region_ids, rank}],
     regions: [{id, region_type, boundary, rank}], guard_tripped: bool}

    reading_order_fn: optional override called as
    ``fn(line_bboxes, line_region_idx, region_bboxes, rl) -> permutation``
    — the reference's pluggable reading-order hook
    (/root/reference/kraken/pageseg.py:315,339-341).
    """
    if text_direction.startswith("vertical"):
        return segment_rotated(
            segment, ink, text_direction, url=url, min_gutter=min_gutter,
            min_line_height=min_line_height, min_line_width=min_line_width,
            reading_order_fn=reading_order_fn,
        )
    h, w = ink.shape
    rl = text_direction.endswith("rl")
    if not ink.any():
        return segmentation(text_direction)

    # admission guard, cf. pageseg.py:381-391: the reference counts
    # BACKGROUND components (noise shatters the white background into
    # thousands of pockets; a real page's background is a handful of big
    # components plus glyph counters) and rejects when they exceed
    # area/900. Tiered for throughput: "isolated run starts" of the
    # background are a vectorized UPPER bound on its component count
    # (every component has a topmost run), so most pages pass in O(n)
    # without labeling; only ambiguous pages pay the exact run-union-find
    # count (morph.fast_component_count). Real degraded scans with ragged
    # backgrounds (e.g. the reference's bw.png) pass the exact tier where
    # a one-shot proxy would misfire.
    cap = h * w * MAX_CC_DENSITY
    # fast-pass band is 2x the cap: the run-start bound overcounts ragged
    # real pages ~4-17x but equals the component count only for pure speck
    # noise, so passing (cap, 2cap] without the exact count admits at most
    # 2x the reference's heuristic cap while keeping clean dense pages off
    # the exact tier (which costs ~40 ms/page).
    # Counted in row blocks (the temporaries stay cache-resident instead
    # of three full-page bool copies — the guard runs on EVERY page, and
    # the image kernels are DRAM-bound at full partition concurrency)
    # with early exit once the bound is exceeded; identical count
    # semantics: isolated[y,x] = start-of-run with no background in the
    # row above at x or x-1.
    thresh = 2 * cap
    iso_count = 0
    prev_last = None  # last bg row of the previous block
    step = 256
    for y0 in range(0, h, step):
        blk = ink[y0 : y0 + step] == 0
        iso = blk.copy()
        iso[:, 1:] &= ~blk[:, :-1]  # horizontal run starts
        above = np.empty_like(blk)
        above[0] = False if prev_last is None else prev_last
        above[1:] = blk[:-1]
        # page row 0 has above == all-False, so the masks are no-ops
        # there — exactly the full-page semantics
        iso &= ~above
        iso[:, 1:] &= ~above[:, :-1]
        iso_count += int(np.count_nonzero(iso))
        prev_last = blk[-1]
        if iso_count > thresh:
            break
    if iso_count > thresh:
        from .morph import fast_component_count

        if fast_component_count(ink == 0) > cap:
            return segmentation(text_direction, guard_tripped=True)

    col_ranges = find_columns(ink, min_gutter=min_gutter)
    # enumerate columns in reading direction so downstream topsort ties
    # resolve to the correct column order (kraken flips left_of for rl)
    enum_ranges = list(enumerate(col_ranges))
    if rl:
        enum_ranges = enum_ranges[::-1]

    lines: list[dict] = []
    regions: list[dict] = []
    line_region_idx: list[int] = []
    for out_ri, (ci, (cx0, cx1)) in enumerate(enum_ranges):
        band = ink[:, cx0:cx1]
        yproj = band.sum(axis=1)
        col_lines = []
        raw_runs = [r for r in _runs(yproj, min_gap=3)
                    if r[1] - r[0] >= min_line_height]
        for (ly0, ly1) in _split_merged_runs(raw_runs, yproj):
            if ly1 - ly0 < min_line_height:
                continue
            xs = np.nonzero(band[ly0:ly1].any(axis=0))[0]
            if len(xs) == 0:
                continue
            lx0, lx1 = cx0 + int(xs[0]), cx0 + int(xs[-1]) + 1
            if lx1 - lx0 < min_line_width:
                continue
            yb = int(ly1) - 1
            col_lines.append(
                {
                    "bbox": [lx0, int(ly0), lx1, int(ly1)],
                    "baseline": [[lx0, yb], [lx1 - 1, yb]],
                    "boundary": [
                        [lx0, int(ly0)],
                        [lx1, int(ly0)],
                        [lx1, int(ly1)],
                        [lx0, int(ly1)],
                    ],
                }
            )
        if not col_lines:
            continue
        rx0 = min(l["bbox"][0] for l in col_lines)
        ry0 = min(l["bbox"][1] for l in col_lines)
        rx1 = max(l["bbox"][2] for l in col_lines)
        ry1 = max(l["bbox"][3] for l in col_lines)
        region_idx = len(regions)
        regions.append(
            {
                "id": det_id(url, "region", region_idx),
                "region_type": "column" if len(col_ranges) > 1 else "text",
                "boundary": [[rx0, ry0], [rx1, ry0], [rx1, ry1], [rx0, ry1]],
                "rank": out_ri,
            }
        )
        for l in col_lines:
            lines.append(l)
            line_region_idx.append(region_idx)

    if not lines:
        return segmentation(text_direction)

    return finish_segmentation(
        lines, line_region_idx, regions, url, "line", text_direction, reading_order_fn
    )
