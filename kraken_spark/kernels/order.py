"""Reading-order computation (sorts) — pure Python/numpy.

Re-expresses the reference's heuristic reading order: an O(n^2) pairwise
partial order (x-overlap => vertical precedence; otherwise horizontal
precedence unless a column separator intervenes; direction flips for RTL)
followed by a deterministic topological sort
(/root/reference/kraken/lib/segmentation.py:85-174), plus the
region-grouped "polygonal" order (/root/reference/kraken/lib/
segmentation.py:845-903): order regions, order lines within regions, splice.

Downstream, the rank becomes a plain column so Spark-side ordering is just
``Window.partitionBy('url').orderBy('reading_rank')`` (SURVEY.md §2.6).
"""

from __future__ import annotations

import numpy as np

Box = tuple[int, int, int, int]  # (x0, y0, x1, y1)


def _x_overlap(u: Box, v: Box) -> bool:
    return u[0] < v[2] and u[2] > v[0]


def _above(u: Box, v: Box) -> bool:
    return u[3] <= v[1]


def _left_of(u: Box, v: Box) -> bool:
    return u[2] <= v[0]


def _separator_between(u: Box, v: Box, separators: list[Box]) -> bool:
    for s in separators:
        lo = min(u[2], v[2])
        hi = max(u[0], v[0])
        if lo <= s[0] and s[2] <= hi + (s[2] - s[0]):
            # separator strip lies horizontally between u and v; require
            # vertical span coverage of both lines
            if s[1] <= min(u[1], v[1]) and s[3] >= max(u[3], v[3]):
                return True
    return False


def partial_order(
    boxes: list[Box], separators: list[Box] | None = None, rl: bool = False
) -> np.ndarray:
    """Binary precedence matrix order[i,j]=1 iff line i must precede line j."""
    separators = separators or []
    n = len(boxes)
    order = np.zeros((n, n), dtype=np.uint8)
    for i in range(n):
        for j in range(n):
            if i == j:
                continue
            u, v = boxes[i], boxes[j]
            if _x_overlap(u, v):
                if _above(u, v):
                    order[i, j] = 1
            else:
                before = _left_of(v, u) if rl else _left_of(u, v)
                if before and not _separator_between(u, v, separators):
                    order[i, j] = 1
    return order


def topsort(order: np.ndarray) -> list[int]:
    """Deterministic Kahn topological sort (lowest index first on ties).

    Self-loops on the diagonal are ignored — the reference's DFS topsort
    (lib/segmentation.py:154-175) tolerates order[i,i]=1 matrices and some
    callers produce them."""
    order = np.asarray(order).copy()
    np.fill_diagonal(order, 0)
    n = order.shape[0]
    indeg = order.sum(axis=0).astype(np.int64)
    out: list[int] = []
    avail = sorted(i for i in range(n) if indeg[i] == 0)
    used = np.zeros(n, dtype=bool)
    while avail:
        i = avail.pop(0)
        if used[i]:
            continue
        used[i] = True
        out.append(i)
        newly = []
        for j in np.nonzero(order[i])[0]:
            indeg[j] -= 1
            if indeg[j] == 0 and not used[j]:
                newly.append(int(j))
        if newly:
            avail = sorted(set(avail) | set(newly))
    # cycles (shouldn't happen with consistent geometry): append leftovers
    for i in range(n):
        if not used[i]:
            out.append(i)
    return out


def reading_order(
    boxes: list[Box], separators: list[Box] | None = None, rl: bool = False
) -> list[int]:
    """Rank permutation: result[k] = index of the k-th line in reading order."""
    if not boxes:
        return []
    return topsort(partial_order(boxes, separators, rl))


def polygonal_reading_order(
    line_boxes: list[Box],
    line_regions: list[int],
    region_boxes: list[Box],
    rl: bool = False,
) -> list[int]:
    """Region-grouped order: order regions, then lines inside each region
    top-to-bottom, splice (cf. /root/reference/kraken/lib/
    segmentation.py:845-903). line_regions[i] = region index or -1 (free)."""
    groups: dict[int, list[int]] = {}
    for li, ri in enumerate(line_regions):
        groups.setdefault(ri, []).append(li)
    # order regions (and free lines as singleton pseudo-regions)
    units: list[tuple[Box, list[int]]] = []
    for ri, members in sorted(groups.items()):
        if ri >= 0:
            box = region_boxes[ri]
            ordered = [members[k] for k in reading_order([line_boxes[m] for m in members])]
            units.append((box, ordered))
        else:
            for m in members:
                units.append((line_boxes[m], [m]))
    unit_order = reading_order([u[0] for u in units], rl=rl)
    out: list[int] = []
    for k in unit_order:
        out.extend(units[k][1])
    return out


def order_lines(
    lines: list[dict],
    line_regions: list[int],
    regions: list[dict],
    rl: bool = False,
    fn=None,
) -> list[int]:
    """The one reading-order dispatch of every segmenter and of merge:
    the pluggable hook ``fn(line_bboxes, line_regions, region_bboxes, rl)
    -> permutation`` when given (the reference's reading_order_fn,
    /root/reference/kraken/blla.py:254), else the region-grouped
    polygonal order over more than one region, else the plain line order.
    Line boxes are each line's bbox, region boxes each region boundary's
    min/max."""
    line_boxes = [tuple(l["bbox"]) for l in lines]
    region_boxes = [
        (
            min(p[0] for p in r["boundary"]),
            min(p[1] for p in r["boundary"]),
            max(p[0] for p in r["boundary"]),
            max(p[1] for p in r["boundary"]),
        )
        for r in regions
    ]
    if fn is not None:
        return fn(line_boxes, line_regions, region_boxes, rl)
    if len(regions) > 1:
        return polygonal_reading_order(line_boxes, line_regions, region_boxes, rl=rl)
    return reading_order(line_boxes, rl=rl)


def is_in_region(point: tuple[float, float], boundary: list[list[int]]) -> bool:
    """Point-in-polygon (even-odd rule) — the midpoint test the reference
    uses to attach lines to regions (/root/reference/kraken/lib/
    segmentation.py:906-922)."""
    x, y = point
    inside = False
    n = len(boundary)
    for i in range(n):
        x1, y1 = boundary[i]
        x2, y2 = boundary[(i + 1) % n]
        if (y1 > y) != (y2 > y):
            xin = (x2 - x1) * (y - y1) / (y2 - y1) + x1
            if x < xin:
                inside = not inside
    return inside
