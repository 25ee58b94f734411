"""Connected-component labeling and object extraction in pure numpy.

Replaces the scipy.ndimage label/find_objects usage of the reference
(/root/reference/kraken/lib/morph.py:11-48). Run-length union-find: label
horizontal ink runs per row, union runs that touch (4-connectivity) across
adjacent rows. Python loops only over runs (sparse), numpy for the per-row
run extraction — linear in image size, fast for document pages.
"""

from __future__ import annotations

import numpy as np


def _find(parent: np.ndarray, i: int) -> int:
    root = i
    while parent[root] != root:
        root = parent[root]
    while parent[i] != root:  # path compression
        parent[i], i = root, parent[i]
    return root


def label(mask: np.ndarray, connectivity: int = 1) -> tuple[np.ndarray, int]:
    """Connected component labeling. connectivity=1 is 4-connected (the
    default, matching scipy.ndimage.label); connectivity=2 is 8-connected
    (matching skimage.measure.label's 2-D default — needed for skeleton
    components, whose paths step diagonally). Returns (labels int32, n)."""
    h, w = mask.shape
    m = mask.astype(bool)
    diag = 1 if connectivity == 2 else 0
    # per-row runs via diff on padded rows
    padded = np.zeros((h, w + 2), dtype=np.int8)
    padded[:, 1:-1] = m
    d = np.diff(padded, axis=1)
    rs, cs = np.where(d == 1)  # run starts (row, col)
    re_r, ce = np.where(d == -1)  # run ends (exclusive)
    # np.where scans row-major so starts/ends pair up per row in order
    n_runs = len(rs)
    labels = np.zeros((h, w), dtype=np.int32)
    if n_runs == 0:
        return labels, 0
    parent = np.arange(n_runs, dtype=np.int64)
    row_start_idx = np.searchsorted(rs, np.arange(h + 1))
    for r in range(1, h):
        i0, i1 = row_start_idx[r], row_start_idx[r + 1]
        j0, j1 = row_start_idx[r - 1], row_start_idx[r - 1 + 1]
        if i0 == i1 or j0 == j1:
            continue
        j = j0
        for i in range(i0, i1):
            a0, a1 = cs[i], ce[i]
            while j < j1 and ce[j] <= a0 - diag:
                j += 1
            k = j
            while k < j1 and cs[k] < a1 + diag:
                ra, rb = _find(parent, i), _find(parent, k)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
                k += 1
            if j > j0:
                j -= 1  # a run may touch the next run in this row too
    # assign final labels
    roots = np.array([_find(parent, i) for i in range(n_runs)])
    uniq, renum = np.unique(roots, return_inverse=True)
    run_labels = (renum + 1).astype(np.int32)
    for i in range(n_runs):
        labels[rs[i], cs[i] : ce[i]] = run_labels[i]
    return labels, len(uniq)


def find_objects(labels: np.ndarray, n: int) -> list[tuple[int, int, int, int]]:
    """Bounding boxes (y0, x0, y1, x1) exclusive, for labels 1..n."""
    if n == 0:
        return []
    ys, xs = np.nonzero(labels)
    ls = labels[ys, xs] - 1
    y0 = np.full(n, np.iinfo(np.int64).max)
    x0 = np.full(n, np.iinfo(np.int64).max)
    y1 = np.full(n, -1)
    x1 = np.full(n, -1)
    np.minimum.at(y0, ls, ys)
    np.minimum.at(x0, ls, xs)
    np.maximum.at(y1, ls, ys)
    np.maximum.at(x1, ls, xs)
    return [(int(y0[i]), int(x0[i]), int(y1[i] + 1), int(x1[i] + 1)) for i in range(n)]


def propagate_labels(mask: np.ndarray, seeds: np.ndarray, conflict: int = 0) -> np.ndarray:
    """Propagate seed labels through the connected components of mask;
    components containing more than one distinct seed label get `conflict`
    (the reference's propagate_labels, /root/reference/kraken/lib/
    morph.py:104-120)."""
    labels, n = label(mask)
    out = np.zeros_like(seeds)
    if n == 0:
        return out
    comp = labels.ravel()
    sd = seeds.ravel()
    hit = sd != 0
    comp_hit = comp[hit]
    seed_hit = sd[hit]
    assign = {}
    for c, s in zip(comp_hit.tolist(), seed_hit.tolist()):
        if c == 0:
            continue
        if c in assign and assign[c] != s:
            assign[c] = conflict
        else:
            assign.setdefault(c, s)
    lut = np.zeros(n + 1, dtype=seeds.dtype)
    for c, s in assign.items():
        lut[c] = s
    return lut[labels]


def spread_labels(labels: np.ndarray, maxdist: int | None = None) -> np.ndarray:
    """Assign each background pixel the label of its nearest labeled pixel
    (chamfer/BFS distance), optionally capped at maxdist — the reference's
    EDT-based spread_labels (/root/reference/kraken/lib/morph.py:83-92)."""
    from collections import deque

    h, w = labels.shape
    out = labels.copy()
    dist = np.where(labels != 0, 0, -1).astype(np.int32)
    q = deque(zip(*np.nonzero(labels)))
    while q:
        y, x = q.popleft()
        d = dist[y, x]
        if maxdist is not None and d >= maxdist:
            continue
        for dy, dx in ((1, 0), (-1, 0), (0, 1), (0, -1)):
            ny, nx = y + dy, x + dx
            if 0 <= ny < h and 0 <= nx < w and dist[ny, nx] == -1:
                dist[ny, nx] = d + 1
                out[ny, nx] = out[y, x]
                q.append((ny, nx))
    return out


def select_regions(mask: np.ndarray, score, min_score: float = 0.0, nbest: int = 100000) -> np.ndarray:
    """Keep the nbest components by score(slice_bbox) with score > min_score
    (the reference's select_regions, /root/reference/kraken/lib/
    morph.py:122-136); score takes (y0, x0, y1, x1)."""
    labels, n = label(mask)
    if n == 0:
        return np.zeros_like(mask)
    boxes = find_objects(labels, n)
    scores = [(score(b), i + 1) for i, b in enumerate(boxes)]
    keep = {i for s, i in sorted(scores, reverse=True)[:nbest] if s > min_score}
    lut = np.zeros(n + 1, dtype=np.uint8)
    for i in keep:
        lut[i] = 1
    return lut[labels]


def fast_component_count(mask: np.ndarray) -> int:
    """Exact 4-connected component count via run-based union-find.

    Rows are decomposed into horizontal runs (vectorized); runs in
    consecutive rows that overlap are unioned. Orders of magnitude faster
    than full pixel labeling for the admission-guard use
    (reference pageseg.py:381-391 counts background components against an
    area cap before segmenting).
    """
    b = np.asarray(mask, dtype=bool)  # no copy when already bool
    if not b.any():
        return 0
    h, w = b.shape
    starts = b.copy()
    starts[:, 1:] &= ~b[:, :-1]
    # run id per pixel (global, row-major): cumsum over start flags.
    # int32 halves the write traffic of the largest temporary (the page
    # admission cap bounds pixel count well under 2^31 runs).
    run_id = np.cumsum(starts.ravel(), dtype=np.int32).reshape(h, w)
    run_id -= 1
    n_runs = int(run_id[-1, -1]) + 1

    both = b[1:] & b[:-1]
    if not both.any():
        return n_runs
    ov_start = both
    ov_start[:, 1:] &= ~both[:, :-1].copy()
    ys, xs = np.nonzero(ov_start)
    pairs = np.unique(
        run_id[ys, xs].astype(np.int64) * np.int64(n_runs) + run_id[ys + 1, xs]
    )
    u = pairs // n_runs
    v = pairs % n_runs
    # Exact connected components over the run graph via fully-vectorized
    # min-label propagation + pointer jumping (O(log n) numpy passes) —
    # replaces a per-edge Python union-find loop that dominated the
    # admission guard's cost on large noise pages (390k find() calls at
    # ~0.5 s on a 7.7 MP page; this converges in a handful of
    # np.minimum.at sweeps over the edge arrays).
    lab = np.arange(n_runs, dtype=np.int64)
    while True:
        m = np.minimum(lab[u], lab[v])
        new = lab.copy()
        np.minimum.at(new, u, m)
        np.minimum.at(new, v, m)
        changed = not np.array_equal(new, lab)
        lab = new
        # pointer jumping: compress label chains until fixpoint
        while True:
            nl = lab[lab]
            if np.array_equal(nl, lab):
                break
            lab = nl
        if not changed:
            return int(np.unique(lab).size)


def despeckle(mask: np.ndarray, max_px: int = 3, connectivity: int = 2) -> np.ndarray:
    """Remove connected components of at most max_px pixels — the classic
    document-cleanup pass for salt/dust noise (the reference's lineage:
    ocropus-era binarization cleaned isolated specks the same way; glyph
    strokes on this corpus are >= 4 px so max_px=3 can never eat real ink).
    Default 8-connectivity so a diagonal 2-px speck counts as ONE
    component; a FOLLOW-UP pass at connectivity=1 (4-connected) also
    detaches specks that touch a glyph only diagonally — they join the
    glyph's 8-component (surviving the first pass) but are separate tiny
    4-components (the round-5 degraded-CER fix; clean glyphs have no
    <=3 px 4-components, so the pass is still a clean-page no-op)."""
    b = mask.astype(bool)
    labels, n = label(b, connectivity=connectivity)
    if n == 0:
        return mask
    sizes = np.bincount(labels.ravel(), minlength=n + 1)
    keep = sizes > max_px
    keep[0] = False
    return (keep[labels]).astype(mask.dtype)
