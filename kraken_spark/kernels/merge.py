"""Multi-source segmentation merge.

Reimplements the semantics of the reference's
SegmentationTaskModel._merge_segmentations
(/root/reference/kraken/tasks/segmentation.py:136-201; legacy
blla.py:330-474): union lines and regions from several segmenters over the
same page, reject mixed line types, re-attach lines to the union region
set (midpoint-in-region, segmentation.py:906-922), and recompute a single
heuristic reading order over the union.
"""

from __future__ import annotations

from .order import is_in_region, order_lines
from .pageseg import segmentation


def merge_segmentations(segs: list[dict], rl: bool = False) -> dict:
    """Merge Segmentation-like dicts (pageseg.segment output shape).

    Raises ValueError on mixed `type` (the reference rejects bbox+baseline
    mixes, tasks/segmentation.py:152-157)."""
    segs = [s for s in segs if s]
    if not segs:
        return segmentation("horizontal-lr")
    types = {s.get("type", "baselines") for s in segs}
    if len(types) > 1:
        raise ValueError(f"cannot merge mixed segmentation types: {sorted(types)}")

    regions: list[dict] = []
    seen_region_ids: set[str] = set()
    for s in segs:
        for r in s.get("regions", []):
            if r["id"] not in seen_region_ids:
                seen_region_ids.add(r["id"])
                regions.append(dict(r))
    lines: list[dict] = []
    seen_line_ids: set[str] = set()
    for s in segs:
        for l in s.get("lines", []):
            if l["id"] not in seen_line_ids:
                seen_line_ids.add(l["id"])
                lines.append(dict(l))

    # re-attach lines to the union region set by baseline-midpoint test
    for l in lines:
        bl = l.get("baseline") or []
        if bl:
            mx = sum(p[0] for p in bl) / len(bl)
            my = sum(p[1] for p in bl) / len(bl)
        else:
            x0, y0, x1, y1 = l["bbox"]
            mx, my = (x0 + x1) / 2, (y0 + y1) / 2
        l["region_ids"] = [
            r["id"] for r in regions if is_in_region((mx, my), r["boundary"])
        ]

    # recompute reading order over the union (suppressing per-source orders,
    # like the reference's multi-source neural-RO suppression); a line
    # inside no region splices with region 0
    rid_to_idx = {r["id"]: i for i, r in enumerate(regions)}
    line_region_idx = [
        rid_to_idx[l["region_ids"][0]] if l["region_ids"] else 0 for l in lines
    ]
    perm = order_lines(lines, line_region_idx, regions, rl=rl)
    ordered = []
    for rank, li in enumerate(perm):
        l = dict(lines[li])
        l["rank"] = rank
        ordered.append(l)
    first = segs[0]
    return {
        "type": first.get("type", "baselines"),
        "text_direction": first.get("text_direction", "horizontal-lr"),
        "script_detection": False,
        "lines": ordered,
        "regions": regions,
        "guard_tripped": any(s.get("guard_tripped", False) for s in segs),
    }
