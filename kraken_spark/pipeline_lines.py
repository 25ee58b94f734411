"""Line-parallel extraction plan for the LOADED-kraken-model path —
page-skew bounded at LINE granularity.

The fused plan (pipeline.plan_extraction) is one map-only pass: a page is
one unit of work, so a 121-line page is a single task no page Exchange can
split — at local[32] on a 24-doc slice that one page IS the job tail
(BENCH trained_rec_docs_per_sec, BASELINE.md round-5 notes). The expensive
numpy BiLSTM forward of a loaded reference model makes this the one place
where page-level skew survives spreading pages across tasks.

This plan runs the fused plan's recognition chain (rpred_parity's module
docstring: guard + crop -> crop-local prep -> pad/invert -> chunked
forward -> decode) and only chooses where to cut it — after the crop,
the reference's own line boundary (rpred's per-line records,
kraken/lib/vgsl/rpred.py:100-124 in the reference):

  scan -> repartition(n, url)
       -> PREPARE  (mapInArrow: stages._page_front, i.e. decode -> nlbin
                    -> segment, then LoadedRecognizer.line_crop per line;
                    one row per valid line crop + one page row)
       -> repartition(m, url, line_idx)
       -> RECOGNIZE (mapInArrow: LoadedRecognizer.run_lines over the
                     batch's crops — every step after the crop)
       -> groupBy(url).applyInArrow ASSEMBLE (stages._assemble_extraction)

PREPARE runs the fused chain's own front half (stages._page_front: page
header, payload route, pre-segmented finish or decode -> nlbin ->
segment, and its guard path) and adds only the line crops and the page-meta
row, so the two plans cannot route, head or fail a page differently. The
prepare task does only the genuinely page-indivisible work (decode, nlbin,
the segmentation heatmap+vectorization); everything per-line runs in the
line-partitioned stage, so a 121-line page's prep tail parallelizes too.

Parity: predictions/cuts are EXACT vs the fused plan and confidences agree
to float tolerance (chunk composition differs across plans, which only
moves GEMM rounding at the ulp level). Pinned in tests/test_line_parallel.py.
Failure rule (the same in both plans, in run_lines): a chunk whose
forward_batch raises is retried line by line; a line that raises in prep,
forward or decode fails alone, and its page — only its page — becomes the
guard-tripped empty row.

Cost model (when to use which): the fused plan touches each page once and
shuffles only the documents — the right default. This plan pays two extra
shuffles (uint8 line crops, then tiny prediction rows) to make the largest
indivisible work unit a LINE instead of a page. Use it when page skew
dominates: corpora with many-line outliers under an expensive loaded
model, or docs >> cores no longer holding (small batches, huge pages). At
100 TB both plans keep every stage partition-parallel; this one's
straggler bound is max-line-cost, not max-page-cost.
"""

from __future__ import annotations

import json
import time
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import from_arrow_schema

from . import stages
from .pipeline import page_exchange
from .schema import EXTRACTION_ARROW, EXTRACTION_DDL

# Per-line transport: a (kind, crop, geom) line crop of
# rpred_parity.LoadedRecognizer.line_crop — the raw uint8 crop plus the
# crop-local baseline geometry (JSON; NULL on the bbox path). Page rows
# (line_idx -1) carry page_meta instead; complete=true marks a page row
# that is already the final extraction row.
_PREP_ARROW = pa.schema([
    pa.field("url", pa.string()),
    pa.field("line_idx", pa.int32()),
    pa.field("complete", pa.bool_()),
    pa.field("page_meta", pa.string()),
    pa.field("kind", pa.int32()),
    pa.field("crop", pa.binary()),
    pa.field("crop_h", pa.int32()),
    pa.field("crop_w", pa.int32()),
    pa.field("geom", pa.string()),
])
_PREP_DDL = from_arrow_schema(_PREP_ARROW)

# `failed` marks a line that RAISED (not a merely blank line): assembly
# turns its page into the guard-tripped empty row.
_REC_ARROW = pa.schema([
    pa.field("url", pa.string()),
    pa.field("line_idx", pa.int32()),
    pa.field("complete", pa.bool_()),
    pa.field("page_meta", pa.string()),
    pa.field("prediction", pa.string()),
    pa.field("cuts", pa.string()),
    pa.field("confidences", pa.list_(pa.float32())),
    pa.field("rec_ms", pa.float64()),
    pa.field("failed", pa.bool_()),
])
_REC_DDL = from_arrow_schema(_REC_ARROW)

PAD = 16  # stages' recognize_lines call uses the rpred default padding


def _json_default(o):
    if isinstance(o, (np.integer,)):
        return int(o)
    if isinstance(o, (np.floating,)):
        return float(o)
    if isinstance(o, np.ndarray):
        return o.tolist()
    raise TypeError(f"not JSON-serializable: {type(o)}")


def _page_row(url, complete, meta) -> dict:
    return {"url": url, "line_idx": -1, "complete": complete,
            "page_meta": json.dumps(meta, default=_json_default)}


def _prepare_one(html, url, lang, gt_text, segmenter, text_direction,
                 kraken_model_path, no_segmentation, temperature,
                 nlbin_params) -> list[dict]:
    """One document -> prep rows. A page the front half finishes (a
    pre-segmented payload or a failed page) is ONE complete row, the
    fused plan's row; an image page is a page-meta row plus one row per
    valid line crop."""
    out, t0, page = stages._page_front(html, url, lang, gt_text, segmenter,
                                       text_direction, no_segmentation,
                                       nlbin_params)
    if page is None:
        return [_page_row(url, True, out)]
    img, _mask, seg, vertical = page
    try:
        rec = stages._get_kraken_recognizer(kraken_model_path,
                                            temperature=temperature)
        crops = [rec.line_crop(img, ln) for ln in seg["lines"]]
    except Exception:
        # the fused plan crops inside recognize_lines, where a raising
        # crop trips the page too
        stages._guard_trip(out, gt_text)
        out["wall_ms"] = (time.perf_counter() - t0) * 1000.0
        return [_page_row(url, True, out)]
    rows = []
    for i, c in enumerate(crops):
        if c is None:
            continue  # invalid line: assembly emits its empty record
        kind, crop, geom = c
        rows.append({
            "url": url, "line_idx": i, "complete": False,
            "kind": kind, "crop": np.ascontiguousarray(crop).tobytes(),
            "crop_h": int(crop.shape[0]), "crop_w": int(crop.shape[1]),
            "geom": None if geom is None else json.dumps(
                {"bl": geom[0].tolist(), "poly": geom[1].tolist()}),
        })
    rows.append(_page_row(url, False, {
        "out": out,
        "seg_lines": seg["lines"],
        "seg_regions": seg["regions"],
        "vertical": vertical,
        "gt_text": gt_text,
        "prep_ms": (time.perf_counter() - t0) * 1000.0,
    }))
    return rows


def make_prepare_map(segmenter, text_direction, kraken_model_path,
                     no_segmentation, temperature, nlbin_params):
    def prepare(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows: list[dict] = []
            for _, url, html, lang, gt in stages._documents(batch):
                rows.extend(_prepare_one(
                    html, url, lang, gt, segmenter, text_direction,
                    kraken_model_path, no_segmentation, temperature,
                    nlbin_params))
            yield pa.RecordBatch.from_pylist(rows, schema=_PREP_ARROW)

    return prepare


def _line_crop(r: dict):
    """A transported prep row back to its (kind, crop, geom) line crop."""
    crop = np.frombuffer(r["crop"], dtype=np.uint8).reshape(r["crop_h"], r["crop_w"])
    if r["geom"] is None:
        return r["kind"], crop, None
    g = json.loads(r["geom"])
    return r["kind"], crop, (np.asarray(g["bl"], dtype=np.float64),
                             np.asarray(g["poly"]))


def make_recognize_map(kraken_model_path, temperature, batch_size: int = 32):
    def recognize(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        rec = stages._get_kraken_recognizer(kraken_model_path,
                                            temperature=temperature)
        for batch in batches:
            rows = batch.to_pylist()
            lines = [r for r in rows if r["line_idx"] >= 0]
            records, rec_ms = rec.run_lines(
                [_line_crop(r) for r in lines], rec._prep_crop, PAD,
                scale_cuts=True, batch_size=batch_size)
            out_rows = [{"url": r["url"], "line_idx": -1,
                         "complete": r["complete"], "page_meta": r["page_meta"],
                         "failed": False}
                        for r in rows if r["line_idx"] < 0]
            for r, d, ms in zip(lines, records, rec_ms):
                failed = isinstance(d, Exception)
                out_rows.append({
                    "url": r["url"], "line_idx": r["line_idx"],
                    "complete": False, "page_meta": None,
                    "prediction": "" if failed else d["prediction"],
                    "cuts": "[]" if failed else json.dumps(
                        [[int(a), int(b)] for a, b in d["cuts"]]),
                    "confidences": [] if failed else [
                        float(c) for c in d["confidences"]],
                    "rec_ms": ms, "failed": failed,
                })
            yield pa.RecordBatch.from_pylist(out_rows, schema=_REC_ARROW)

    return recognize


def make_assemble():
    def assemble(table: pa.Table) -> pa.Table:
        pid = stages._partition_id()
        rows = table.to_pylist()
        out = []
        # a group can only ever hold one page (url is the key), but the
        # loop form keeps this safe if Spark ever feeds multiple
        pages = [r for r in rows if r["line_idx"] < 0]
        lines = {r["line_idx"]: r for r in rows if r["line_idx"] >= 0}
        for page in pages:
            meta = json.loads(page["page_meta"])
            if page["complete"]:
                row = meta
            else:
                o = meta["out"]
                if any(r["failed"] for r in lines.values()):
                    row = stages._guard_trip(o, meta["gt_text"])
                else:
                    records = []
                    for i in range(len(meta["seg_lines"])):
                        lr = lines.get(i)
                        records.append({
                            "prediction": lr["prediction"] if lr else "",
                            "cuts": json.loads(lr["cuts"]) if lr else [],
                            "confidences": list(lr["confidences"] or []) if lr else [],
                            "display_order": False,
                        })
                    row = stages._assemble_extraction(
                        o, meta["seg_lines"], records, meta["seg_regions"],
                        meta["vertical"], o["lang"], o["base_dir"],
                        meta["gt_text"])
                # per-doc wall = prepare wall + this page's share of the
                # batched recognition wall (width-proportional chunk
                # attribution in run_lines) — so metrics rollups see the
                # real cost, not just the prepare half
                row["wall_ms"] = meta["prep_ms"] + sum(
                    r["rec_ms"] for r in lines.values())
            row["partition_id"] = pid
            out.append(row)
        return pa.Table.from_pylist(out, schema=EXTRACTION_ARROW)

    return assemble


def plan_extraction_line_parallel(
    documents: DataFrame,
    num_partitions: int | None = None,
    segmenter: str = "pageseg",
    text_direction: str | None = None,
    kraken_model_path: str | None = None,
    no_segmentation: bool = False,
    temperature: float = 1.0,
    nlbin_params: dict | None = None,
    line_partitions: int | None = None,
) -> DataFrame:
    """The line-parallel extraction DataFrame (module docstring for the
    plan shape and the cost model vs the fused plan). kraken_model_path
    is required: the matched-filter default is ~130x cheaper per line and
    never needs line-level balancing (the fused plan's page Exchange
    spreads its pages).

    `url` must be unique in `documents` (it is the documents-table key
    everywhere in this engine — resume anti-joins, icetable merge keys,
    FIXTURES.md): the assembly stage groups by url, so duplicate-url rows
    would merge here where the row-independent fused plan would emit one
    row each."""
    if not kraken_model_path:
        raise ValueError(
            "plan_extraction_line_parallel is the loaded-model skew path; "
            "use pipeline.plan_extraction for the default recognizer")
    prep = page_exchange(documents, num_partitions).mapInArrow(
        make_prepare_map(segmenter, text_direction, kraken_model_path,
                         no_segmentation, temperature, nlbin_params),
        schema=_PREP_DDL,
    )
    # line balancing: lines are near-uniform work units, so hashing the
    # line key (url, line_idx) spreads any page across all m partitions;
    # one line partition per core: more would dilute forward_batch's GEMM
    # batching at small corpus sizes (measured: m=2*cores reads ~10% worse
    # on the 24-doc slice); at corpus scale lines/partition is huge either
    # way and the choice stops mattering
    m = line_partitions or documents.sparkSession.sparkContext.defaultParallelism
    prep = prep.repartition(m, "url", "line_idx")
    rec = prep.mapInArrow(
        make_recognize_map(kraken_model_path, temperature), schema=_REC_DDL)
    return rec.groupBy("url").applyInArrow(
        make_assemble(), schema=EXTRACTION_DDL)
