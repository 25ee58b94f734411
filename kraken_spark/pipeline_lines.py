"""Line-parallel extraction plan for the LOADED-kraken-model path —
page-skew bounded at LINE granularity.

The fused plan (pipeline.plan_extraction) is one map-only pass: a page is
one unit of work, so a 121-line page is a single task no salt can split —
at local[32] on a 24-doc slice that one page IS the job tail
(BENCH trained_rec_docs_per_sec, BASELINE.md round-5 notes). The expensive
numpy BiLSTM forward of a loaded reference model makes this the one place
where page-level skew survives weight salting.

This plan runs the fused plan's recognition chain (rpred_parity's module
docstring: guard + crop -> crop-local prep -> pad/invert -> chunked
forward -> decode) and only chooses where to cut it — after the crop,
the reference's own line boundary (rpred's per-line records,
kraken/lib/vgsl/rpred.py:100-124 in the reference):

  scan -> weight-salted repartition
       -> PREPARE  (mapInArrow: decode -> nlbin -> segment ->
                    LoadedRecognizer.line_crop per line; one row per
                    valid line crop + one page row)
       -> line-salted repartition (murmur3-preimage buckets, so line k
          lands exactly in partition k%m — pipeline._partition_preimages)
       -> RECOGNIZE (mapInArrow: LoadedRecognizer.run_lines over the
                     batch's crops — every step after the crop)
       -> groupBy(url).applyInArrow ASSEMBLE (stages._assemble_extraction)

The prepare task does only the genuinely page-indivisible work (decode,
nlbin, the segmentation heatmap+vectorization); everything per-line runs
in the line-salted stage, so a 121-line page's prep tail parallelizes
too. Both plans build their page rows with stages._page_header /
_guard_trip.

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
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .pipeline import _partition_preimages, weight_salt
from .schema import EXTRACTION_ARROW, EXTRACTION_DDL

# Per-line transport: a (kind, crop, geom) line crop of
# rpred_parity.LoadedRecognizer.line_crop — the raw uint8 crop plus the
# crop-local baseline geometry (JSON; NULL on the bbox path). Page rows
# (line_idx -1) carry page_meta instead; complete=true marks a page row
# that is already the final extraction row.
_PREP_DDL = (
    "url string, line_idx int, complete boolean, page_meta string, "
    "kind int, crop binary, crop_h int, crop_w int, geom string"
)
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

# `failed` marks a line that RAISED (not a merely blank line): assembly
# turns its page into the guard-tripped empty row.
_REC_DDL = (
    "url string, line_idx int, complete boolean, page_meta string, "
    "prediction string, cuts string, confidences array<float>, "
    "rec_ms double, failed boolean"
)
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
    """One document -> prep rows. Non-image payloads (XML/JSON/web-HTML)
    and failed pages produce ONE complete row (the fused extract_document
    row, which never involves recognition for those payloads); image
    pages produce a page-meta row plus one row per valid line crop."""
    from . import stages

    try:
        route = stages._payload_route(html)
    except Exception:
        # null/unsliceable html: defer to extract_document, whose guard
        # path owns malformed payloads (emits the flagged empty row)
        route = "defer"
    if route is not None:
        return [_page_row(url, True, stages.extract_document(
            html, url, lang, gt_text, segmenter, text_direction,
            kraken_model_path, no_segmentation=no_segmentation,
            temperature=temperature, nlbin_params=nlbin_params))]

    t0 = time.perf_counter()
    out, text_direction, vertical = stages._page_header(url, lang, text_direction)
    try:
        img, mask, seg = stages._decode_and_segment(
            html, url, out, segmenter, text_direction,
            no_segmentation, nlbin_params, t0)
        rec = stages._get_kraken_recognizer(kraken_model_path,
                                            temperature=temperature)
        rows = []
        for i, ln in enumerate(seg["lines"]):
            c = rec.line_crop(img, ln)
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
    except Exception:
        stages._guard_trip(out, gt_text)
        out["wall_ms"] = (time.perf_counter() - t0) * 1000.0
        return [_page_row(url, True, out)]


def make_prepare_map(segmenter, text_direction, kraken_model_path,
                     no_segmentation, temperature, nlbin_params):
    def prepare(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            names = batch.schema.names
            urls = batch.column("url").to_pylist()
            htmls = batch.column("html").to_pylist()
            langs = batch.column("lang").to_pylist()
            gts = (batch.column("text").to_pylist()
                   if "text" in names else [None] * len(urls))
            # largest-first like the fused stage (straggler starts early)
            order = sorted(range(len(urls)),
                           key=lambda i: -(len(htmls[i] or b"")))
            rows: list[dict] = []
            for i in order:
                rows.extend(_prepare_one(
                    htmls[i], urls[i], langs[i], gts[i], segmenter,
                    text_direction, kraken_model_path, no_segmentation,
                    temperature, nlbin_params))
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
        from . import stages

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
        from .stages import _assemble_extraction, _guard_trip

        try:
            from pyspark import TaskContext

            ctx = TaskContext.get()
            pid = ctx.partitionId() if ctx else -1
        except Exception:  # pragma: no cover - outside Spark
            pid = -1
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
                    row = _guard_trip(o, meta["gt_text"])
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
                    row = _assemble_extraction(
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
    never needs line-level balancing (its skew is handled by the fused
    plan's weight salt).

    `url` must be unique in `documents` (it is the documents-table key
    everywhere in this engine — resume anti-joins, icetable merge keys,
    FIXTURES.md): the assembly stage groups by url, so duplicate-url rows
    would merge here where the row-independent fused plan would emit one
    row each."""
    if not kraken_model_path:
        raise ValueError(
            "plan_extraction_line_parallel is the loaded-model skew path; "
            "use pipeline.plan_extraction for the default recognizer")
    spark = documents.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism * 4
    cols = [c for c in ("url", "warc_ts", "html", "text", "lang")
            if c in documents.columns]
    df = documents.select(*cols)
    salt, total = weight_salt(n)
    df = df.repartition(total, salt.alias("salt"))
    prep = df.mapInArrow(
        make_prepare_map(segmenter, text_direction, kraken_model_path,
                         no_segmentation, temperature, nlbin_params),
        schema=_PREP_DDL,
    )
    # line balancing: lines are near-uniform work units, so a plain hash
    # over (url, line_idx) spreads any page across all m partitions; the
    # murmur3-preimage lookup keeps bucket k exactly in partition k
    # (no ~1/e empty-partition collisions — BASELINE.md round-5 landmine)
    # one line partition per core: more would dilute forward_batch's GEMM
    # batching at small corpus sizes (measured: m=2*cores reads ~10% worse
    # on the 24-doc slice); at corpus scale lines/partition is huge either
    # way and the choice stops mattering
    m = line_partitions or spark.sparkContext.defaultParallelism
    pre = _partition_preimages(m)
    lookup = F.array(*[F.lit(int(v)).cast("bigint") for v in pre])
    bucket = F.pmod(F.xxhash64("url", "line_idx"), F.lit(m)).cast("int")
    prep = prep.repartition(m, F.element_at(lookup, bucket + 1))
    rec = prep.mapInArrow(
        make_recognize_map(kraken_model_path, temperature), schema=_REC_DDL)
    return rec.groupBy("url").applyInArrow(
        make_assemble(), schema=EXTRACTION_DDL)
