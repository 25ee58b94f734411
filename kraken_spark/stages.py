"""Arrow-batched stage functions — the only place kernels meet Spark rows.

One fused per-partition function (SURVEY.md §3.4's plan): for each Arrow
batch of documents, decode -> binarize -> segment -> reading order ->
extract -> recognize -> BiDi, emitting one extraction row per document with
nested line/region structs plus per-row timing/CER metrics. This is the
Spark-native analog of the reference's per-page stage chain
(/root/reference/kraken/kraken.py:407-433) with the multiprocess line pool
(/root/reference/kraken/lib/vgsl/model.py:501-516) replaced by partition
parallelism.

Model bootstrap happens once per Python worker (module-level singleton), the
analog of the reference's prepare_for_inference
(/root/reference/kraken/lib/vgsl/model.py:491-525).

Within a batch, pages are processed largest-first so a straggler page starts
early (size-bucketed batching, north-rule skew requirement); across
partitions, skew is handled by the pipeline's weight-aware salting.
"""

from __future__ import annotations

import os
import time
from typing import Iterator

import numpy as np
import pyarrow as pa

from .schema import EXTRACTION_ARROW

_MODEL_CACHE: dict[str, object] = {}

# admission control: the reference caps pages at 20000x20000 px
# (/root/reference/kraken/kraken.py:62); checked against the PNG header
# BEFORE decompression so a hostile payload can't balloon memory
MAX_PAGE_PX = 20000 * 20000


def _get_model():
    """Per-worker model singleton (executor-local cache). If
    KRAKEN_SPARK_MODEL_PATH is set (shipped via spark-submit --files /
    SparkFiles), the serialized VGSLModel is loaded from that file instead
    of being constructed — the reference's load-once-per-executor pattern
    (prepare_for_inference, /root/reference/kraken/lib/vgsl/model.py:491-525)."""
    if "model" not in _MODEL_CACHE:
        import os

        from .kernels.codec import Codec
        from .kernels.recognizer import build_recognizer
        from .kernels.vgsl import VGSLModel

        path = os.environ.get("KRAKEN_SPARK_MODEL_PATH")
        if path:
            with open(path, "rb") as f:
                model = VGSLModel.from_bytes(f.read())
        else:
            model = build_recognizer()
        _MODEL_CACHE["model"] = model
        _MODEL_CACHE["codec"] = Codec(model.codec)
        _pretouch_working_set()
    return _MODEL_CACHE["model"], _MODEL_CACHE["codec"]


def _pretouch_working_set() -> None:
    """Fault this worker's image-kernel working set into the malloc arena
    ONCE, at model-build time (the uncounted bootstrap window).

    On shared hosts, first-touch anonymous pages can be served orders of
    magnitude slower than warm pages (host memory overcommit / migration
    dirty-tracking windows measured at ~3 ms/page on this fleet vs ~2 us
    healthy — see BASELINE.md round-4 notes). A full-page guard document
    peaks at a few hundred MB of numpy temporaries; faulting that lazily
    inside the first heavy TASK turns a 0.3 s document into a 30 s
    straggler during such windows. Touching the block here — and never
    trimming it back (MALLOC_TRIM_THRESHOLD_, session.py) — pays the cost
    once per long-lived worker, off the per-document path.

    KRAKEN_SPARK_PRETOUCH_MB overrides the default 192 MB (0 disables)."""
    import os

    import numpy as np

    mb = int(os.environ.get("KRAKEN_SPARK_PRETOUCH_MB", "192") or 0)
    if mb <= 0:
        return
    # chunks must stay BELOW MALLOC_MMAP_THRESHOLD_ (128 MB, session.py):
    # an over-threshold block would be mmap'd and munmap'd on free,
    # faulting for nothing. 64 MB chunks land in the brk arena and are
    # retained there by the trim threshold.
    chunk = 64 << 20
    blocks = []
    for _ in range(max(1, (mb << 20) // chunk)):
        blk = np.empty(chunk, dtype=np.uint8)
        blk[::4096] = 1  # one write per page: fault + dirty
        blocks.append(blk)
    del blocks  # freed into the arena, which keeps the pages mapped


def _get_kraken_recognizer(path: str, temperature: float = 1.0):
    """Per-worker cache of a LOADED reference model (CoreML/safetensors via
    kernels/modelio) wrapped in the rpred-parity recognizer — the
    load-once-per-executor pattern applied to REAL kraken model files
    (ship via spark-submit --files / SparkFiles). temperature is the
    kraken ocr -t confidence-calibration knob (prediction-invariant)."""
    key = f"kraken:{path}:{temperature}"
    if key not in _MODEL_CACHE:
        from .kernels.modelio import load_kraken_model
        from .kernels.rpred_parity import LoadedRecognizer

        _MODEL_CACHE[key] = LoadedRecognizer(load_kraken_model(path)[0],
                                             temperature=temperature)
    return _MODEL_CACHE[key]


def extract_document(
    html: bytes, url: str, lang: str, gt_text: str | None = None,
    segmenter: str = "pageseg", text_direction: str | None = None,
    kraken_model_path: str | None = None,
    no_segmentation: bool = False,
    temperature: float = 1.0,
    nlbin_params: dict | None = None,
) -> dict:
    """Pure-Python single-document extraction (kernel chain); used by the
    Arrow stage below and directly unit-testable.

    segmenter: 'pageseg' (model-free morphological path, §2.4) or 'blla'
    (neural heatmap path, kernels/blla.py, §2.3) — both emit the same
    Segmentation contract, so the rest of the chain is shared.

    text_direction: None derives horizontal-{lr,rl} from lang; 'vertical'
    derives vertical-{lr,rl}; a full 4-valued direction is used as-is
    (the reference's text_direction option, kraken/pageseg.py:307-454).
    Vertical pages segment via rotate-segment-unrotate and their strips
    are rotated back before recognition (the reference's bbox crop +
    90° rotate, lib/segmentation.py:1631-1643)."""
    from .kernels import lineextract
    from .kernels.recognizer import recognize_page

    model, codec = _get_model()
    t0 = time.perf_counter()
    out, text_direction, vertical = _page_header(url, lang, text_direction)
    base_dir = out["base_dir"]
    try:
        route = _payload_route(html)
        if route == "markup":
            from .kernels.htmlparse import looks_like_html, seg_from_html

            if looks_like_html(html):
                # web-HTML payload: main-content extraction (boilerplate
                # strip via DOM heuristics + jusText-style block
                # classification, kernels/htmlparse.py) — the brief's
                # "HTML boilerplate strip / DOM heuristics" leg. hOCR is
                # HTML too and keeps routing to the XML dialect parser
                # (looks_like_html rejects ocr-system/ocr_page markers).
                return _extract_from_seg(seg_from_html(html, lang), out, gt_text, t0)
            # XML payload (ALTO/PageXML): pre-segmented input path — parse
            # lines/regions/text directly, no OCR (the reference's -f xml
            # input, /root/reference/kraken/kraken.py:200-207; SURVEY §3.4)
            return _extract_from_xml(html, out, gt_text, t0)
        if route == "json":
            # JSON Segmentation payload (the reference's JSON round-trip,
            # kraken.py:179-181,215-220): same pre-segmented path
            return _extract_from_json(html, out, gt_text, t0)
        img, mask, seg = _decode_and_segment(
            html, url, out, segmenter, text_direction,
            no_segmentation, nlbin_params, t0
        )
        if kraken_model_path:
            # the loaded-model path recognizes from the grayscale page
            # (polygon/bbox extraction happens inside rpred_parity with the
            # reference's own crop semantics) — the default-path strips
            # below would be computed and discarded, so skip them
            strips = None
        elif segmenter == "blla_curved":
            # curved baselines: piecewise per-cell dewarp to straight strips
            strips = [
                lineextract.extract_line_dewarped(mask, l)[0] for l in seg["lines"]
            ]
        else:
            strips = [lineextract.extract_line(mask, l)[0] for l in seg["lines"]]
        if vertical and strips is not None:
            # strips were cropped from the vertical page: rotate back to
            # horizontal before recognition (lib/segmentation.py:1631-1643)
            import numpy as np

            strips = [
                np.ascontiguousarray(np.rot90(s, k=1)) if s.size else s
                for s in strips
            ]
        if kraken_model_path:
            # recognition through a LOADED reference model (rpred parity):
            # runs on the grayscale page like the reference's rpred, with
            # bbox or baseline extraction chosen by the model's seg_type
            rec_net = _get_kraken_recognizer(kraken_model_path,
                                             temperature=temperature)
            # cross-line batched forward (rpred_parity.recognize_lines):
            # same per-line tensors and decode, but the BiLSTM recurrence
            # runs width-bucketed GEMMs instead of batch-1 GEMVs — the
            # analog of the reference's queue batching
            # (lib/vgsl/rpred.py:100-124)
            records = [
                {
                    "prediction": r["prediction"],
                    "cuts": [list(c) for c in r["cuts"]],
                    "confidences": r["confidences"],
                    "display_order": False,
                }
                for r in rec_net.recognize_lines(img, seg["lines"],
                                                 scale_cuts=True)
            ]
        else:
            records = recognize_page(model, codec, strips, base_dir=base_dir)
        _assemble_extraction(out, seg["lines"], records, seg["regions"],
                             vertical, lang, base_dir, gt_text)
    except Exception:
        _guard_trip(out, gt_text)
    out["wall_ms"] = (time.perf_counter() - t0) * 1000.0
    return out


def _page_header(url: str, lang: str, text_direction: str | None):
    """The page row every plan starts from: the text direction resolved
    from lang (None -> horizontal-{lr,rl}, 'vertical' -> vertical-{lr,rl},
    a full direction as-is) and the empty extraction row. Returns
    (out, text_direction, vertical)."""
    base_dir = "R" if lang == "ar" else "L"
    if text_direction == "vertical":
        text_direction = "vertical-rl" if base_dir == "R" else "vertical-lr"
    elif text_direction is None:
        text_direction = "horizontal-rl" if base_dir == "R" else "horizontal-lr"
    out = {
        "url": url,
        "lang": lang,
        "base_dir": base_dir,
        "text": "",
        "n_lines": 0,
        "n_regions": 0,
        "guard_tripped": False,
        "lines": [],
        "regions": [],
        "cer": None,
        "n_px": 0,
        "width": 0,
        "height": 0,
        "line_orders": [],
    }
    return out, text_direction, text_direction.startswith("vertical")


def _guard_trip(out: dict, gt_text: str | None) -> dict:
    """A failed page's row: empty extraction, flagged; mirrors the
    reference's empty-record-on-failure semantics (rpred.py:202-223)."""
    out["guard_tripped"] = True
    out["cer"] = 1.0 if gt_text else None
    return out


def _payload_route(html: bytes) -> str | None:
    """The non-image payload sniff of extract_document: 'markup' for
    XML/HTML dialects (incl. BOM), 'json' for JSON Segmentation, None
    for image bytes. Shared with pipeline_lines._prepare_one so both
    plans always route a payload the same way; raises on None html (the
    callers' guard paths own that, like every other malformed payload)."""
    if html[:1] in (b"<", b"\xef") or html[:5].lstrip()[:1] == b"<":
        return "markup"
    if html[:1] == b"{" or html[:5].lstrip()[:1] == b"{":
        return "json"
    return None


def _decode_and_segment(
    html: bytes, url: str, out: dict, segmenter: str,
    text_direction: str, no_segmentation: bool,
    nlbin_params: dict | None, t0: float,
):
    """Shared front half of the per-page chain: admission check -> decode
    -> nlbin -> segmentation dispatch, mutating `out`'s page fields.
    Raises on failure (callers wrap, emitting the guard-tripped empty
    row). Used by the fused extract_document AND the line-parallel plan's
    prepare stage (pipeline_lines.py) so both stay byte-identical."""
    from .kernels import binarize, imgio, pageseg, png

    w0, h0 = imgio.read_dimensions(html)
    if w0 * h0 > MAX_PAGE_PX:
        raise ValueError(f"page exceeds admission cap: {w0}x{h0}")
    # per-document wall-clock budget (SURVEY §7.5): a pathological page
    # must not stall its whole partition — on breach the document is
    # flagged and emitted empty, like the reference's endpoint cap
    # (lib/segmentation.py:353-381). 0 disables (default).
    budget_ms = float(os.environ.get("KRAKEN_SPARK_DOC_BUDGET_MS", "0") or 0)

    def _check_budget(stage: str) -> None:
        if budget_ms > 0 and (time.perf_counter() - t0) * 1000.0 > budget_ms:
            raise TimeoutError(f"doc budget exceeded after {stage}")

    img = png.to_grayscale(imgio.decode_image(html))
    out["n_px"] = int(img.size)
    out["height"], out["width"] = int(img.shape[0]), int(img.shape[1])
    _check_budget("decode")
    mask = binarize.nlbin(img, **(nlbin_params or {}))
    _check_budget("binarize")
    if no_segmentation:
        # the kraken CLI's -s/--no-segmentation (kraken.py:566-570):
        # each input image IS one text line — synthesize a whole-image
        # bbox segmentation (rpred gets a single [0,0,w,h] box in the
        # reference) and run the shared recognition tail. XML/JSON
        # payloads never reach here (pre-segmented input routes
        # above), matching the reference's xml-incompatibility check
        # trim to the ink extent: the reference's line normalizer
        # absorbs margins; our grid-aligned template recognizer needs
        # the strip anchored on the glyph cells (blank input keeps
        # the full frame and recognizes empty)
        import numpy as np

        rows = np.nonzero(mask.any(axis=1))[0]
        cols = np.nonzero(mask.any(axis=0))[0]
        if len(rows):
            ly0, ly1 = int(rows[0]), int(rows[-1]) + 1
            lx0, lx1 = int(cols[0]), int(cols[-1]) + 1
        else:
            ly0, lx0 = 0, 0
            ly1, lx1 = mask.shape
        seg = {
            "guard_tripped": False,
            "regions": [],
            "lines": [{
                "id": pageseg.det_id(url, "noseg", 0),
                "rank": 0,
                "bbox": [lx0, ly0, lx1, ly1],
                "baseline": [[lx0, ly1 - 1], [max(lx1 - 1, lx0 + 1), ly1 - 1]],
                "boundary": [[lx0, ly0], [lx1, ly0], [lx1, ly1], [lx0, ly1]],
                "region_ids": [],
            }],
        }
    elif segmenter in ("blla", "blla_curved", "blla_seam", "blla_ref", "blla_robust"):
        from .kernels import blla

        if segmenter == "blla_robust":
            # degraded-scan preprocessing (kernels/degrade.py corpus):
            # bleed-through intensity gate -> despeckle -> deskew, so
            # the template recognizer sees undistorted glyph geometry
            from .kernels.deskew import robust_preprocess

            mask = robust_preprocess(img, mask)
        seg = blla.segment_blla(
            mask,
            url=url,
            text_direction=text_direction,
            boundary_mode="seam" if segmenter == "blla_seam" else "rect",
            vectorizer="reference"
            if segmenter in ("blla_ref", "blla_robust")
            else "analog",
        )
    else:
        seg = pageseg.segment(mask, url=url, text_direction=text_direction)
    _check_budget("segment")
    out["guard_tripped"] = seg["guard_tripped"]
    return img, mask, seg


def _assemble_extraction(
    out: dict, seg_lines: list[dict], records: list[dict],
    seg_regions: list[dict], vertical: bool, lang: str, base_dir: str,
    gt_text: str | None,
) -> dict:
    """Shared back half: recognized records + segmentation geometry ->
    the extraction row's lines/regions/text/line_orders/cer fields.
    Used by the fused extract_document AND the line-parallel plan's
    assemble stage (pipeline_lines.py) — one code path, bit-identical
    output by construction."""
    from .kernels.metrics import cer as cer_fn

    lines = []
    for l, r in zip(seg_lines, records):
        x0 = l["bbox"][0]
        if vertical:
            # the reading axis is page-y; strip-x c maps to y1 - c
            y1b = l["bbox"][3]
            cuts = [[y1b - c[1], y1b - c[0]] for c in r["cuts"]]
        else:
            cuts = [[c[0] + x0, c[1] + x0] for c in r["cuts"]]
        lines.append(
            {
                "id": l["id"],
                "rank": l["rank"],
                "bbox": l["bbox"],
                "baseline": l["baseline"],
                "boundary": l["boundary"],
                "region_ids": l["region_ids"],
                "prediction": r["prediction"],
                "cuts": cuts,
                "confidences": r["confidences"],
                "display_order": r["display_order"],
                # segmenter output carries no semantic labels: default
                # type tag + page language (containers.py:88 default)
                "tags": l.get("tags") or '{"type": [{"type": "default"}]}',
                "language": l.get("language") or ([lang] if lang else []),
            }
        )
    out["lines"] = lines
    out["regions"] = [
        {
            "id": rg["id"],
            "region_type": rg["region_type"],
            "boundary": rg["boundary"],
            "rank": rg["rank"],
            "tags": rg.get("tags")
            or '{"type": [{"type": "' + rg["region_type"] + '"}]}',
            "language": rg.get("language") or ([lang] if lang else []),
        }
        for rg in seg_regions
    ]
    out["n_lines"] = len(lines)
    out["n_regions"] = len(out["regions"])
    out["text"] = "\n".join(l["prediction"] for l in lines)
    # alternative neural reading order (Segmentation.line_orders; the
    # reference appends neural RO as an alternative order, blla.py:381-461)
    if lines:
        from .kernels.ro import neural_reading_order

        # class feature 1 = RTL page: the trained RO MLP
        # (kernels/ro_train.py) flips the column-major order sign on it
        out["line_orders"] = [
            neural_reading_order(
                [tuple(l["bbox"]) for l in lines],
                classes=[1 if base_dir == "R" else 0] * len(lines),
                w=out["width"] or 1,
                h=out["height"] or 1,
            )
        ]
    if gt_text is not None:
        out["cer"] = float(cer_fn(gt_text, out["text"]))
    return out


def _extract_from_xml(html: bytes, out: dict, gt_text: str | None, t0: float) -> dict:
    """Pre-segmented XML input: lines carry text already; geometry and
    reading order come from the document."""
    from .kernels.xmlparse import parse_segmentation

    return _extract_from_seg(parse_segmentation(html), out, gt_text, t0)


def _extract_from_json(html: bytes, out: dict, gt_text: str | None, t0: float) -> dict:
    """Pre-segmented JSON input — the reference's JSON Segmentation
    round-trip (/root/reference/kraken/kraken.py:179-181,215-220): the
    segment stage's JSON output feeds recognition/serialization directly."""
    from .kernels.serialize import from_json

    return _extract_from_seg(from_json(html.decode("utf-8")), out, gt_text, t0)


def _extract_from_seg(seg: dict, out: dict, gt_text: str | None, t0: float) -> dict:
    from .kernels.metrics import cer as cer_fn
    out["width"], out["height"] = int(seg["width"]), int(seg["height"])
    out["n_px"] = out["width"] * out["height"]
    lines = []
    for l in seg["lines"]:
        lines.append(
            {
                "id": l["id"],
                "rank": l["rank"],
                "bbox": l["bbox"],
                "baseline": l["baseline"],
                "boundary": l["boundary"],
                "region_ids": l["region_ids"],
                "prediction": l["text"],
                "cuts": [],
                "confidences": [],
                "display_order": False,
                "tags": l.get("tags") or '{"type": [{"type": "default"}]}',
                "language": l.get("language") or [],
            }
        )
    out["lines"] = lines
    out["regions"] = [
        {
            "id": r["id"],
            "region_type": r["region_type"],
            "boundary": r["boundary"],
            "rank": r["rank"],
            "tags": r.get("tags")
            or '{"type": [{"type": "' + r["region_type"] + '"}]}',
            "language": r.get("language") or [],
        }
        for r in seg["regions"]
    ]
    out["n_lines"] = len(lines)
    out["n_regions"] = len(out["regions"])
    out["text"] = "\n".join(l["prediction"] for l in lines)
    # explicit document reading orders (PageXML ReadingOrder) surface as
    # alternative orders, like the reference's Segmentation.line_orders
    if seg.get("line_orders"):
        out["line_orders"] = [list(o) for o in seg["line_orders"]]
    if gt_text is not None:
        out["cer"] = float(cer_fn(gt_text, out["text"]))
    out["wall_ms"] = (time.perf_counter() - t0) * 1000.0
    return out


def make_extract_map(
    segmenter: str = "pageseg",
    text_direction: str | None = None,
    kraken_model_path: str | None = None,
    markdown: bool = False,
    no_segmentation: bool = False,
    temperature: float = 1.0,
    nlbin_params: dict | None = None,
):
    """mapInArrow stage body factory: documents batches -> extraction
    batches, with the segmentation path (and optionally a 4-valued or
    'vertical' text direction, and optionally a LOADED reference model
    file for recognition) chosen at plan time.

    markdown=True appends a `markdown string` column: the
    structure-preserving render of the classified main content
    (kernels/htmlparse.main_content_markdown) for web-HTML payloads,
    empty for every other payload type — computed in the SAME Arrow pass
    so the plan stays one fused extraction stage (no second scan of the
    page bytes, no extra join)."""
    out_schema = EXTRACTION_ARROW
    if markdown:
        out_schema = EXTRACTION_ARROW.append(pa.field("markdown", pa.string()))

    def extract_map(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        try:
            from pyspark import TaskContext

            ctx = TaskContext.get()
            pid = ctx.partitionId() if ctx else -1
        except Exception:  # pragma: no cover - outside Spark
            pid = -1
        for batch in batches:
            names = batch.schema.names
            urls = batch.column("url").to_pylist()
            htmls = batch.column("html").to_pylist()
            langs = batch.column("lang").to_pylist()
            gts = batch.column("text").to_pylist() if "text" in names else [None] * len(urls)
            # largest-first within the batch (size-bucketed straggler mitigation)
            order = sorted(range(len(urls)), key=lambda i: -(len(htmls[i] or b"")))
            rows = [None] * len(urls)
            for i in order:
                rows[i] = extract_document(
                    htmls[i], urls[i], langs[i], gts[i], segmenter,
                    text_direction, kraken_model_path,
                    no_segmentation=no_segmentation, temperature=temperature,
                    nlbin_params=nlbin_params
                )
            for r in rows:
                r["partition_id"] = pid
            if markdown:
                from .kernels.htmlparse import looks_like_html, main_content_markdown

                for i, r in enumerate(rows):
                    raw = htmls[i] or b""
                    md = ""
                    if looks_like_html(raw):
                        try:
                            md = main_content_markdown(bytes(raw), langs[i])
                        except Exception:
                            md = ""
                    r["markdown"] = md
            yield pa.RecordBatch.from_pylist(rows, schema=out_schema)

    return extract_map


extract_map_in_arrow = make_extract_map("pageseg")
