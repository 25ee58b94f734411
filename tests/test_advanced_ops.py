"""Dewarp, neural RO, segmentation merge, multi-page source, model dispatch."""

from __future__ import annotations

import numpy as np
import pytest

from kraken_spark.kernels import binarize, pageseg, png, render
from kraken_spark.kernels.lineest import dewarp, estimate_centerline
from kraken_spark.kernels.merge import merge_segmentations
from kraken_spark.kernels.ro import (
    build_order_mlp,
    greedy_order_decode,
    neural_reading_order,
    spearman_footrule,
)
from kraken_spark.sources.pdf import pack_multipage, unpack_pages


# ------------------------------------------------------------------ lineest
def _sine_warped_strip(amp: int = 6) -> tuple[np.ndarray, np.ndarray]:
    """A straight 2-blob line and its sine-warped version."""
    h, w = 40, 200
    straight = np.zeros((h, w), np.uint8)
    straight[16:24, :] = 1
    warped = np.zeros((h, w), np.uint8)
    for x in range(w):
        off = int(round(amp * np.sin(2 * np.pi * x / w)))
        warped[16 + off : 24 + off, x] = 1
    return straight, warped


def test_centerline_tracks_sine():
    _, warped = _sine_warped_strip()
    c = estimate_centerline(warped, smooth=2.0)
    assert c.shape == (200,)
    assert c[50] > c[150]  # sine: positive offset first half, negative second


def test_dewarp_straightens():
    straight, warped = _sine_warped_strip()
    dw = dewarp(warped, target_height=40)
    # after dewarping, per-column ink centers should be nearly constant
    ys = np.arange(40, dtype=np.float32)[:, None]
    colsum = dw.sum(axis=0)
    centers = (dw.astype(np.float32) * ys).sum(axis=0) / np.maximum(colsum, 1)
    spread = float(centers[colsum > 0].std())
    # raw warped spread is ~amp/sqrt(2) ≈ 4.2; dewarped must collapse
    assert spread < 1.5
    assert dewarp(np.zeros((0, 0), np.uint8)).shape == (48, 0)


# ----------------------------------------------------------------- neural RO
def test_neural_ro_matches_topdown():
    boxes = [(10, 50, 100, 60), (10, 10, 100, 20), (10, 30, 100, 40)]
    assert neural_reading_order(boxes, w=120, h=80) == [1, 2, 0]


def test_neural_ro_lr_tiebreak():
    boxes = [(200, 10, 300, 20), (10, 10, 100, 20)]
    assert neural_reading_order(boxes, w=320, h=40) == [1, 0]


def test_neural_ro_agrees_with_heuristic_on_single_column():
    d = render.render_document(42, 0)  # single-column en page
    img = png.to_grayscale(d["img"])
    seg = pageseg.segment(binarize.nlbin(img), url="u")
    boxes = [tuple(l["bbox"]) for l in seg["lines"]]
    order = neural_reading_order(boxes, w=img.shape[1], h=img.shape[0])
    assert spearman_footrule(order, list(range(len(boxes)))) == 0.0


def test_greedy_decode_from_explicit_matrix():
    P = np.array([[0.5, 0.9, 0.9], [0.1, 0.5, 0.2], [0.1, 0.8, 0.5]])
    assert greedy_order_decode(P) == [0, 2, 1]
    assert greedy_order_decode(np.zeros((0, 0))) == []
    mlp = build_order_mlp()
    assert mlp.pair_probs(np.zeros((1, 8), np.float32)).shape == (1, 1)


# -------------------------------------------------------------------- merge
def test_merge_restores_split_segmentation():
    d = render.render_document(42, 1)  # 2-column page
    img = png.to_grayscale(d["img"])
    seg = pageseg.segment(binarize.nlbin(img), url="u")
    a = dict(seg, lines=seg["lines"][0::2])
    b = dict(seg, lines=seg["lines"][1::2])
    merged = merge_segmentations([a, b])
    assert [l["id"] for l in merged["lines"]] == [l["id"] for l in seg["lines"]]
    assert {r["id"] for r in merged["regions"]} == {r["id"] for r in seg["regions"]}
    # region re-attachment: every line keeps a region
    assert all(l["region_ids"] for l in merged["lines"])


def test_merge_rejects_mixed_types():
    with pytest.raises(ValueError):
        merge_segmentations([{"type": "baselines", "lines": [], "regions": []},
                             {"type": "bbox", "lines": [], "regions": []}])
    assert merge_segmentations([])["lines"] == []


# ------------------------------------------------------------ vertical text
def test_vertical_text_segmentation():
    """Rotating a page 90° CW and segmenting with vertical-* recovers the
    same lines with rotated geometry; recognition on re-rotated strips
    still reads the text exactly."""
    from kraken_spark.kernels.codec import Codec
    from kraken_spark.kernels.recognizer import build_recognizer, recognize_page

    d = render.render_document(42, 0)  # en, 1-col
    mask = binarize.nlbin(png.to_grayscale(d["img"]))
    vmask = np.ascontiguousarray(np.rot90(mask, k=3))  # CW: lines now vertical
    seg = pageseg.segment(vmask, url="u", text_direction="vertical-lr")
    assert len(seg["lines"]) == len(d["lines"])
    # detected lines are vertical: taller than wide
    got0 = seg["lines"][0]["bbox"]
    assert (got0[3] - got0[1]) > (got0[2] - got0[0])
    # strips: crop from the vertical page, rotate back, recognize
    model = build_recognizer()
    codec = Codec(model.codec)
    strips = []
    for l in seg["lines"]:
        bx0, by0, bx1, by1 = l["bbox"]
        strips.append(np.ascontiguousarray(np.rot90(vmask[by0:by1, bx0:bx1], k=1)))
    recs = recognize_page(model, codec, strips, base_dir="L")
    assert "\n".join(r["prediction"] for r in recs) == d["text"]


# -------------------------------------------------------------- seg metrics
def test_baseline_prf_exact_and_partial():
    from kraken_spark.kernels.seg_metrics import baseline_prf

    g = [[[0, 10], [100, 10]], [[0, 40], [100, 40]]]
    # perfect
    m = baseline_prf(g, g)
    assert (m["precision"], m["recall"], m["f1"]) == (1.0, 1.0, 1.0)
    # one miss, one spurious
    det = [[[0, 11], [100, 11]], [[0, 200], [100, 200]]]
    m = baseline_prf(det, g)
    assert m["n_matched"] == 1 and m["precision"] == 0.5 and m["recall"] == 0.5
    # tolerance boundary: dy=9 > 8 -> no match
    m = baseline_prf([[[0, 19], [100, 19]]], [g[0]])
    assert m["n_matched"] == 0
    # x-overlap below 50% of the shorter -> no match
    m = baseline_prf([[[80, 10], [180, 10]]], [[[0, 10], [100, 10]]])
    assert m["n_matched"] == 0
    # empty cases
    assert baseline_prf([], [])["f1"] == 2 * 1 * 1 / 2
    assert baseline_prf([], [g[0]])["recall"] == 0.0


# ------------------------------------------------------- admission + models
def test_page_admission_cap_before_decode():
    """A PNG header claiming >20000x20000 px must trip the guard without
    decompressing the payload (reference cap, kraken/kraken.py:62)."""
    import struct
    import zlib

    from kraken_spark.stages import extract_document

    ihdr = struct.pack(">IIBBBBB", 25000, 25000, 8, 0, 0, 0, 0)

    def chunk(tag, payload):
        return (
            struct.pack(">I", len(payload)) + tag + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    huge = (
        b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"\x00")) + chunk(b"IEND", b"")
    )
    out = extract_document(huge, "u", "en", None)
    assert out["guard_tripped"] and out["n_lines"] == 0


def test_model_loading_from_file(tmp_path, monkeypatch):
    """KRAKEN_SPARK_MODEL_PATH: serialized model loaded once per worker."""
    from kraken_spark import stages
    from kraken_spark.kernels.recognizer import build_recognizer

    p = tmp_path / "model.npz"
    p.write_bytes(build_recognizer().to_bytes())
    monkeypatch.setenv("KRAKEN_SPARK_MODEL_PATH", str(p))
    stages._MODEL_CACHE.clear()
    try:
        d = render.render_document(42, 0)
        out = stages.extract_document(png.encode_png(d["img"]), "u", d["lang"], d["text"])
        assert out["cer"] == 0.0
    finally:
        stages._MODEL_CACHE.clear()


# ---------------------------------------------------------------- multipage
def test_multipage_roundtrip_and_pdf_garbage():
    pages = [b"page-one-bytes", b"page-two", b""]
    blob = pack_multipage(pages)
    assert unpack_pages(blob) == pages
    # a %PDF blob with no page tree is malformed -> PdfError (explode_pages
    # catches it and degrades to a single-page payload)
    from kraken_spark.kernels.pdfraster import PdfError

    with pytest.raises(PdfError):
        unpack_pages(b"%PDF-1.7 fake")
    assert unpack_pages(b"plain png bytes") == [b"plain png bytes"]




def test_image_pdf_native_roundtrip():
    """Scanned-document (image) PDFs are handled WITHOUT a rasterizer:
    write_pdf emits a valid PDF 1.4 with Flate image XObjects,
    extract_pdf_images recovers pixel-identical pages, and unpack_pages
    routes %PDF blobs through it to PNG payloads that extract at CER 0."""
    from kraken_spark.sources.pdf import extract_pdf_images, write_pdf
    from kraken_spark.stages import extract_document

    d0 = render.render_document(42, 0)
    d1 = render.render_document(42, 3)
    pdf = write_pdf([d0["img"], d1["img"]])
    assert pdf.startswith(b"%PDF-1.4") and pdf.rstrip().endswith(b"%%EOF")
    imgs = extract_pdf_images(pdf)
    assert len(imgs) == 2
    assert np.array_equal(imgs[0], d0["img"]) and np.array_equal(imgs[1], d1["img"])
    payloads = unpack_pages(pdf)
    assert len(payloads) == 2
    for payload, d in zip(payloads, (d0, d1)):
        out = extract_document(payload, "u", d["lang"], gt_text=d["text"])
        assert out["cer"] == 0.0


def test_pluggable_hooks():
    """§2.10 pluggability: custom reading-order fn (pageseg.py:315 /
    blla.py:254 analog), pluggable CTC decoder (configs/base.py:219-235),
    custom serializer template (serialization.py:252-258)."""
    from kraken_spark.kernels import blla
    from kraken_spark.kernels.ctc import greedy_decoder
    from kraken_spark.kernels.recognizer import recognize_page
    from kraken_spark.kernels.serialize import SERIALIZERS, register_serializer, serialize
    from kraken_spark.stages import _get_model

    d = render.render_document(99, 1)
    mask = binarize.nlbin(png.to_grayscale(d["img"]))

    # 1. reading_order_fn override: reversed order flips line ranks
    calls = []
    def reversed_ro(line_bboxes, line_region_idx, region_bboxes, rl):
        calls.append(len(line_bboxes))
        return list(range(len(line_bboxes)))[::-1]
    seg_fwd = pageseg.segment(mask, url="u", text_direction="horizontal-lr")
    seg_rev = pageseg.segment(
        mask, url="u", text_direction="horizontal-lr", reading_order_fn=reversed_ro
    )
    assert calls and len(seg_rev["lines"]) == len(seg_fwd["lines"])
    assert [l["bbox"] for l in seg_rev["lines"]] == [l["bbox"] for l in seg_fwd["lines"]][::-1]
    seg_rev_b = blla.segment_blla(
        mask, url="u", text_direction="horizontal-lr", reading_order_fn=reversed_ro
    )
    assert len(calls) == 2 and len(seg_rev_b["lines"]) > 0
    # vertical pages run the same hook inside the rotated segmentation
    vmask = np.ascontiguousarray(np.rot90(mask, k=3))
    vseg_fwd = pageseg.segment(vmask, url="u", text_direction="vertical-lr")
    vseg_rev = pageseg.segment(
        vmask, url="u", text_direction="vertical-lr", reading_order_fn=reversed_ro
    )
    assert len(calls) == 3 and calls[-1] == len(vseg_fwd["lines"]) > 1
    assert [l["bbox"] for l in vseg_rev["lines"]] == [l["bbox"] for l in vseg_fwd["lines"]][::-1]
    assert [l["rank"] for l in vseg_rev["lines"]] == list(range(len(vseg_fwd["lines"])))

    # 2. pluggable CTC decoder: a conf-clamping wrapper changes confidences
    # but not predictions
    model, codec = _get_model()
    from kraken_spark.kernels import lineextract

    strips = [lineextract.extract_line(mask, l)[0] for l in seg_fwd["lines"]]
    base = recognize_page(model, codec, strips)
    def clamped(acts):
        return [(lab, s, e, 0.5) for lab, s, e, _ in greedy_decoder(acts)]
    alt = recognize_page(model, codec, strips, decoder=clamped)
    assert [r["prediction"] for r in alt] == [r["prediction"] for r in base]
    # decoder-produced confidences are clamped; synthesized inter-word
    # space cells keep their own confidence
    assert all(
        c == 0.5
        for r in alt
        for ch, c in zip(r["prediction"], r["confidences"])
        if ch != " "
    )
    assert any(c == 0.5 for r in alt for c in r["confidences"])

    # 3. custom serializer registration
    def to_tsv(row, created=""):
        return "\n".join(l["prediction"] for l in row["lines"])
    register_serializer("tsv", to_tsv)
    try:
        row = {"url": "u", "width": 1, "height": 1,
               "lines": [{"prediction": "ab"}, {"prediction": "cd"}], "regions": []}
        assert serialize(row, "tsv") == "ab\ncd"
    finally:
        SERIALIZERS.pop("tsv", None)


def test_vertical_text_segmentation_blla():
    """Same rotate-segment-unrotate contract through the NEURAL path:
    vertical-* pages recover all lines with rotated geometry and exact
    recognition (parity with the pageseg vertical test above)."""
    from kraken_spark.kernels import blla
    from kraken_spark.kernels.codec import Codec
    from kraken_spark.kernels.recognizer import build_recognizer, recognize_page

    d = render.render_document(42, 0)  # en, 1-col
    mask = binarize.nlbin(png.to_grayscale(d["img"]))
    vmask = np.ascontiguousarray(np.rot90(mask, k=3))  # CW: lines now vertical
    seg = blla.segment_blla(vmask, url="u", text_direction="vertical-lr")
    assert seg["text_direction"] == "vertical-lr"
    assert len(seg["lines"]) == len(d["lines"])
    got0 = seg["lines"][0]["bbox"]
    assert (got0[3] - got0[1]) > (got0[2] - got0[0])
    model = build_recognizer()
    codec = Codec(model.codec)
    strips = []
    for l in seg["lines"]:
        bx0, by0, bx1, by1 = l["bbox"]
        strips.append(np.ascontiguousarray(np.rot90(vmask[by0:by1, bx0:bx1], k=1)))
    recs = recognize_page(model, codec, strips, base_dir="L")
    assert "\n".join(r["prediction"] for r in recs) == d["text"]


def test_doc_time_budget(monkeypatch):
    """KRAKEN_SPARK_DOC_BUDGET_MS: a pathological page past the budget is
    flagged + emitted empty instead of stalling its partition (SURVEY §7.5
    skew control; analog of the reference's endpoint cap,
    lib/segmentation.py:353-381)."""
    from kraken_spark.stages import extract_document

    d = render.render_document(42, 0)
    payload = png.encode_png(d["img"])
    monkeypatch.setenv("KRAKEN_SPARK_DOC_BUDGET_MS", "0.001")
    out = extract_document(payload, "u", d["lang"], gt_text=d["text"])
    assert out["guard_tripped"] and out["n_lines"] == 0
    monkeypatch.setenv("KRAKEN_SPARK_DOC_BUDGET_MS", "60000")
    out = extract_document(payload, "u", d["lang"], gt_text=d["text"])
    assert not out["guard_tripped"] and out["cer"] == 0.0
    monkeypatch.delenv("KRAKEN_SPARK_DOC_BUDGET_MS")
    out = extract_document(payload, "u", d["lang"], gt_text=d["text"])
    assert not out["guard_tripped"] and out["cer"] == 0.0


def test_progressive_jpeg_mpgz_bundle_extracts_cer0():
    """The x_pdf_pages progressive variant: an MPGZ bundle of SOF2
    (progressive) JPEG page scans explodes and extracts byte-identically,
    like its baseline-JPEG PDF twin."""
    from kraken_spark.kernels.jpeg import encode_jpeg
    from kraken_spark.stages import extract_document

    docs = [render.render_document(42, i) for i in (0, 3, 7)]
    blob = pack_multipage(
        [encode_jpeg(d["img"], 90, progressive=True) for d in docs]
    )
    payloads = unpack_pages(blob)
    assert len(payloads) == 3
    for payload, d in zip(payloads, docs):
        assert payload[:2] == b"\xff\xd8" and b"\xff\xc2" in payload[:256]
        out = extract_document(payload, "u", d["lang"], gt_text=d["text"])
        assert out["cer"] == 0.0 and not out["guard_tripped"]
