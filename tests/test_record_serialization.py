"""Glyph/word geometry in serialized output vs the reference templates, on
the reference's own pickled record fixtures.

Verifies the ALTO String/SP/Glyph emission (WC/GC confidences, cut-union
boxes, polygon-section Shapes — reference templates/alto render_line +
serialization.py:203-236) and the hOCR x_bboxes/x_confs/poly fields
(templates/hocr render_line) byte-for-byte against the record API that is
itself pinned to the reference in tests/test_record_slicing.py. The ALTO
document also XSD-validates against the official alto-4-3 schema.
"""

import re
import xml.etree.ElementTree as ET
from pathlib import Path

import pytest

from kraken_spark.kernels.records import load_reference_pickle
from kraken_spark.kernels.serialize import (line_dict_from_record, serialize,
                                            to_hocr)
from kraken_spark.kernels.xsdcheck import validate_xml
from kraken_spark.refassets import resources_dir

from conftest import requires_reference

RES = Path(resources_dir())
NS = {"a": "http://www.loc.gov/standards/alto/ns-v4#"}

pytestmark = requires_reference("bl_rec.pkl", "arabic_bbox_records.pkl",
                                "alto-4-3.xsd")


def _row_from_records(recs):
    lines = []
    seg_i = char_i = 0
    for rec in recs:
        d, seg_i, char_i = line_dict_from_record(rec, seg_i, char_i)
        lines.append(d)
    w = max(l["bbox"][2] for l in lines) + 1
    h = max(l["bbox"][3] for l in lines) + 1
    return {"url": "fixture://bl_rec", "width": w, "height": h,
            "lines": lines, "regions": []}


@pytest.fixture(scope="module")
def bl_recs():
    seg = load_reference_pickle(RES / "bl_rec.pkl")
    return [r for r in seg.lines if getattr(r, "_cuts", None)]


@pytest.fixture(scope="module")
def bl_row(bl_recs):
    return _row_from_records(bl_recs)


@pytest.fixture(scope="module")
def alto_doc(bl_row):
    return serialize(bl_row, "alto")


def _segments(text):
    """Reference whitespace segmentation (serialization.py:205)."""
    out, off = [], 0
    for piece in re.split(r"(\s+)", text):
        if piece:
            out.append((off, off + len(piece), piece))
            off += len(piece)
    return out


def test_alto_string_glyph_geometry_matches_records(alto_doc, bl_recs):
    """Every String box is the union of its member polygon cuts, WC is the
    round-4 mean confidence, the String Shape is the record-slicing
    polygon section, and each Glyph carries its own cut polygon + GC."""
    root = ET.fromstring(alto_doc.encode())
    tlines = root.findall(".//a:TextLine", NS)
    assert len(tlines) == len(bl_recs)
    for tl, rec in zip(tlines, bl_recs):
        cuts = list(rec.cuts)
        strings = tl.findall("a:String", NS)
        words = [(lo, hi, tx) for lo, hi, tx in _segments(rec.prediction)
                 if not tx.isspace() or (lo == 0 and tx.isspace())]
        assert len(strings) == len(words)
        for el, (lo, hi, tx) in zip(strings, words):
            assert el.get("CONTENT") == tx
            pts = [p for c in cuts[lo:hi] for p in c]
            x0, y0 = min(p[0] for p in pts), min(p[1] for p in pts)
            x1, y1 = max(p[0] for p in pts), max(p[1] for p in pts)
            got = tuple(int(el.get(k)) for k in ("HPOS", "VPOS", "WIDTH", "HEIGHT"))
            assert got == (x0, y0, x1 - x0, y1 - y0)
            confs = rec.confidences[lo:hi]
            assert float(el.get("WC")) == round(sum(confs) / len(confs), 4)
            # Shape == the aggregated polygon section from record slicing
            shape = el.find("a:Shape/a:Polygon", NS)
            want = " ".join(f"{int(px)},{int(py)}" for px, py in rec[lo:hi][1])
            assert shape.get("POINTS") == want
            glyphs = el.findall("a:Glyph", NS)
            assert len(glyphs) == hi - lo
            for g, ci in zip(glyphs, range(lo, hi)):
                assert g.get("CONTENT") == rec.prediction[ci]
                assert float(g.get("GC")) == round(rec.confidences[ci], 4)
                gp = g.find("a:Shape/a:Polygon", NS)
                assert gp.get("POINTS") == " ".join(
                    f"{int(px)},{int(py)}" for px, py in cuts[ci])
                gx = [p[0] for p in cuts[ci]]
                gy = [p[1] for p in cuts[ci]]
                assert int(g.get("HPOS")) == min(gx)
                assert int(g.get("WIDTH")) == max(gx) - min(gx)
                assert int(g.get("VPOS")) == min(gy)
                assert int(g.get("HEIGHT")) == max(gy) - min(gy)


def test_alto_sp_elements_cover_interior_whitespace(alto_doc, bl_recs):
    """Interior whitespace runs become SP elements with their own
    cut-derived geometry (templates/alto: SP for whitespace segments
    past the first)."""
    root = ET.fromstring(alto_doc.encode())
    for tl, rec in zip(root.findall(".//a:TextLine", NS), bl_recs):
        sps = tl.findall("a:SP", NS)
        want = [(lo, hi) for i, (lo, hi, tx) in enumerate(_segments(rec.prediction))
                if tx.isspace() and i > 0]
        assert len(sps) == len(want)
        cuts = list(rec.cuts)
        for sp, (lo, hi) in zip(sps, want):
            pts = [p for c in cuts[lo:hi] for p in c]
            assert int(sp.get("HPOS")) == min(p[0] for p in pts)
            assert int(sp.get("WIDTH")) == \
                max(p[0] for p in pts) - min(p[0] for p in pts)


def test_alto_record_output_validates(alto_doc):
    validate_xml(alto_doc, f"{RES}/alto-4-3.xsd")


def test_alto_ids_unique_across_lines(alto_doc):
    root = ET.fromstring(alto_doc.encode())
    ids = [el.get("ID") for el in root.iter() if el.get("ID")]
    assert len(ids) == len(set(ids))


def test_hocr_x_bboxes_confs_poly(bl_row, bl_recs):
    """hOCR line title carries x_bboxes (flattened per-char cut polygons)
    and poly; each ocrx_word span carries bbox + per-char x_confs + the
    polygon-section poly (templates/hocr render_line)."""
    doc = to_hocr(bl_row)
    line_titles = re.findall(r'class="ocr_line"[^>]*title="([^"]*)"', doc)
    assert len(line_titles) == len(bl_recs)
    for title, rec in zip(line_titles, bl_recs):
        m = re.search(r"x_bboxes ([-\d ]+); poly", title)
        coords = m.group(1).split()
        cuts = list(rec.cuts)
        want = [str(int(v)) for c in cuts for p in c for v in p]
        assert coords == want
    word_titles = re.findall(r'class="ocrx_word"[^>]*title="([^"]*)"', doc)
    segs_all = [(rec, lo, hi, tx) for rec in bl_recs
                for lo, hi, tx in _segments(rec.prediction)]
    assert len(word_titles) == len(segs_all)
    for title, (rec, lo, hi, tx) in zip(word_titles, segs_all):
        confs = re.search(r"x_confs ([^;]*)(;|$)", title).group(1).split()
        assert confs == [str(c) for c in rec.confidences[lo:hi]]
        poly = re.search(r"poly ([-\d ]+)$", title).group(1).split()
        want = [str(int(v)) for p in rec[lo:hi][1] for v in p]
        assert poly == want


def test_bbox_record_line_dict_roundtrip():
    """BBox records serialize through the same path: per-char 4-point box
    cuts, no polygon-section Shape (bbox records carry no boundary in the
    reference's seg_struct)."""
    rec = load_reference_pickle(RES / "arabic_bbox_records.pkl")[0]
    d, _, _ = line_dict_from_record(rec)
    assert d["prediction"] == rec.prediction
    assert len(d["cuts"]) == len(rec.prediction)
    row = {"url": "fixture://bbox", "width": d["bbox"][2] + 1,
           "height": d["bbox"][3] + 1, "lines": [d], "regions": []}
    doc = serialize(row, "alto")
    validate_xml(doc, f"{RES}/alto-4-3.xsd")
    root = ET.fromstring(doc.encode())
    strings = root.findall(".//a:String", NS)
    words = [w for _, _, w in _segments(rec.prediction) if not w.isspace()]
    assert [s.get("CONTENT") for s in strings] == words
    # bbox records: no Shape under String
    assert all(s.find("a:Shape", NS) is None for s in strings)


def test_engine_rows_upgrade_to_polygon_sections():
    """The production integration: an engine extraction row (span cuts +
    baseline/boundary) upgrades to record-backed polygon-section geometry,
    serializes to XSD-valid ALTO with String/SP/Glyph Shapes, and the text
    still round-trips."""
    from kraken_spark.kernels import png as _png
    from kraken_spark.kernels import render
    from kraken_spark.kernels.serialize import (row_with_polygon_sections,
                                                serialize)
    from kraken_spark.kernels.xmlparse import parse_alto

    d = render.render_document(1234, 7)
    from kraken_spark.stages import extract_document

    r = extract_document(_png.encode_png(d["img"]), "u7", d["lang"],
                         gt_text=d["text"])
    up = row_with_polygon_sections(r)
    assert all(l.get("segments") is not None for l in up["lines"])
    doc = serialize(up, "alto")
    assert doc.count("<Glyph") > 0 and doc.count("<Shape>") > 0
    validate_xml(doc, f"{RES}/alto-4-3.xsd")
    seg = parse_alto(doc.encode())
    assert [l["text"] for l in seg["lines"]] == \
        [l["prediction"] for l in r["lines"]]


def test_hocr_roundtrip_both_forms(bl_row, bl_recs):
    """The engine reads back its own hOCR in BOTH emissions: the legacy
    word-span form (text/baseline/bbox restored) and the record-derived
    segments form (whitespace spans concatenate back to the prediction)."""
    from kraken_spark.kernels import png as _png
    from kraken_spark.kernels import render
    from kraken_spark.kernels.serialize import serialize
    from kraken_spark.kernels.xmlparse import parse_segmentation
    from kraken_spark.stages import extract_document

    d = render.render_document(1234, 3)
    r = extract_document(_png.encode_png(d["img"]), "u3", d["lang"],
                         gt_text=d["text"])
    seg = parse_segmentation(serialize(r, "hocr").encode())
    assert [l["text"] for l in seg["lines"]] == \
        [l["prediction"] for l in r["lines"]]
    assert [l["baseline"] for l in seg["lines"]] == \
        [[list(p) for p in l["baseline"]] for l in r["lines"]]
    assert (seg["width"], seg["height"]) == (r["width"], r["height"])
    # record-derived segments form, on the reference fixtures
    from kraken_spark.kernels.serialize import to_hocr

    seg2 = parse_segmentation(to_hocr(bl_row).encode())
    assert [l["text"] for l in seg2["lines"]] == \
        [rec.prediction for rec in bl_recs]


def test_abbyy_roundtrip_with_char_geometry():
    """abbyyXML reads back: text reassembled across wordStart boundaries,
    per-char (l, r) cut spans and confidences restored, baselines and
    dims intact."""
    from kraken_spark.kernels import png as _png
    from kraken_spark.kernels import render
    from kraken_spark.kernels.serialize import serialize
    from kraken_spark.kernels.xmlparse import (detect_dialect,
                                               parse_segmentation)
    from kraken_spark.stages import extract_document

    d = render.render_document(1234, 3)
    r = extract_document(_png.encode_png(d["img"]), "u3", d["lang"],
                         gt_text=d["text"])
    doc = serialize(r, "abbyyxml").encode()
    assert detect_dialect(doc) == "abbyy"
    seg = parse_segmentation(doc)
    assert [l["text"] for l in seg["lines"]] == \
        [l["prediction"] for l in r["lines"]]
    assert (seg["width"], seg["height"]) == (r["width"], r["height"])
    for got, orig in zip(seg["lines"], r["lines"]):
        assert len(got["cuts"]) == len(got["text"])
        assert len(got["confidences"]) == len(got["text"])
        assert all(0.0 <= c <= 1.0 for c in got["confidences"])
        assert got["baseline"][0][1] == got["baseline"][1][1]
