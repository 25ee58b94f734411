"""XML-ingestion parity on the reference's own ALTO/PageXML test fixtures
(real third-party documents: bsb00084914_00007.xml is an eScriptorium ALTO
export, cPAS-2000.xml a Transkribus PAGE export), pinning the expectations
of the reference's test_xml.py: line/region counts, per-line base
direction / language / tag / split vectors with inheritance, coordinate
fallbacks, explicit reading orders flattened to line- and region-level,
missing-coordinate degradation, zero-dimension image fallback, and the
hard failure modes."""

from pathlib import Path

import pytest

from kraken_spark.kernels.xmlparse import (detect_dialect, parse_alto,
                                           parse_pagexml, parse_segmentation)
from kraken_spark.refassets import resources_dir

from conftest import requires_reference

RES = Path(resources_dir())
ALTO = RES / "alto"
PAGE = RES / "page"

pytestmark = requires_reference("alto/bsb00084914_00007.xml",
                                "page/cPAS-2000.xml")


def _read(p):
    return p.read_bytes()


@pytest.fixture(scope="module")
def alto_doc():
    return parse_alto(_read(ALTO / "bsb00084914_00007.xml"))


@pytest.fixture(scope="module")
def page_doc():
    return parse_pagexml(_read(PAGE / "cPAS-2000.xml"))


# -- counts and dialect detection (test_xml.py:30-54) ------------------------

def test_counts(alto_doc, page_doc):
    assert len(alto_doc["lines"]) == 30
    assert len(alto_doc["regions"]) == 5
    assert len(page_doc["lines"]) == 97
    assert len(page_doc["regions"]) == 4


def test_bbox_linetype_keeps_baselineless_line():
    doc = parse_alto(_read(ALTO / "bsb00084914_00007.xml"), linetype="bbox")
    assert len(doc["lines"]) == 31


def test_auto_detection():
    assert detect_dialect(_read(ALTO / "bsb00084914_00007.xml")) == "alto"
    assert detect_dialect(_read(PAGE / "cPAS-2000.xml")) == "pagexml"


def test_cross_dialect_parse_fails():
    with pytest.raises(ValueError):
        parse_pagexml(_read(ALTO / "bsb00084914_00007.xml"))
    with pytest.raises(ValueError):
        parse_alto(_read(PAGE / "cPAS-2000.xml"))


# -- failure modes (test_xml.py:69-103, 196-223) -----------------------------

@pytest.mark.parametrize("name", ["image.xml", "mu.xml", "dims.xml",
                                  "zero_dims_missing_image.xml"])
def test_alto_invalid_docs_raise(name):
    with pytest.raises(ValueError):
        parse_alto(_read(ALTO / "invalid" / name),
                   base_path=str(ALTO / "invalid"))


@pytest.mark.parametrize("name", ["image.xml", "dims.xml",
                                  "zero_dims_missing_image.xml"])
def test_page_invalid_docs_raise(name):
    with pytest.raises(ValueError):
        parse_pagexml(_read(PAGE / "invalid" / name),
                      base_path=str(PAGE / "invalid"))


def test_zero_dims_fall_back_to_image_size():
    a = parse_alto(_read(ALTO / "zero_dims.xml"), base_path=str(ALTO))
    assert (a["width"], a["height"]) == (123, 45)
    p = parse_pagexml(_read(PAGE / "zero_dims.xml"), base_path=str(PAGE))
    assert (p["width"], p["height"]) == (123, 45)


# -- ALTO metadata vectors (test_xml.py:104-194) -----------------------------

def test_alto_base_directions(alto_doc):
    assert [l["base_dir"] for l in alto_doc["lines"]] == (
        ["L", "L"] + ["R"] * 23 + [None] * 4 + ["R"])


def test_alto_languages(alto_doc):
    langs = [l["language"] for l in alto_doc["lines"]]
    assert langs[0] == ["iai"]
    assert langs[23] == ["eng"]
    assert langs[25:28] == [["hbo"]] * 3
    assert langs[28] == ["deu", "eng"]
    assert langs[29] == ["hbo"]
    others = [v for i, v in enumerate(langs)
              if i not in (0, 23, 25, 26, 27, 28, 29)]
    assert others == [["deu", "heb"]] * 23


def test_alto_region_languages_by_type(alto_doc):
    by_type = {}
    for r in alto_doc["regions"]:
        by_type.setdefault(r["region_type"], []).append(r["language"])
    assert by_type == {"Main": [["deu", "heb"]],
                       "Paratext": [["hbo"], ["hbo"], ["hbo"]],
                       "Margin": [["hbo"]]}


def test_alto_tags(alto_doc):
    tags = [l["tags_raw"] for l in alto_doc["lines"]]
    assert tags[2] == {"type": [{"type": "heading"}]}
    assert tags[11] == {"label_0": [{"type": "foo"}],
                        "label_1": [{"type": "bar"}]}
    assert tags[12] == {"label_1": [{"type": "bar"}, {"type": "baz"}]}
    assert tags[23] == {"language": [{"type": "eng"}]}
    assert tags[28] == {"language": [{"type": "deu"}, {"type": "eng"}]}
    assert all(t is None for i, t in enumerate(tags)
               if i not in (2, 11, 12, 23, 28))


def test_alto_region_boundary_fallbacks():
    doc = parse_alto(_read(ALTO / "reg_test.xml"))
    # shape polygon > HPOS rect; the coordinate-less third block is excluded
    assert [r["boundary"] for r in doc["regions"]] == [
        [[812, 606], [2755, 648], [2723, 3192], [808, 3240]],
        [[596, 2850], [596, 3008], [729, 3008], [729, 2850]]]
    assert all(r["region_type"] == "text" for r in doc["regions"])


# -- ALTO reading orders (test_xml.py:304-340) -------------------------------

def test_alto_ro_string_refs_flattened(alto_doc):
    orders = alto_doc["orders"]
    assert orders["line_implicit"]["level"] == "line"
    assert orders["region_implicit"]["level"] == "region"
    assert "og_0" in orders
    ro = orders["og_0"]
    assert ro["level"] == "line"
    line_ids = {l["id"] for l in alto_doc["lines"]}
    assert all(lid in line_ids for lid in ro["order"])
    assert len(ro["order"]) == 30
    rr = orders["og_0:regions"]
    region_ids = {r["id"] for r in alto_doc["regions"]}
    assert rr["level"] == "region"
    assert all(rid in region_ids for rid in rr["order"])


# -- PAGE metadata vectors (test_xml.py:224-302) -----------------------------

def test_page_base_directions(page_doc):
    dirs = [l["base_dir"] for l in page_doc["lines"]]
    assert dirs == (["R", "L", "L"] + ["R"] * 46 + ["L"] * 48)


def test_page_splits(page_doc):
    splits = [l["split"] for l in page_doc["lines"]]
    expect = [None] * 97
    expect[0] = "train"
    expect[4] = "validation"
    expect[24] = "train"
    expect[25] = "invalid"
    assert splits == expect


def test_page_languages(page_doc):
    langs = [l["language"] for l in page_doc["lines"]]
    assert langs[0] == ["hbo"]
    assert langs[3] == ["deu"]
    assert langs[49:] == [["pol", "deu"]] * 48
    rest = [v for i, v in enumerate(langs) if i not in (0, 3) and i < 49]
    assert rest == [["heb", "deu", "eng"]] * 47


# -- PAGE explicit reading orders (test_xml.py:341-446) ----------------------

def test_page_explicit_ro():
    doc = parse_pagexml(_read(PAGE / "explicit_ro.xml"))
    assert len(doc["lines"]) == 5 and len(doc["regions"]) == 3
    ro = doc["orders"]["ro_1"]
    assert ro["level"] == "line"
    assert ro["order"] == ["l3", "l4", "l1", "l2", "l5"]
    assert doc["orders"]["ro_1:regions"]["order"] == ["r2", "r1", "r3"]
    # engine index form
    assert [2, 3, 0, 1, 4] in doc["line_orders"]


def test_page_explicit_ro_unordered_top_level():
    doc = parse_pagexml(_read(PAGE / "explicit_ro_unordered.xml"))
    assert doc["orders"]["ro_main"]["is_total"] is False
    assert doc["orders"]["ro_margin"]["is_total"] is False
    assert doc["orders"]["ro_main"]["order"] == ["l1", "l2"]
    assert doc["orders"]["ro_margin"]["order"] == ["l3"]


def test_page_transkribus_region_order(page_doc):
    assert page_doc["orders"]["region_transkribus"]["level"] == "region"


# -- missing region coordinates (test_xml.py:448-530) ------------------------

@pytest.mark.parametrize("root,ids", [
    (ALTO, ("tb_1", "tb_2", "tb_nocoords", "tl_3", "og_test")),
])
def test_alto_missing_region_coords(root, ids):
    doc = parse_segmentation(_read(root / "missing_coords_ro.xml"))
    tb1, tb2, tb_no, tl3, og = ids
    line_ids = [l["id"] for l in doc["lines"]]
    assert tl3 in line_ids
    tl3_line = next(l for l in doc["lines"] if l["id"] == tl3)
    assert tl3_line["region_ids"] == []
    region_ids = {r["id"] for r in doc["regions"]}
    assert tb_no not in region_ids
    assert {tb1, tb2} <= region_ids
    orders = doc["orders"]
    assert tb_no not in orders["region_implicit"]["order"]
    assert tl3 in orders["line_implicit"]["order"]
    ro = orders[og]
    assert {"tl_1", "tl_2", "tl_4"} <= set(ro["order"])
    assert tl3 not in ro["order"]
    assert orders[f"{og}:regions"]["order"] == [tb1, tb2]
    # engine index form stays valid
    for order in doc.get("line_orders", []):
        assert all(0 <= i < len(doc["lines"]) for i in order)


def test_page_missing_region_coords():
    doc = parse_segmentation(_read(PAGE / "missing_coords_ro.xml"))
    line_ids = [l["id"] for l in doc["lines"]]
    region_ids = {r["id"] for r in doc["regions"]}
    # the coordinate-less region is excluded; its lines survive unattached
    orphans = [l for l in doc["lines"] if l["region_ids"] == []]
    assert orphans, "expected lines from the coordinate-less region"
    assert all(l["id"] in line_ids for l in orphans)
    assert not any(r.startswith("r_nocoords") for r in region_ids)
