"""Schema validation of serialized ALTO / PageXML against the official W3C
schemas the reference tests with (/root/reference/tests/test_serialization.py:
51-73; resources alto-4-3.xsd, pagecontent.xsd, xlink.xsd), via the
pure-stdlib subset validator in kernels/xsdcheck.py (no lxml in this
environment). Positive cases prove the serializers emit schema-valid
documents; negative controls prove the validator is not vacuous — each
mutation class below is one lxml would also reject."""

import pytest

from kraken_spark.kernels import png, render
from kraken_spark.kernels.serialize import serialize
from kraken_spark.kernels.xsdcheck import validate_xml
from kraken_spark.refassets import resource
from kraken_spark.stages import extract_document

from conftest import requires_reference

ALTO_XSD = resource("alto-4-3.xsd")
PAGE_XSD = resource("pagecontent.xsd")
# every test that reads a schema skips, naming it, without the checkout
SCHEMAS = requires_reference("alto-4-3.xsd", "pagecontent.xsd")


@pytest.fixture(scope="module")
def row():
    d = render.render_document(1234, 7)
    return extract_document(
        png.encode_png(d["img"]), "u7", d["lang"], gt_text=d["text"]
    )


@pytest.fixture(scope="module")
def alto(row):
    return serialize(row, "alto")


@pytest.fixture(scope="module")
def page(row):
    return serialize(row, "pagexml")


# ---------------------------------------------------------------- positive


@SCHEMAS
def test_alto_output_validates(alto):
    assert validate_xml(alto, ALTO_XSD) == []


@SCHEMAS
def test_pagexml_output_validates(page):
    assert validate_xml(page, PAGE_XSD) == []


@SCHEMAS
def test_multiple_pages_validate():
    """Seed/page-diverse sample incl. an RTL page (language metadata in
    the custom string, not the enum-typed primaryLanguage attribute)."""
    for seed, i in ((1234, 0), (7, 15), (555, 3)):
        d = render.render_document(seed, i)
        r = extract_document(
            png.encode_png(d["img"]), f"u{seed}_{i}", d["lang"], gt_text=d["text"]
        )
        assert validate_xml(serialize(r, "alto"), ALTO_XSD) == [], (seed, i)
        assert validate_xml(serialize(r, "pagexml"), PAGE_XSD) == [], (seed, i)


# ------------------------------------------------------- negative controls


def _expect_invalid(doc, xsd, needle=""):
    errs = validate_xml(doc, xsd)
    assert errs, "validator accepted an invalid document"
    if needle:
        assert any(needle in e for e in errs), errs


@SCHEMAS
def test_alto_missing_required_attribute_rejected(alto):
    # String CONTENT is use="required" in alto-4-3.xsd
    assert "CONTENT=" in alto
    _expect_invalid(alto.replace("CONTENT=", "XCONTENT=", 1), ALTO_XSD)


@SCHEMAS
def test_alto_undeclared_attribute_rejected(alto):
    _expect_invalid(
        alto.replace("<TextLine ", '<TextLine BOGUS="1" ', 1), ALTO_XSD, "undeclared"
    )


@SCHEMAS
def test_alto_bad_enum_rejected(alto):
    assert "<MeasurementUnit>pixel</MeasurementUnit>" in alto
    _expect_invalid(
        alto.replace(
            "<MeasurementUnit>pixel</MeasurementUnit>",
            "<MeasurementUnit>parsec</MeasurementUnit>",
        ),
        ALTO_XSD,
    )


@SCHEMAS
def test_alto_confidence_range_rejected(alto):
    # WC is xsd:float restricted to [0, 1]
    assert 'WC="0.' in alto or 'WC="1.0' in alto
    import re

    mutated = re.sub(r'WC="[^"]*"', 'WC="1.5"', alto, count=1)
    _expect_invalid(mutated, ALTO_XSD)


@SCHEMAS
def test_alto_misplaced_element_rejected(alto):
    # Description must precede Layout inside <alto> — a trailing copy of
    # MeasurementUnit inside Layout violates Layout's content model
    _expect_invalid(
        alto.replace("<Layout>", "<Layout><MeasurementUnit>pixel</MeasurementUnit>", 1),
        ALTO_XSD,
        "content model",
    )


@SCHEMAS
def test_alto_duplicate_ids_rejected(alto):
    import re

    ids = re.findall(r'<TextLine ID="([^"]+)"', alto)
    assert len(ids) >= 2
    _expect_invalid(alto.replace(f'ID="{ids[1]}"', f'ID="{ids[0]}"'), ALTO_XSD, "duplicate ID")


@SCHEMAS
def test_pagexml_iso_primary_language_rejected(page):
    """The exact bug validation caught on first run: primaryLanguage is an
    enumeration of full language names ('English'), not ISO codes."""
    _expect_invalid(
        page.replace("<TextLine ", '<TextLine primaryLanguage="en" ', 1),
        PAGE_XSD,
        "primaryLanguage",
    )


@SCHEMAS
def test_pagexml_full_name_primary_language_accepted(page):
    ok = page.replace("<TextLine ", '<TextLine primaryLanguage="English" ', 1)
    assert validate_xml(ok, PAGE_XSD) == []


@SCHEMAS
def test_pagexml_missing_coords_rejected(page):
    import re

    mutated = re.sub(r"<Coords points=\"[^\"]*\"/>", "", page, count=1)
    _expect_invalid(mutated, PAGE_XSD, "content model")


@SCHEMAS
def test_pagexml_bad_points_rejected(page):
    import re

    # PointsType pattern: pairs of ints — "notpoints" must fail
    mutated = re.sub(r'(<Baseline points=)"[^"]*"', r'\1"notpoints"', page, count=1)
    _expect_invalid(mutated, PAGE_XSD)


# -------------------------------------------------------- driver surface


@SCHEMAS
def test_x_serialize_all_reports_xsd_valid():
    """The driver query's xsd_valid column: true for every ALTO/PageXML
    row, null for hOCR/ABBYY (no schema)."""
    from kraken_spark.operators.serialization import x_serialize_all
    from kraken_spark.session import get_spark

    spark = get_spark(app="tests-xsd", cores=4, shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    rows = x_serialize_all(spark, "sf0.001").collect()
    assert rows
    for r in rows:
        if r.fmt in ("alto", "pagexml", "alto_sections"):
            assert r.xsd_valid is True, (r.url, r.fmt)
        else:
            assert r.xsd_valid is None, (r.url, r.fmt)
    # the polygon-section variant emits real sub-line Shape geometry and
    # is strictly larger than the plain ALTO of the same page
    by_url: dict = {}
    for r in rows:
        by_url.setdefault(r.url, {})[r.fmt] = r
    for url, fmts in by_url.items():
        sec = fmts["alto_sections"].document
        assert "<Glyph" in sec and "<Shape>" in sec
        assert fmts["alto_sections"].n_bytes > fmts["alto"].n_bytes


# ------------------------------------------------------- subline toggle


@SCHEMAS
def test_pagexml_word_glyph_nesting_validates(row):
    """subline=True on record-derived lines emits the reference
    template's Word/Glyph nesting (templates/pagexml:26-42) and stays
    schema-valid; line-level TextEquiv still carries the full text."""
    from kraken_spark.kernels.serialize import row_with_polygon_sections

    rp = row_with_polygon_sections(row)
    pg = serialize(rp, "pagexml")
    assert "<Word id=\"segment_" in pg and "<Glyph id=\"char_" in pg
    assert validate_xml(pg, PAGE_XSD) == []
    # word text concatenation == line text (whitespace dropped by words)
    import re

    words = re.findall(r"<Word id=[^>]*>.*?</Word>", pg, re.S)
    assert words and all("<TextEquiv conf=" in w for w in words)


@SCHEMAS
def test_no_subline_segmentation_all_formats(row):
    """subline=False (the reference --no-subline-segmentation flag): line
    text only — no word/char geometry in any of the four markups; ALTO
    and PageXML stay schema-valid."""
    from kraken_spark.kernels.serialize import row_with_polygon_sections

    rp = row_with_polygon_sections(row)
    a = serialize(rp, "alto", subline=False)
    assert "segment_" not in a and "<Glyph" not in a and "<SP" not in a
    assert "<String CONTENT=" in a
    assert validate_xml(a, ALTO_XSD) == []
    p = serialize(rp, "pagexml", subline=False)
    assert "<Word" not in p and "<Glyph" not in p
    assert "<TextEquiv" in p
    assert validate_xml(p, PAGE_XSD) == []
    h = serialize(rp, "hocr", subline=False)
    # (the ocr-capabilities meta tag still names ocrx_word; no word SPANS)
    assert 'class="ocrx_word"' not in h and 'class="ocr_line"' in h
    ab = serialize(rp, "abbyyxml", subline=False)
    assert "charParams" not in ab and "<line baseline=" in ab
    # text is preserved through the ALTO/PageXML/hOCR text-only forms
    line_texts = [l["prediction"] for l in rp["lines"] if l.get("prediction")]
    assert line_texts
    for t in line_texts:
        from xml.sax.saxutils import escape

        assert escape(t) in p and escape(t) in h


def test_custom_serializer_hook_unaffected():
    """register_serializer hooks without a subline parameter keep their
    (row, created) contract through the dispatch."""
    from kraken_spark.kernels.serialize import (SERIALIZERS,
                                                register_serializer)

    def plain(row, created="x"):
        return f"plain:{row.get('url', '')}"

    register_serializer("_plain_test", plain)
    try:
        assert serialize({"url": "u1"}, "_plain_test",
                         subline=False) == "plain:u1"
    finally:
        SERIALIZERS.pop("_plain_test", None)
