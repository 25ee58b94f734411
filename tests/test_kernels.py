"""Kernel unit tests — mirror the reference's test strategy (SURVEY.md §5):
golden/e2e assertions on deterministic fixtures plus behavior tests for each
operator family (binarization, segmentation, reading order, codec, CTC,
BiDi, VGSL shapes, PNG round-trip)."""

import numpy as np
import pytest

from kraken_spark.kernels import binarize, lineextract, morph, pageseg, png, render
from kraken_spark.kernels.bidi import display_to_logical
from kraken_spark.kernels.codec import Codec, CodecError
from kraken_spark.kernels.ctc import greedy_decoder
from kraken_spark.kernels.glyphs import ALPHABET, glyph_ink, templates
from kraken_spark.kernels.order import is_in_region, reading_order, topsort
from kraken_spark.kernels.recognizer import build_recognizer, recognize_line, recognize_page
from kraken_spark.kernels.vgsl import VGSLModel

from conftest import requires_reference


# ---------------------------------------------------------------- png
def test_png_roundtrip_gray():
    rng = np.random.Generator(np.random.PCG64(7))
    img = rng.integers(0, 256, (37, 61), dtype=np.uint8)
    assert (png.decode_png(png.encode_png(img)) == img).all()


def test_png_roundtrip_rgb():
    rng = np.random.Generator(np.random.PCG64(8))
    img = rng.integers(0, 256, (16, 9, 3), dtype=np.uint8)
    out = png.decode_png(png.encode_png(img))
    assert out.shape == (16, 9, 3) and (out == img).all()


def test_png_rejects_garbage():
    with pytest.raises(ValueError):
        png.decode_png(b"not a png at all")


# ---------------------------------------------------------------- glyphs
def test_glyph_templates_distinct_and_cell_aligned():
    bank = templates()
    # all templates pairwise distinct => integer argmax margin >= 2
    flat = bank.reshape(bank.shape[0], -1)
    gram = flat @ flat.T
    self_score = flat.shape[1]
    assert (np.diag(gram) == self_score).all()
    off = gram - np.diag(np.diag(gram))
    assert off.max() <= self_score - 2
    # every glyph has the top/left registration bars => cell-aligned ink bbox
    for cp in ALPHABET:
        ink = glyph_ink(cp)
        assert ink[0].any() and ink[:, 0].any()
        assert ink.shape == (14, 14)


# ---------------------------------------------------------------- binarize
def test_nlbin_is_bitonal_and_exact_on_fixture():
    d = render.render_document(42, 0)
    mask = binarize.nlbin(d["img"])
    assert set(np.unique(mask)) <= {0, 1}
    assert (mask == d["ink"]).all()


def test_nlbin_bitonal_passthrough():
    img = np.full((64, 64), 255, np.uint8)
    img[10:20, 10:20] = 0
    mask = binarize.nlbin(img)
    assert (mask == (img < 128)).all()


def test_nlbin_rejects_empty():
    with pytest.raises(ValueError):
        binarize.nlbin(np.zeros((0, 0), np.uint8))


# ---------------------------------------------------------------- morph
def test_label_and_find_objects():
    m = np.zeros((10, 10), np.uint8)
    m[1:3, 1:3] = 1
    m[6:9, 5:10] = 1
    labels, n = morph.label(m)
    assert n == 2
    boxes = morph.find_objects(labels, n)
    assert (1, 1, 3, 3) in boxes and (6, 5, 9, 10) in boxes


def test_label_diagonal_not_connected():
    m = np.eye(5, dtype=np.uint8)
    _, n = morph.label(m)
    assert n == 5  # 4-connectivity


# ---------------------------------------------------------------- pageseg
def test_segment_empty_page():
    seg = pageseg.segment(np.zeros((100, 100), np.uint8))
    assert seg["lines"] == [] and not seg["guard_tripped"]


def test_segment_noise_guard():
    rng = np.random.Generator(np.random.PCG64(1))
    noise = (rng.random((400, 400)) < 0.3).astype(np.uint8)
    seg = pageseg.segment(noise)
    assert seg["guard_tripped"] and seg["lines"] == []


def test_segment_recovers_golden_lines():
    d = render.render_document(42, 1)  # 2-column page
    seg = pageseg.segment(d["ink"], url="u")
    assert len(seg["lines"]) == len(d["lines"])
    for got, want in zip(seg["lines"], d["lines"]):
        assert got["bbox"] == want["bbox"]
        assert got["baseline"] == want["baseline"]
    assert len(seg["regions"]) == d["ncols"]
    # deterministic ids, not uuids
    assert seg["lines"][0]["id"] == pageseg.det_id("u", "line", 0)


# ---------------------------------------------------------------- order
def test_reading_order_stacked():
    boxes = [(0, 40, 100, 50), (0, 0, 100, 10), (0, 20, 100, 30)]
    assert reading_order(boxes) == [1, 2, 0]


def test_reading_order_two_columns_with_separator():
    left = [(0, 0, 40, 10), (0, 20, 40, 30)]
    right = [(60, 0, 100, 10), (60, 20, 100, 30)]
    sep = [(45, 0, 55, 30)]
    got = reading_order(left + right, separators=sep)
    assert got == [0, 1, 2, 3]
    # like the reference (lib/segmentation.py:104-117), a separator suppresses
    # the cross-column edge: column precedence comes from emission order, so a
    # right-column-first input (how the segmenter emits rl pages) is preserved
    got_rl = reading_order(right + left, separators=sep, rl=True)
    assert got_rl == [0, 1, 2, 3]
    # without a separator, rl flips horizontal precedence outright
    assert reading_order([left[0], right[0]], rl=True) == [1, 0]


def test_topsort_handles_total_order():
    order = np.triu(np.ones((4, 4), np.uint8), 1)
    assert topsort(order) == [0, 1, 2, 3]


def test_is_in_region():
    sq = [[0, 0], [10, 0], [10, 10], [0, 10]]
    assert is_in_region((5, 5), sq)
    assert not is_in_region((15, 5), sq)


# ---------------------------------------------------------------- codec/ctc
def test_codec_prefix_free_validation():
    with pytest.raises(CodecError):
        Codec({"a": [1], "b": [1, 2]})


def test_codec_encode_decode_multilabel():
    c = Codec({"a": [1], "ch": [2, 3], "x": [4]})
    assert c.encode("achx") == [1, 2, 3, 4]
    decoded = c.decode([(1, 0, 0, 0.9), (2, 1, 1, 0.8), (3, 2, 2, 0.6), (4, 3, 3, 1.0)])
    # per-code-point emission (reference codec.py:148-195): 'ch' yields two
    # tuples sharing the whole match's extent and mean confidence
    assert [d[0] for d in decoded] == ["a", "c", "h", "x"]
    for d in decoded[1:3]:
        assert d[1] == 1 and d[2] == 2 and abs(d[3] - 0.7) < 1e-6


def test_codec_merge():
    # reference merge semantics (codec.py:197-240): transform a TOWARDS b —
    # 'a' is dropped (label 1 returned), surviving labels compact down,
    # b-only graphemes get fresh labels
    a = Codec("abc")
    b = Codec("bcd")
    merged, removed = a.merge(b)
    assert set(merged.c2l) == {"b", "c", "d"}
    assert removed == {1}
    assert merged.c2l == {"b": [1], "c": [2], "d": [3]}


def test_ctc_greedy_collapses_and_drops_blanks():
    probs = np.array(
        [[0.1, 0.9, 0.0], [0.1, 0.8, 0.1], [0.9, 0.05, 0.05], [0.1, 0.1, 0.8]]
    )
    out = greedy_decoder(probs)
    assert [(o[0], o[1], o[2]) for o in out] == [(1, 0, 1), (2, 3, 3)]
    assert abs(out[0][3] - 0.9) < 1e-9


# ---------------------------------------------------------------- bidi
def test_bidi_pure_rtl_reverses():
    visual = "با"  # displayed left-to-right glyph order
    logical, perm = display_to_logical(visual, "R")
    assert logical == visual[::-1] and perm == [1, 0]


def test_bidi_ltr_unchanged():
    logical, perm = display_to_logical("abc", "L")
    assert logical == "abc" and perm == [0, 1, 2]


def test_bidi_rtl_with_spaces():
    visual = "با جح"
    logical, _ = display_to_logical(visual, "R")
    assert logical == visual[::-1]


def test_bidi_full_uax9_vectors():
    """Full UAX#9 coverage (reference lib/bidi/__init__.py:48-505):
    embedded numbers, paired brackets (N0), isolates, explicit overrides,
    mirroring (L4) and formatting-character removal (X9)."""
    from kraken_spark.kernels.bidi import auto_base_dir, get_display

    # numbers keep LTR order inside an RTL paragraph (W rules + I2)
    assert get_display("אב 123 גד")[0] == "דג 123 בא"
    # N0: brackets around same-direction content take the embedding dir
    # and mirror on odd levels (L4)
    assert get_display("א (בג) ד")[0] == "ד (גב) א"
    # N0: brackets around opposite-direction content with LTR context stay L
    assert get_display("אב (cd) ג")[0] == "ג (cd) בא"
    # mixed Latin run inside RTL
    assert get_display("אב abc גד")[0] == "דג abc בא"
    # isolates are honored and removed from the display output
    assert get_display("a⁦b⁩c")[0] == "abc"
    # RLO override forces RTL over Latin; PDF terminates it (X2-X8)
    assert get_display("a‮bcd‬f")[0] == "adcbf"
    # P2/P3 auto base-direction from first strong character
    assert auto_base_dir("א mixed") == "R"
    assert auto_base_dir("mixed א") == "L"
    # AN after AL (W2): Arabic digits group right-to-left context
    disp, order = get_display("ا12")
    assert set(disp) == set("ا12") and len(order) == 3


def test_bidi_bracket_number_rtl_line():
    """The cases the earlier subset mis-ordered: parenthesized Latin +
    numbers inside an RTL line round-trip through display_to_logical."""
    from kraken_spark.kernels.bidi import display_to_logical, get_display

    logical = "שלום (abc 12) סוף"
    disp, order = get_display(logical)
    assert sorted(order) == list(range(len(logical)))
    # display must keep 'abc 12' contiguous LTR
    assert "abc 12" in disp
    back, _ = display_to_logical(disp, "R")
    assert sorted(back) == sorted(logical)


# ---------------------------------------------------------------- vgsl
def test_vgsl_parse_and_shapes():
    m = VGSLModel("[1,16,0,1 Cr3,3,8 Mp2,2 Lbx10 O1c5]").init_random(0)
    out = m.forward(np.zeros((1, 16, 64), np.float32))
    assert out.shape[1] == 5
    assert np.allclose(out.sum(axis=1), 1.0, atol=1e-5)  # softmax rows


def test_vgsl_rnn_grammar_variants():
    x = np.zeros((1, 8, 20), np.float32)
    # GRU bidi over width: channels double, spatial dims preserved
    m = VGSLModel("[1,8,0,1 Cr3,3,4 Gbx6]").init_random(0)
    out = m.forward(x)  # (T, C) flatten of (12, 8, 20)
    assert out.shape == (20, 12 * 8)
    # summarizing reverse LSTM over height: H collapses to 1
    m = VGSLModel("[1,8,0,1 Lrys7]").init_random(0)
    out = m.forward(x)
    assert out.shape == (20, 7)
    # summarizing forward LSTM over width: W collapses to 1
    m = VGSLModel("[1,8,0,1 Lfxs5]").init_random(0)
    out = m.forward(x)
    assert out.shape == (1, 5 * 8)
    # reversed == forward on a reversed sequence (weight-equality check)
    mf = VGSLModel("[1,1,0,1 Lfx3]").init_random(3)
    mr = VGSLModel("[1,1,0,1 Lrx3]", weights=dict(mf.weights))
    seq = np.arange(10, dtype=np.float32).reshape(1, 1, 10)
    assert np.allclose(mf.forward(seq[:, :, ::-1].copy())[::-1], mr.forward(seq), atol=1e-6)


def test_vgsl_parallel_residual_blocks():
    # residual: identity + conv series, outputs summed (Addition layer)
    m = VGSLModel("[1,8,0,1 Cr3,3,4 (I [Cr3,3,4 Cr3,3,4]) O1c5]").init_random(0)
    out = m.forward(np.zeros((1, 8, 24), np.float32))
    assert out.shape == (24, 5)
    # (I I) doubles the input: verifies the sum semantics
    m1 = VGSLModel("[1,8,0,1 Cr3,3,4 (I I)]").init_random(0)
    m2 = VGSLModel("[1,8,0,1 Cr3,3,4]", weights=dict(m1.weights))
    x = np.ones((1, 8, 16), np.float32)
    assert np.allclose(m1.forward(x), 2 * m2.forward(x))
    # branches must agree on output shape
    with pytest.raises(ValueError):
        VGSLModel("[1,8,0,1 (Cr3,3,4 Cr3,3,8)]").init_random(0)
    with pytest.raises(ValueError):
        VGSLModel("[1,8,0,1 (Cr3,3,4 Cr3,3,4]")  # unbalanced


def test_vgsl_serialization_roundtrip():
    m = VGSLModel("[1,16,0,1 Cr3,3,4 O1c3]").init_random(1)
    m2 = VGSLModel.from_bytes(m.to_bytes())
    x = np.ones((1, 16, 32), np.float32)
    assert np.allclose(m.forward(x), m2.forward(x))
    assert m2.spec == m.spec


def test_vgsl_rejects_bad_spec():
    with pytest.raises(ValueError):
        VGSLModel("[1,16,0,1 Zz3]")
    with pytest.raises(ValueError):
        VGSLModel("no brackets")


# ---------------------------------------------------------------- recognizer
def test_recognize_line_golden():
    model = build_recognizer()
    codec = Codec(model.codec)
    d = render.render_document(42, 3)
    seg = pageseg.segment(d["ink"], url="u")
    line = seg["lines"][0]
    strip, _ = lineextract.extract_line(d["ink"], line)
    rec = recognize_line(model, codec, strip)
    want = d["lines"][0]["text"]
    assert rec["prediction"] == want
    assert len(rec["cuts"]) == len(want) == len(rec["confidences"])


def test_recognize_empty_strip_is_empty_record():
    model = build_recognizer()
    codec = Codec(model.codec)
    rec = recognize_line(model, codec, np.zeros((0, 0), np.uint8))
    assert rec["prediction"] == "" and rec["cuts"] == []


def test_recognize_page_matches_per_line():
    model = build_recognizer()
    codec = Codec(model.codec)
    d = render.render_document(42, 2)  # RTL page
    seg = pageseg.segment(d["ink"], url="u", text_direction="horizontal-rl")
    strips = [lineextract.extract_line(d["ink"], l)[0] for l in seg["lines"]]
    batched = recognize_page(model, codec, strips, base_dir="R")
    for s, b in zip(strips, batched):
        assert recognize_line(model, codec, s, base_dir="R")["prediction"] == b["prediction"]
    assert "\n".join(r["prediction"] for r in batched) == d["text"]


def test_rtl_bidi_on_off_differ():
    # the reference asserts bidi on/off produce different output for RTL
    # (tests/test_tasks.py:254-264)
    model = build_recognizer()
    codec = Codec(model.codec)
    d = render.render_document(42, 2)
    seg = pageseg.segment(d["ink"], url="u", text_direction="horizontal-rl")
    strip, _ = lineextract.extract_line(d["ink"], seg["lines"][0])
    on = recognize_line(model, codec, strip, base_dir="R", bidi_reordering=True)
    off = recognize_line(model, codec, strip, base_dir="R", bidi_reordering=False)
    assert on["prediction"] == off["prediction"][::-1]
    assert on["prediction"] != off["prediction"]


# ---------------------------------------------------------------- e2e golden
@pytest.mark.parametrize("doc_idx", range(6))
def test_end_to_end_byte_identical(doc_idx):
    """Full chain from PNG bytes to text — byte-identical to ground truth
    (the BASELINE.json invariant)."""
    model = build_recognizer()
    codec = Codec(model.codec)
    d = render.render_document(42, doc_idx)
    img = png.decode_png(png.encode_png(d["img"]))
    mask = binarize.nlbin(img)
    td = "horizontal-rl" if d["base_dir"] == "R" else "horizontal-lr"
    seg = pageseg.segment(mask, url=f"u{doc_idx}", text_direction=td)
    strips = [lineextract.extract_line(mask, l)[0] for l in seg["lines"]]
    recs = recognize_page(model, codec, strips, base_dir=d["base_dir"])
    assert "\n".join(r["prediction"] for r in recs) == d["text"]


def test_propagate_and_spread_labels():
    from kraken_spark.kernels.morph import propagate_labels, select_regions, spread_labels

    mask = np.zeros((6, 10), np.uint8)
    mask[1:3, 1:4] = 1   # component A
    mask[4:6, 6:9] = 1   # component B
    seeds = np.zeros_like(mask, dtype=np.int32)
    seeds[1, 1] = 5      # one seed in A
    seeds[4, 6] = 7      # one seed in B
    out = propagate_labels(mask, seeds)
    assert set(out[mask.astype(bool)].tolist()) == {5, 7}
    # conflicting seeds in one component -> 0
    seeds[2, 3] = 9
    out = propagate_labels(mask, seeds)
    assert set(out[1:3, 1:4].ravel().tolist()) == {0}
    # spread: every pixel inherits nearest label
    lab = np.zeros((4, 8), np.int32)
    lab[0, 0] = 1
    lab[3, 7] = 2
    sp = spread_labels(lab)
    assert sp[0, 1] == 1 and sp[3, 6] == 2 and (sp != 0).all()
    assert (spread_labels(lab, maxdist=1) == 0).sum() > 0
    # select_regions: keep the taller component only
    sel = select_regions(mask, score=lambda b: b[2] - b[0], min_score=0, nbest=1)
    assert sel.sum() in (mask[1:3].sum(), mask[4:6].sum())


def test_cer_case_insensitive():
    from kraken_spark.kernels.metrics import cer, cer_case_insensitive

    assert cer("Hello", "hello") > 0.0
    assert cer_case_insensitive("Hello", "hello") == 0.0
    assert cer_case_insensitive("abc", "abd") == cer("abc", "abd")


def test_seamcarve_polygonal_environment():
    """Seam semantics (reference _calc_seam, lib/segmentation.py:560-635):
    a mid-gap noise blob is excluded from BOTH neighbors; ink adjacent to a
    line's band edge joins that line (the distance bias hugs the line, so
    diacritic-like ink is claimed); own ink is always fully covered."""
    import numpy as np

    from kraken_spark.kernels.lineextract import polygon_mask
    from kraken_spark.kernels.seamcarve import polygonal_environment

    ink = np.zeros((60, 200), np.uint8)
    ink[10:20, 10:190] = 1  # line A
    ink[40:50, 10:190] = 1  # line B
    ink[28:33, 60:64] = 1   # mid-gap noise blob
    ink[36:40, 120:124] = 1  # ink adjacent to B's top (diacritic-like)
    lines = [
        {"bbox": [10, 10, 190, 20], "baseline": [[10, 19], [189, 19]]},
        {"bbox": [10, 40, 190, 50], "baseline": [[10, 49], [189, 49]]},
    ]
    pa, pb = polygonal_environment(ink, lines)
    ma = polygon_mask(pa, 60, 200)
    mb = polygon_mask(pb, 60, 200)
    assert ma[10:20, 10:190].all() and mb[40:50, 10:190].all()
    assert not ma[28:33, 60:64].any() and not mb[28:33, 60:64].any()
    assert mb[36:40, 120:124].all()  # adjacent ink claimed by B
    assert not ma[36:40, 120:124].any()


def test_seam_extraction_byte_identical():
    """blla + seam boundaries: polygon-masked extraction stays exact."""
    from kraken_spark.kernels import binarize, blla, lineextract, png, render
    from kraken_spark.kernels.codec import Codec
    from kraken_spark.kernels.recognizer import build_recognizer, recognize_page

    model = build_recognizer()
    codec = Codec(model.codec)
    for i in (0, 1, 2):  # en 1-col, 2-col, ar RTL
        d = render.render_document(321, i)
        mask = binarize.nlbin(png.to_grayscale(d["img"]))
        rtl = d["lang"] == "ar"
        seg = blla.segment_blla(
            mask, url="u",
            text_direction="horizontal-rl" if rtl else "horizontal-lr",
            boundary_mode="seam",
        )
        strips = [lineextract.extract_line(mask, l)[0] for l in seg["lines"]]
        recs = recognize_page(model, codec, strips, base_dir="R" if rtl else "L")
        assert "\n".join(r["prediction"] for r in recs) == d["text"], (i, d["lang"])


@requires_reference("bw.png")
def test_segment_real_scan_bw_png():
    """The reference's real scanned test page (bw.png, ~30 lines) must
    pass the admission guard and segment to the reference's expected line
    count band (test_pageseg.py:28-40: 30 +/- 5), with every box inside
    the page."""
    from pathlib import Path

    from kraken_spark.kernels import binarize, png
    from kraken_spark.refassets import resource

    res = Path(resource("bw.png"))

    img = png.decode_png(res.read_bytes())
    mask = binarize.nlbin(img)
    seg = pageseg.segment(mask, url="bw.png")
    assert not seg["guard_tripped"]
    assert abs(len(seg["lines"]) - 30) <= 5
    h, w = img.shape
    for l in seg["lines"]:
        x0, y0, x1, y1 = l["bbox"]
        assert 0 <= x0 < x1 <= w and 0 <= y0 < y1 <= h


def test_fast_component_count_matches_label():
    """Run-union-find component count equals full labeling on random and
    structured masks."""
    from kraken_spark.kernels import morph

    rng = np.random.Generator(np.random.PCG64(5))
    for density in (0.05, 0.3, 0.6):
        m = (rng.random((120, 90)) < density).astype(np.uint8)
        assert morph.fast_component_count(m) == morph.label(m)[1]
        assert morph.fast_component_count(1 - m) == morph.label((1 - m).astype(np.uint8))[1]
    assert morph.fast_component_count(np.zeros((5, 5), np.uint8)) == 0
    assert morph.fast_component_count(np.ones((5, 5), np.uint8)) == 1


# ------------------------------------------------- vgsl surgery (reference
# test_vgsl.py:43-95 expectations, adapted to the engine's unnamed specs)
def test_vgsl_append():
    m = VGSLModel("[1,48,0,1 Lbx10 Do O1c57]").init_random()
    m.append(1, "[Cr1,1,2 Gn2 Cr3,3,4]")
    assert m.spec == "[1,48,0,1 Lbx10 Cr1,1,2 Gn2 Cr3,3,4]"
    # the retained LSTM kept its trained weights, new layers initialized
    assert "lstm0.wih_f" in m.weights or any(
        k.startswith("lstm0") for k in m.weights)


def test_vgsl_resize_output():
    m = VGSLModel("[1,48,0,1 Lbx10 Do O1c57]").init_random()
    name = m.layers[-1]["name"]
    w_before = m.weights[name + ".w"].copy()
    m.resize_output(80)
    assert m.layers[-1]["classes"] == 80
    assert m.weights[name + ".w"].shape[0] == 80
    assert m.spec.endswith("O1c80]")
    # original 57 rows preserved verbatim
    assert np.array_equal(m.weights[name + ".w"][:57], w_before)
    out = m.forward(np.zeros((48, 30), np.float32))
    assert out.shape[1] == 80


def test_vgsl_resize_output_with_deletion():
    m = VGSLModel("[1,48,0,1 Lbx10 Do O1c57]").init_random()
    name = m.layers[-1]["name"]
    w_before = m.weights[name + ".w"].copy()
    dels = [2, 4, 5, 6, 7, 12, 25]
    m.resize_output(80, dels)
    assert m.weights[name + ".w"].shape[0] == 80
    survivors = [i for i in range(57) if i not in dels]
    assert np.array_equal(m.weights[name + ".w"][: len(survivors)],
                          w_before[survivors])
    # appended rows have zero bias
    assert (m.weights[name + ".b"][len(survivors):] == 0).all()


def test_vgsl_nested_serial_and_parallel_inequal():
    # nested serial inside parallel builds and forwards
    m = VGSLModel(
        "[1,48,0,1 ([Cr3,3,2 Do Cr3,3,2] [Cr3,3,2 Cr3,3,2 Do]) "
        "Lbx2 O1c5]").init_random()
    out = m.forward(np.zeros((48, 64), np.float32))
    assert out.shape[1] == 5
    # parallel branches with unequal output shapes raise
    with pytest.raises(ValueError):
        VGSLModel("[1,48,0,1 (Cr3,3,2 Cr3,3,4) Lbx2]").init_random()


def test_png_web_variants_decode():
    """Web-PNG surface beyond the engine's own writer: palette (+tRNS
    alpha onto white), RGBA / gray-alpha composites, 16-bit high-byte
    truncation, sub-byte grayscale — hand-built chunk fixtures with
    independently computed expectations."""
    import struct
    import zlib

    from kraken_spark.kernels.png import decode_png

    def chunk(tag, payload):
        c = struct.pack(">I", len(payload)) + tag + payload
        return c + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)

    sig = b"\x89PNG\r\n\x1a\n"

    def mk(w, h, depth, ctype, rows, extra=b""):
        ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, 0)
        raw = b"".join(b"\x00" + r for r in rows)
        return (
            sig + chunk(b"IHDR", ihdr) + extra
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
        )

    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])
    img = decode_png(
        mk(3, 2, 8, 3, [bytes([0, 1, 2]), bytes([2, 1, 0])],
           chunk(b"PLTE", plte) + chunk(b"tRNS", bytes([255, 128, 0])))
    )
    assert img.shape == (2, 3, 3)
    assert img[0].tolist() == [[255, 0, 0], [127, 255, 127], [255, 255, 255]]
    img = decode_png(mk(2, 1, 8, 6, [bytes([10, 20, 30, 255, 100, 150, 200, 0])]))
    assert img[0].tolist() == [[10, 20, 30], [255, 255, 255]]
    assert decode_png(mk(2, 1, 8, 4, [bytes([50, 255, 80, 0])])).tolist() == [[50, 255]]
    assert decode_png(
        mk(3, 1, 16, 0, [struct.pack(">HHH", 0x1234, 0xFF00, 0x0001)])
    ).tolist() == [[18, 255, 0]]
    assert decode_png(mk(3, 1, 1, 0, [bytes([0b10100000])])).tolist() == [[255, 0, 255]]
    with pytest.raises(ValueError):  # interlaced stays unsupported
        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 1)
        decode_png(sig + chunk(b"IHDR", ihdr) + chunk(b"IEND", b""))
    with pytest.raises(ValueError):  # palette image missing its PLTE
        decode_png(mk(1, 1, 8, 3, [bytes([0])]))
