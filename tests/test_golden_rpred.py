"""Golden-prediction parity with the reference's REAL trained models.

Loads /root/reference/tests/resources/overfit.mlmodel (CoreML protobuf,
parsed pure-numpy) and reproduces the exact prediction strings of the
reference's own tests (tests/test_rpred.py:352-366) on 000236.png —
converting every constructed-weight CER claim into trained-weight parity.

NB the reference tests call rpred(model, im, seg, True): the positional
True lands on ``pad`` (rpred.py:344-348), so the goldens use pad=1.
"""

from __future__ import annotations

import numpy as np
import pytest

from kraken_spark.kernels import png
from kraken_spark.kernels.modelio import load_kraken_model, read_safetensors
from kraken_spark.kernels.rpred_parity import LoadedRecognizer
from kraken_spark.refassets import resources_dir

from conftest import requires_reference

RES = resources_dir()
OVERFIT = requires_reference("overfit.mlmodel", "000236.png")

GOLDEN_BBOX = "ܡ ܘܡ ܗ ܡܕܐ ܐ ܐܐ ܡ ܗܗܐܐܐܕ"
GOLDEN_BL = ".ܗ ܣܗܐ  ܕ ܣ   ܗ ܕܗܗ ܟܕܗܣ    ܠ  ܐ .ܣܕܐܣ. ܗ "


@pytest.fixture(scope="module")
def overfit():
    return LoadedRecognizer(load_kraken_model(f"{RES}/overfit.mlmodel")[0])


@pytest.fixture(scope="module")
def line_img():
    return png.decode_png(open(f"{RES}/000236.png", "rb").read())


@OVERFIT
def test_simple_bbox_rpred_golden(overfit, line_img):
    """reference tests/test_rpred.py:352-358 (test_simple_bbox_rpred)."""
    r = overfit.recognize_bbox(line_img, [0, 0, 2544, 156], pad=1)
    assert r["prediction"] == GOLDEN_BBOX


@OVERFIT
def test_simple_bl_rpred_golden(overfit, line_img):
    """reference tests/test_rpred.py:360-366 (test_simple_bl_rpred) —
    exercises the LEGACY polygon extractor (the model predates the
    legacy_polygons flag, so rpred chooses it, rpred.py:332-341) and the
    PIL-exact fixed-point Lanczos resize."""
    assert overfit.bundle.legacy_polygons
    r = overfit.recognize_baseline(
        line_img,
        [[0, 10], [2543, 10]],
        [[0, 0], [2543, 0], [2543, 155], [0, 155]],
        pad=1,
    )
    assert r["prediction"] == GOLDEN_BL


@OVERFIT
def test_rpred_outbounds_empty(overfit, line_img):
    """Invalid bbox/baseline coordinates emit empty records
    (test_rpred_bbox_outbounds / test_rpred_bl_outbounds)."""
    r = overfit.recognize_bbox(line_img, [-1, -1, 10000, 10000], pad=1)
    assert r["prediction"] == ""
    r = overfit.recognize_baseline(
        line_img,
        [[0, 0], [10000, 0]],
        [[-1, -1], [-1, 10000], [10000, 10000], [10000, -1]],
        pad=1,
    )
    assert r["prediction"] == ""


@OVERFIT
def test_legacy_flag_dispatch(overfit, line_img):
    """legacy vs new polygon extraction are both selectable and — for a
    non-rectangular boundary, where pixels outside the polygon exist in the
    bbox crop — produce DIFFERENT line images (legacy fills black,
    segmentation.py:1485; the new path composites the background,
    :1612-1628) and different predictions, the behavioral split
    tests/test_newpolygons.py guards in the reference."""
    poly = [[300, 75], [500, 25], [2200, 25], [2400, 75], [2200, 130], [500, 130]]
    args = (line_img, [[300, 80], [2400, 80]], poly)
    r_legacy = overfit.recognize_baseline(*args, pad=16, legacy=True)
    r_new = overfit.recognize_baseline(*args, pad=16, legacy=False)
    assert r_legacy["prediction"]
    assert r_new["prediction"]
    assert r_legacy["prediction"] != r_new["prediction"]
    # model-metadata dispatch (rpred.py:332-341): old model -> legacy True
    assert overfit.bundle.legacy_polygons is True


@requires_reference("overfit_bl.safetensors", "000236.png")
def test_safetensors_model_prediction_stable(line_img):
    """Pinned outputs for the safetensors-loaded models (our own stability
    goldens — the reference pins only the mlmodel strings): a silent change
    in the loader, interpreter, or Lanczos path breaks these."""
    rec = LoadedRecognizer(load_kraken_model(f"{RES}/overfit_bl.safetensors")[0])
    r = rec.recognize_baseline(
        line_img, [[0, 10], [2543, 10]], [[0, 0], [2543, 0], [2543, 155], [0, 155]], pad=16
    )
    assert r["prediction"] == (
        "$ga P939g$g93g3m$ g3cl9c$3$i:P9 9ix;$Ym9 a3r3M$Yr9r 9$YrYlg9nP9rl"
        "$Y3 cr93c9l9c$y9mf9P9gR$C9M:3m$"
    )


MODEL_ASSETS = {
    "overfit.mlmodel": (15, 10, True),
    "overfit_newpoly.mlmodel": (44, 10, False),
    "overfit_bl.safetensors": (35, 12, True),
    "overfit_bl_newpoly.safetensors": (35, 12, False),
    "model_small.safetensors": (3, 4, False),
    "model_small_fp16.safetensors": (3, 4, False),
    "model_small_mixed.safetensors": (3, 4, False),
}


@requires_reference(*MODEL_ASSETS)
def test_all_reference_model_assets_load():
    """Every non-LFS-stub model file in the reference parses: correct
    VGSL/codec/weight shapes through both container formats."""
    for name, (n_codec, n_weights, legacy) in MODEL_ASSETS.items():
        m = load_kraken_model(f"{RES}/{name}")[0]
        assert len(m.codec) == n_codec, name
        assert len(m.weights) == n_weights, name
        assert m.legacy_polygons == legacy, name
        assert m.vgsl.startswith("[1,")


@requires_reference("model_small.safetensors", "model_small_fp16.safetensors")
def test_safetensors_fp16_close_to_fp32():
    t32, _ = read_safetensors(f"{RES}/model_small.safetensors")
    t16, _ = read_safetensors(f"{RES}/model_small_fp16.safetensors")
    k32 = {k.split(".", 1)[1]: v for k, v in t32.items()}
    k16 = {k.split(".", 1)[1]: v for k, v in t16.items()}
    assert set(k32) == set(k16)
    for k in k32:
        assert np.allclose(k32[k], k16[k], atol=1e-2), k


@requires_reference("overfit_bl.safetensors", "000236.png")
def test_loaded_safetensors_model_forward():
    """The baseline-trained safetensors model runs through the torch-exact
    interpreter and emits per-frame distributions of its codec size."""
    rec = LoadedRecognizer(load_kraken_model(f"{RES}/overfit_bl.safetensors")[0])
    img = png.decode_png(open(f"{RES}/000236.png", "rb").read())
    r = rec.recognize_baseline(
        img, [[0, 10], [2543, 10]], [[0, 0], [2543, 0], [2543, 155], [0, 155]], pad=16
    )
    assert isinstance(r["prediction"], str)


@OVERFIT
def test_pipeline_with_loaded_kraken_model():
    """plan_extraction(kraken_model_path=...) runs the distributed pipeline
    with a REAL reference model: segmentation from the engine, recognition
    through the rpred-parity path, predictions drawn from the model's own
    codec — a reference user can point the job at their trained model."""
    pytest.importorskip("pyspark")
    from kraken_spark.pipeline import plan_extraction
    from kraken_spark.session import get_spark

    spark = get_spark(app="tests-loaded", cores=2, shuffle_partitions=2)
    spark.sparkContext.setLogLevel("ERROR")
    png_bytes = open(f"{RES}/000236.png", "rb").read()
    docs = spark.createDataFrame(
        [("u://overfit-line", png_bytes, None, "en")],
        "url string, html binary, text string, lang string",
    )
    ext = plan_extraction(
        docs, num_partitions=2, kraken_model_path=f"{RES}/overfit.mlmodel"
    )
    rows = ext.collect()
    assert len(rows) == 1 and not rows[0].guard_tripped
    assert rows[0].n_lines >= 1
    bundle = load_kraken_model(f"{RES}/overfit.mlmodel")[0]
    charset = set("".join(bundle.codec.keys()))
    pred = rows[0].text
    assert pred.strip(), "loaded-model recognition produced no text"
    assert set(pred) - {"\n"} <= charset, f"prediction outside model codec: {set(pred) - charset}"
    # cuts are pixel x-spans within the line bbox
    line = rows[0].lines[0]
    if line.cuts:
        assert all(c[0] <= c[1] for c in line.cuts)


def test_curved_mesh_warp_straightens():
    """The bevelled-envelope quad mesh warp (the reference's non-legacy
    curved branch, segmentation.py:1573-1628) must flatten a known
    sinusoidal column displacement to ~quantization residual when given a
    fine baseline polyline."""
    import numpy as np

    from kraken_spark.kernels.rpred_parity import curved_line_dewarp

    H, W, amp, period = 40, 600, 6, 200
    straight = np.zeros((H, W), dtype=np.uint8)
    straight[20:24, :] = 255
    for x in range(10, W, 30):
        straight[12:20, x : x + 3] = 255
    shift = np.round(amp * np.sin(2 * np.pi * np.arange(W) / period)).astype(int)
    curved = np.zeros((H + 2 * amp, W), dtype=np.uint8)
    for x in range(W):
        curved[amp + shift[x] : amp + shift[x] + H, x] = straight[:, x]
    xs = np.arange(0, W, 8)
    bl = np.stack([xs, amp + shift[xs] + 23], axis=1).astype(float)
    poly = np.array(
        [[0, 0], [W - 1, 0], [W - 1, curved.shape[0] - 1], [0, curved.shape[0] - 1]],
        dtype=float,
    )
    strip = curved_line_dewarp(curved, bl, poly, order=0, cval=0)
    rows = []
    for x in range(5, W - 5, 20):
        col = np.nonzero(strip[:, x] > 127)[0]
        if len(col):
            rows.append(int(col.max()))
    assert rows, "warp produced an empty strip"
    assert max(rows) - min(rows) <= 3, f"residual curvature too large: {rows}"


def test_torchvgsl_lstm_cross_check():
    """Both interpreters run the one LSTM kernel (kernels/layers.lstm,
    checked against a textbook oracle below), so this pins their LAYOUT
    mapping: torchvgsl's TransposedSummarizingRNN (NCHW scanlines,
    ``weight_*_l0[_reverse]`` names, two biases) and VGSLModel's (C,H,W)
    rows with ``fwd``/``bwd`` weights and one bias must put the same
    sequence values at the same positions for a width-direction bidi
    layer."""
    import numpy as np

    from kraken_spark.kernels.torchvgsl import TorchVGSL
    from kraken_spark.kernels.vgsl import VGSLModel

    rng = np.random.default_rng(7)
    C, H, W, HID = 3, 1, 11, 4
    x = rng.standard_normal((C, H, W)).astype(np.float32)

    def mk(shape):
        return rng.standard_normal(shape).astype(np.float32) * 0.3

    wih_f, whh_f = mk((4 * HID, C)), mk((4 * HID, HID))
    wih_b, whh_b = mk((4 * HID, C)), mk((4 * HID, HID))
    b_f, b_b = mk(4 * HID), mk(4 * HID)

    tnet = TorchVGSL(f"[1,{H},0,{C} Lbx{HID}]", {
        "L_0.layer.weight_ih_l0": wih_f,
        "L_0.layer.weight_hh_l0": whh_f,
        "L_0.layer.bias_ih_l0": b_f,
        "L_0.layer.bias_hh_l0": np.zeros(4 * HID, np.float32),
        "L_0.layer.weight_ih_l0_reverse": wih_b,
        "L_0.layer.weight_hh_l0_reverse": whh_b,
        "L_0.layer.bias_ih_l0_reverse": b_b,
        "L_0.layer.bias_hh_l0_reverse": np.zeros(4 * HID, np.float32),
    })
    t_out = tnet._forward_layer(x[None], tnet.layers[0])  # (1, 2H, 1, W)

    vnet = VGSLModel(f"[1,{H},0,{C} Lbx{HID}]", weights={
        "lstm0.fwd.wih": wih_f, "lstm0.fwd.whh": whh_f, "lstm0.fwd.b": b_f,
        "lstm0.bwd.wih": wih_b, "lstm0.bwd.whh": whh_b, "lstm0.bwd.b": b_b,
    })
    v_out = vnet._forward_layer(x, vnet.layers[0])  # (2H, 1, W)

    assert t_out.shape == (1, 2 * HID, H, W)
    assert np.allclose(t_out[0], v_out, atol=1e-5), np.abs(t_out[0] - v_out).max()


def _lstm_oracle(seq, wih, whh, bih, bhh, reverse=False):
    """Textbook torch nn.LSTM, one direction, in float64, one timestep at
    a time: gates = W_ih x_t + b_ih + W_hh h_{t-1} + b_hh, split i,f,g,o."""
    import numpy as np

    def sig(v):
        return 1.0 / (1.0 + np.exp(-v))

    wih, whh, bih, bhh = (np.asarray(a, np.float64) for a in (wih, whh, bih, bhh))
    hid = whh.shape[1]
    h, c = np.zeros(hid), np.zeros(hid)
    out = np.zeros((len(seq), hid))
    steps = range(len(seq) - 1, -1, -1) if reverse else range(len(seq))
    for t in steps:
        i, f, g, o = np.split(wih @ np.asarray(seq[t], np.float64) + bih
                              + whh @ h + bhh, 4)
        c = sig(f) * c + sig(i) * np.tanh(g)
        h = sig(o) * np.tanh(c)
        out[t] = h
    return out


@pytest.mark.parametrize("reverse", [False, True])
def test_lstm_kernel_matches_textbook_oracle(reverse):
    """layers.lstm against the float64 oracle: one sequence per call and
    packed mixed lengths (incl. 1 and 0) in one call; padded steps stay
    zero."""
    import numpy as np

    from kraken_spark.kernels.layers import lstm

    rng = np.random.default_rng(11)
    F, HID = 6, 5

    def mk(*shape):
        return (rng.standard_normal(shape) * 0.5).astype(np.float32)

    wih, whh, bih, bhh = mk(4 * HID, F), mk(4 * HID, HID), mk(4 * HID), mk(4 * HID)
    lengths = np.array([7, 1, 0, 12, 5, 12])
    seqs = np.zeros((len(lengths), 12, F), np.float32)
    for n, ln in enumerate(lengths):
        seqs[n, :ln] = mk(ln, F)
    packed = lstm(seqs, lengths, wih, whh, bih, bhh, reverse=reverse)
    assert packed.shape == (len(lengths), 12, HID) and packed.dtype == np.float32
    for n, ln in enumerate(lengths):
        want = _lstm_oracle(seqs[n, :ln], wih, whh, bih, bhh, reverse=reverse)
        assert np.allclose(packed[n, :ln], want, atol=1e-5, rtol=0)
        assert not packed[n, ln:].any()
        single = lstm(seqs[n : n + 1, :ln], [ln], wih, whh, bih, bhh, reverse=reverse)
        assert np.allclose(single[0], want, atol=1e-5, rtol=0)


@requires_reference("model_small.safetensors")
def test_model_small_forward_shape():
    m = load_kraken_model(f"{RES}/model_small.safetensors")[0]
    from kraken_spark.kernels.torchvgsl import TorchVGSL

    net = TorchVGSL(m.vgsl, m.weights)
    # height 4 collapses to 1 through the stride-4 conv (the asset is a
    # loader fixture, not a height-48 recognizer)
    probs = net.forward(np.random.default_rng(0).random((4, 200), dtype=np.float32))
    assert probs.shape[1] == 4
    assert np.allclose(probs.sum(axis=1), 1.0, atol=1e-5)


# -- mm_rpred tag dispatch with trained weights (test_rpred.py:368-468) ------

GOLDEN_BL_NOBIDI = "ܕܗ .ܣܐܗܗ.ܐ ܗܣ ܕ   ܗܣ ܗ.ܗܝܣܗ ܣ ܗܢ ܪܗܗܕ ܐ   ܗܠ"
GOLDEN_BBOX_NOBIDI = "ܕܗܣܐܕ ܪܝ .ܡܡ ܐܠܠ ܗܠ ܐܘܗ ܟܘܗܢ ܡܡ ܐܠ"


def _tagged_seg(kind: str) -> dict:
    line = (
        {"bbox": [0, 0, 2544, 156]}
        if kind == "bbox"
        else {"baseline": [[0, 10], [2543, 10]],
              "boundary": [[0, 0], [2543, 0], [2543, 155], [0, 155]]}
    )
    return {
        "type": kind,
        "script_detection": True,
        "lines": [
            dict(line, id="foo", tags={"type": [{"type": "foobar"}]}),
            dict(line, id="bar", tags={"type": [{"type": "default"}]}),
        ],
    }


def _simple_seg(kind: str) -> dict:
    line = (
        {"bbox": [0, 0, 2544, 156]}
        if kind == "bbox"
        else {"baseline": [[0, 10], [2543, 10]],
              "boundary": [[0, 0], [2543, 0], [2543, 155], [0, 155]]}
    )
    return {"type": kind, "script_detection": False,
            "lines": [dict(line, id="foo", tags=None)]}


@OVERFIT
def test_mm_rpred_missing_tags_raises(overfit, line_img):
    """reference test_mm_rpred_{bbox,bl}_missing_tags: a plain mapping
    keyed by something other than the present tags fails fast."""
    from kraken_spark.kernels.rpred_parity import MultiModelDispatcher

    for kind in ("bbox", "baselines"):
        with pytest.raises(ValueError):
            MultiModelDispatcher({("type", "default"): overfit}, line_img,
                                 _simple_seg(kind), pad=1)


@OVERFIT
def test_mm_rpred_ignore_tags_golden(overfit, line_img):
    """reference test_mm_rpred_{bbox,bl}_ignore_tags: the foobar line is
    skipped with an empty record, the default line hits the trained model
    and reproduces the golden byte-for-byte."""
    from kraken_spark.kernels.rpred_parity import MultiModelDispatcher

    for kind, golden in (("bbox", GOLDEN_BBOX), ("baselines", GOLDEN_BL)):
        recs = list(MultiModelDispatcher(
            {"default": overfit}, line_img, _tagged_seg(kind), pad=1,
            tags_ignore=["foobar"]))
        assert [r["prediction"] for r in recs] == ["", golden]
        assert recs[0]["model"] is None and recs[1]["model"] is not None


@OVERFIT
def test_mm_rpred_default_tags_golden(overfit, line_img):
    """reference test_mm_rpred_{bbox,bl}_default_tags: a defaultdict
    registry routes BOTH lines (incl. the unknown foobar tag) to the
    trained fallback model."""
    from collections import defaultdict

    from kraken_spark.kernels.rpred_parity import MultiModelDispatcher

    for kind, golden in (("bbox", GOLDEN_BBOX), ("baselines", GOLDEN_BL)):
        recs = list(MultiModelDispatcher(
            defaultdict(lambda: overfit), line_img, _tagged_seg(kind), pad=1))
        assert [r["prediction"] for r in recs] == [golden, golden]


@OVERFIT
def test_mm_rpred_nobidi_golden(overfit, line_img):
    """reference test_mm_rpred_{bl,bbox}_nobidi: bidi_reordering=False
    emits the raw display-order string (default pad=16 — these goldens use
    the API default, unlike the pad=True->1 quirk of the others)."""
    from collections import defaultdict

    from kraken_spark.kernels.rpred_parity import MultiModelDispatcher

    for kind, golden in (("baselines", GOLDEN_BL_NOBIDI),
                         ("bbox", GOLDEN_BBOX_NOBIDI)):
        recs = list(MultiModelDispatcher(
            defaultdict(lambda: overfit), line_img, _simple_seg(kind),
            bidi_reordering=False))
        assert [r["prediction"] for r in recs] == [golden]


# -- forced alignment through trained weights (test_align.py:32-172) ---------

BL_LINE = {"id": "foo", "baseline": [[0, 10], [2543, 10]],
           "boundary": [[0, 0], [2543, 0], [2543, 155], [0, 155]]}


@OVERFIT
def test_forced_align_trained_simple(overfit, line_img):
    """Aligning encodable text against the real line yields per-character
    positions/confidences in display order (test_forced_align_simple /
    _records_are_baseline_ocr / _display_order)."""
    from kraken_spark.kernels.rpred_parity import align_baseline

    rec = align_baseline(overfit, line_img, BL_LINE["baseline"],
                         BL_LINE["boundary"], "ܡ")
    assert len(rec["prediction"]) > 0
    assert len(rec["cuts"]) > 0 and len(rec["confidences"]) > 0
    assert rec["display_order"] is True
    assert all(0 <= a <= b for a, b in rec["cuts"])


@OVERFIT
def test_forced_align_trained_record_count(overfit, line_img):
    """One aligned record per input line; empty segmentation -> empty
    (test_forced_align_record_count / _empty_segmentation)."""
    from kraken_spark.kernels.rpred_parity import forced_align_segmentation

    seg = {"type": "baselines",
           "lines": [dict(BL_LINE, id="l1", text="ܡ"),
                     dict(BL_LINE, id="l2", text="ܡ")]}
    recs = forced_align_segmentation(overfit, line_img, seg)
    assert len(recs) == 2 and [r["id"] for r in recs] == ["l1", "l2"]
    assert forced_align_segmentation(overfit, line_img,
                                     {"type": "baselines", "lines": []}) == []


@OVERFIT
def test_forced_align_trained_unencodable_raises(overfit, line_img):
    """Text the model codec cannot encode at all raises ValueError
    (test_forced_align_unencodable_text / _xml_document)."""
    from kraken_spark.kernels.rpred_parity import align_baseline

    with pytest.raises(ValueError):
        align_baseline(overfit, line_img, BL_LINE["baseline"],
                       BL_LINE["boundary"], "Z" * 47)


# -- safetensors write/read round-trip (test_loaders.py:276-320) -------------

@requires_reference("overfit_bl.safetensors", "000236.png")
def test_safetensors_write_read_roundtrip(tmp_path, line_img):
    """Saving a loaded model and reloading reproduces weights byte-for-byte
    and the same prediction; an F16 save reloads as the f16-quantized
    weights (reference round-trip expectations)."""
    import numpy as np

    from kraken_spark.kernels.modelio import (load_kraken_model,
                                              load_safetensors,
                                              save_kraken_model)
    from kraken_spark.kernels.rpred_parity import LoadedRecognizer

    src = load_kraken_model(f"{RES}/overfit_bl.safetensors")[0]
    p32 = str(tmp_path / "rt32.safetensors")
    save_kraken_model(p32, src)
    rt = load_safetensors(p32)[0]
    assert rt.vgsl == src.vgsl and rt.codec == src.codec
    assert set(rt.weights) == set(src.weights)
    assert all(np.array_equal(rt.weights[k], src.weights[k])
               for k in src.weights)
    args = (line_img, [[0, 10], [2543, 10]],
            [[0, 0], [2543, 0], [2543, 155], [0, 155]])
    want = LoadedRecognizer(src).recognize_baseline(*args, pad=16)
    got = LoadedRecognizer(rt).recognize_baseline(*args, pad=16)
    assert got["prediction"] == want["prediction"]
    # F16 cast round-trip: values equal their f16 quantization
    p16 = str(tmp_path / "rt16.safetensors")
    save_kraken_model(p16, src, dtype="F16")
    rt16 = load_safetensors(p16)[0]
    for k, w in src.weights.items():
        assert np.array_equal(rt16.weights[k],
                              np.asarray(w).astype(np.float16).astype(np.float32))


def test_safetensors_writer_rejects_bad_meta(tmp_path):
    """A file without a kraken_meta model map is rejected by the kraken
    loader but still parses as raw safetensors
    (test_loaders.py:151-166 class of failure)."""
    import numpy as np
    import pytest as _pytest

    from kraken_spark.kernels.modelio import (load_safetensors,
                                              read_safetensors,
                                              write_safetensors)

    p = str(tmp_path / "plain.safetensors")
    write_safetensors(p, {"w": np.arange(6, dtype=np.float32).reshape(2, 3)})
    tensors, meta = read_safetensors(p)
    assert tensors["w"].shape == (2, 3) and meta == {}
    with _pytest.raises(ValueError):
        load_safetensors(p)


@OVERFIT
def test_mm_rpred_no_legacy_polygons_forcing(overfit, line_img):
    """no_legacy_polygons forces the NEW extractor on an old model
    (test_newpolygons.py rpred trio): on a non-rectangular boundary the
    two extractors produce different predictions, so forcing must change
    the output while the default honors the model metadata."""
    from collections import defaultdict

    from kraken_spark.kernels.rpred_parity import MultiModelDispatcher

    poly = [[300, 75], [500, 25], [2200, 25], [2400, 75], [2200, 130],
            [500, 130]]
    seg = {"type": "baselines", "script_detection": False,
           "lines": [{"id": "foo", "baseline": [[300, 80], [2400, 80]],
                      "boundary": poly, "tags": None}]}
    assert overfit.bundle.legacy_polygons is True
    default = next(iter(MultiModelDispatcher(
        defaultdict(lambda: overfit), line_img, seg)))
    forced = next(iter(MultiModelDispatcher(
        defaultdict(lambda: overfit), line_img, seg,
        no_legacy_polygons=True)))
    want_legacy = overfit.recognize_baseline(
        line_img, seg["lines"][0]["baseline"], poly, legacy=True)
    want_new = overfit.recognize_baseline(
        line_img, seg["lines"][0]["baseline"], poly, legacy=False)
    assert default["prediction"] == want_legacy["prediction"]
    assert forced["prediction"] == want_new["prediction"]
    assert default["prediction"] != forced["prediction"]


# -- CoreML container write/read round-trip ----------------------------------

@OVERFIT
def test_coreml_write_read_roundtrip(tmp_path, line_img):
    """save_coreml emits a .mlmodel the loader reads back: conv/gn/linear
    weights and metadata byte-compatible on the real overfit bundle, with
    identical predictions through the round-tripped model."""
    import numpy as np

    from kraken_spark.kernels.modelio import (load_coreml, load_kraken_model,
                                              save_coreml)
    from kraken_spark.kernels.rpred_parity import LoadedRecognizer

    src = load_kraken_model(f"{RES}/overfit.mlmodel")[0]
    p = str(tmp_path / "rt.mlmodel")
    save_coreml(p, src)
    rt = load_coreml(p)[0]
    assert rt.vgsl == src.vgsl and rt.codec == src.codec
    assert set(rt.weights) == set(src.weights)
    assert all(np.allclose(rt.weights[k], src.weights[k])
               for k in src.weights)
    assert rt.legacy_polygons == src.legacy_polygons
    r = LoadedRecognizer(rt).recognize_bbox(line_img, [0, 0, 2544, 156],
                                            pad=1)
    assert r["prediction"] == GOLDEN_BBOX


def test_coreml_lstm_roundtrip():
    """Bidirectional-LSTM layers serialize to CoreML gate matrices and
    read back forward-equivalent (the reference gate layout: ih/hh biases
    merge into the recursion-side vector with bias_ih zeroed)."""
    import numpy as np

    from kraken_spark.kernels.modelio import (KrakenModelBundle, load_coreml,
                                              save_coreml)
    from kraken_spark.kernels.torchvgsl import TorchVGSL

    rng = np.random.default_rng(9)
    H = 8
    w = {}
    for sfx in ("", "_reverse"):
        w[f"L_0.layer.weight_ih_l0{sfx}"] = \
            rng.standard_normal((4 * H, 1)).astype(np.float32)
        w[f"L_0.layer.weight_hh_l0{sfx}"] = \
            rng.standard_normal((4 * H, H)).astype(np.float32)
        w[f"L_0.layer.bias_ih_l0{sfx}"] = \
            rng.standard_normal(4 * H).astype(np.float32)
        w[f"L_0.layer.bias_hh_l0{sfx}"] = \
            rng.standard_normal(4 * H).astype(np.float32)
    w["O_1.lin.weight"] = rng.standard_normal((6, 2 * H)).astype(np.float32)
    w["O_1.lin.bias"] = rng.standard_normal(6).astype(np.float32)
    b = KrakenModelBundle(vgsl="[1,48,0,1 Lbys{L_0}8 O{O_1}1c6]",
                          codec={" ": [0], "a": [1], "b": [2]},
                          weights=w,
                          metadata={"model_type": ["recognition"]})
    x = rng.random((48, 40)).astype(np.float32)
    before = TorchVGSL(b.vgsl, b.weights).forward(x)
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        p = f"{td}/lstm_rt.mlmodel"
        save_coreml(p, b)
        rt = load_coreml(p)[0]
    after = TorchVGSL(rt.vgsl, rt.weights).forward(x)
    assert set(rt.weights) == set(w)
    assert np.allclose(before, after, atol=1e-5)


@OVERFIT
def test_temperature_is_prediction_invariant(overfit, line_img):
    """The ocr -t/--temperature knob: softmax(z/T) == p^(1/T) renormalized,
    so predictions/cuts never change — only confidences sharpen (T<1) or
    flatten (T>1); T=1 is a bit-exact no-op."""
    from kraken_spark.kernels.modelio import load_kraken_model
    from kraken_spark.kernels.rpred_parity import LoadedRecognizer

    bundle = load_kraken_model(f"{RES}/overfit.mlmodel")[0]
    base = overfit.recognize_bbox(line_img, [0, 0, 2544, 156], pad=1)
    for t, expect in ((0.5, "sharper"), (2.0, "flatter"), (1.0, "equal")):
        rec = LoadedRecognizer(bundle, temperature=t)
        r = rec.recognize_bbox(line_img, [0, 0, 2544, 156], pad=1)
        assert r["prediction"] == base["prediction"] == GOLDEN_BBOX
        assert r["cuts"] == base["cuts"]
        hi = [i for i, c in enumerate(base["confidences"]) if 0.5 < c < 1.0]
        if expect == "equal":
            assert r["confidences"] == base["confidences"]
        elif expect == "sharper":
            assert all(r["confidences"][i] > base["confidences"][i]
                       for i in hi)
        else:
            assert all(r["confidences"][i] < base["confidences"][i]
                       for i in hi)
