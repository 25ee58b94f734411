"""Loaded-model line recognition (kernels/rpred_parity.py): the batched
page API (recognize_lines), the per-line API (recognize_bbox /
recognize_baseline) and forced alignment run one crop -> prep -> forward ->
decode chain, so they must agree.

Pinned on the in-repo trained recognizer (assets/rec_learned.safetensors)
over blla-segmented corpus pages, once per line-prep path: the asset's own
metadata (baseline lines, new-style polygons) and two metadata copies —
seg_type="bbox" (CenterNormalizer dewarp) and legacy_polygons=True.

Parity contract: prediction strings and cut spans EXACT; confidences to
float tolerance (the batched recurrence turns per-timestep GEMVs into
GEMMs, which may round differently at the ulp level — the same tolerance
class as rec_train's pinned batched==per-line forward)."""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os

import numpy as np
import pytest

from kraken_spark.kernels.modelio import load_kraken_model
from kraken_spark.kernels.rec_train import ASSET
from kraken_spark.kernels.rpred_parity import LoadedRecognizer

pytestmark = pytest.mark.skipif(
    not os.path.exists(ASSET), reason="trained recognizer asset missing")

# sha256[:16] of the per-line predictions + cuts over the 61 pin lines
# (_digest below), recorded before the recognition chain was merged into
# one implementation; confidences are not digested — their last bits
# depend on the BLAS thread count
PER_LINE_DIGEST = {"new": "432f6115d71aea96", "bbox": "bd53f265baa5c7ce",
                   "legacy": "815908229f7a5167"}
ALIGN_DIGEST = {"new": "d3e3c8e42ed38d34", "legacy": "d99ec3d2f1c17d41"}


def _bundles():
    base = load_kraken_model(ASSET)[0]
    return {
        "new": base,
        "bbox": dataclasses.replace(
            base, metadata={**base.metadata, "seg_type": "bbox"}),
        "legacy": dataclasses.replace(
            base, metadata={**base.metadata, "legacy_polygons": True}),
    }


@pytest.fixture(scope="module")
def recs():
    return {k: LoadedRecognizer(b) for k, b in _bundles().items()}


@pytest.fixture(scope="module")
def pages():
    """generate_corpus_table(3) segmented with blla: (img, lines) pairs."""
    from kraken_spark.corpus import generate_corpus_table
    from kraken_spark.kernels import binarize, imgio, png
    from kraken_spark.kernels.blla import segment_blla

    out = []
    for row in generate_corpus_table(3).to_pylist():
        img = png.to_grayscale(imgio.decode_image(row["html"]))
        out.append((img, segment_blla(binarize.nlbin(img), url=row["url"])["lines"]))
    assert sum(len(lines) for _, lines in out) == 61
    return out


def _clamped(img, bbox):
    return [max(0, bbox[0]), max(0, bbox[1]),
            min(img.shape[1], bbox[2]), min(img.shape[0], bbox[3])]


def _per_line(rec, img, ln):
    """The per-line API call recognize_lines' dispatch stands for."""
    if rec.bundle.seg_type == "bbox" or not ln.get("baseline"):
        return rec.recognize_bbox(img, _clamped(img, ln["bbox"]), scale_cuts=True)
    return rec.recognize_baseline(img, ln["baseline"], ln["boundary"],
                                  scale_cuts=True)


@pytest.fixture(scope="module")
def per_line(recs, pages):
    return {k: [_per_line(rec, img, ln) for img, lines in pages for ln in lines]
            for k, rec in recs.items()}


def _digest(records) -> str:
    return hashlib.sha256(json.dumps(
        [[r["prediction"], [list(map(int, c)) for c in r["cuts"]]]
         for r in records]).encode()).hexdigest()[:16]


def _assert_parity(per, bat):
    assert len(per) == len(bat)
    for p, b in zip(per, bat):
        assert p["prediction"] == b["prediction"]
        assert [tuple(c) for c in p["cuts"]] == [tuple(c) for c in b["cuts"]]
        assert np.allclose(p["confidences"], b["confidences"], atol=1e-5)


@pytest.mark.parametrize("batch_size", [7, 2])
@pytest.mark.parametrize("kind", ["new", "bbox", "legacy"])
def test_batched_equals_per_line(recs, pages, per_line, kind, batch_size):
    """recognize_lines over whole pages == the per-line API, line for line
    (chunking across several width-sorted forward_batch calls)."""
    bat = [r for img, lines in pages
           for r in recs[kind].recognize_lines(img, lines, scale_cuts=True,
                                               batch_size=batch_size)]
    _assert_parity(per_line[kind], bat)
    assert sum(1 for r in bat if r["prediction"]) >= 55


@pytest.mark.parametrize("kind", ["new", "bbox", "legacy"])
def test_per_line_digest(per_line, kind):
    assert _digest(per_line[kind]) == PER_LINE_DIGEST[kind]


@pytest.mark.parametrize("kind", ["new", "bbox"])
def test_invalid_clamped_and_blank_lines_keep_their_positions(recs, pages, kind):
    """Out-of-bounds, clamped-away and blank lines emit empty records at
    their input positions; a box clamped to a valid crop matches the
    per-line API on the clamped box."""
    rec = recs[kind]
    img, lines = pages[0]
    h, w = img.shape
    blank_ln = lines[1]
    img = img.copy()
    x0, y0, x1, y1 = blank_ln["bbox"]
    img[max(0, y0 - 2):y1 + 2, max(0, x0 - 2):x1 + 2] = 255
    # off the right edge: the baseline guard rejects it, the bbox path
    # clamps it to an empty box
    oob = {"bbox": [w + 5, 0, w + 50, 20],
           "baseline": [[w - 10, 10], [w + 10, 10]],
           "boundary": [[w - 10, 0], [w + 10, 0], [w + 10, 20], [w - 10, 20]]}
    clamped_away = {"bbox": [0, h + 5, 40, h + 40]}
    partly_out = {"bbox": [-5, lines[2]["bbox"][1], lines[2]["bbox"][2] + 10 ** 6,
                           lines[2]["bbox"][3]]}
    batch = [lines[0], blank_ln, oob, lines[3], clamped_away, partly_out]
    bat = rec.recognize_lines(img, batch, scale_cuts=True, batch_size=2)
    empty = {"prediction": "", "cuts": [], "confidences": []}
    assert [i for i, r in enumerate(bat) if r == empty] == [1, 2, 4]
    per = [_per_line(rec, img, ln) for ln in (lines[0], lines[3], partly_out)]
    _assert_parity(per, [bat[0], bat[3], bat[5]])
    assert all(p["prediction"] for p in per)


def test_temperature_is_prediction_invariant(pages):
    """The ocr -t/--temperature knob rescales probabilities only:
    predictions and cuts never change, confidences sharpen (T<1) or
    flatten (T>1), and T=1 is a bit-exact no-op."""
    bundle = _bundles()["new"]
    img, lines = pages[0]
    base = LoadedRecognizer(bundle).recognize_lines(img, lines, scale_cuts=True)
    for t, sign in ((0.5, 1), (2.0, -1), (1.0, 0)):
        got = LoadedRecognizer(bundle, temperature=t).recognize_lines(
            img, lines, scale_cuts=True)
        for b, r in zip(base, got):
            assert r["prediction"] == b["prediction"]
            assert r["cuts"] == b["cuts"]
            hi = [i for i, c in enumerate(b["confidences"]) if 0.5 < c < 1.0]
            if sign == 0:
                assert r["confidences"] == b["confidences"]
            else:
                assert all(sign * (r["confidences"][i] - b["confidences"][i]) > 0
                           for i in hi)


@pytest.mark.parametrize("kind", ["new", "legacy"])
def test_forced_alignment_through_the_chain(recs, pages, per_line, kind):
    """align_baseline of each line's own prediction: one display-order
    record per line with one cut per character, and a pinned digest."""
    from kraken_spark.kernels.rpred_parity import align_baseline

    rec = recs[kind]
    lines = [(img, ln) for img, lns in pages for ln in lns]
    al = [align_baseline(rec, img, ln["baseline"], ln["boundary"], p["prediction"])
          for (img, ln), p in zip(lines, per_line[kind])]
    assert len(al) == len(lines) == 61
    assert all(r["display_order"] and len(r["cuts"]) == len(r["prediction"])
               for r in al)
    assert _digest(al) == ALIGN_DIGEST[kind]


def test_forced_align_segmentation_record_count_and_unencodable(recs, pages):
    from kraken_spark.kernels.rpred_parity import (align_baseline,
                                                   forced_align_segmentation)

    rec = recs["new"]
    img, lines = pages[0]
    seg = {"lines": [dict(ln, id=f"l{i}", text=r["prediction"]) for i, (ln, r) in
                     enumerate(zip(lines[:4], rec.recognize_lines(img, lines[:4])))]}
    out = forced_align_segmentation(rec, img, seg)
    assert [r["id"] for r in out] == ["l0", "l1", "l2", "l3"]
    assert forced_align_segmentation(rec, img, {"lines": []}) == []
    with pytest.raises(ValueError):
        align_baseline(rec, img, lines[0]["baseline"], lines[0]["boundary"],
                       "☃" * 12)


# -- model-file write/read round trips on the in-repo asset -----------------

def _roundtrip_predictions(bundle, pages):
    rec = LoadedRecognizer(bundle)
    return [_per_line(rec, img, ln)["prediction"]
            for img, lines in pages for ln in lines]


def test_safetensors_write_read_roundtrip(tmp_path, pages, per_line):
    """Saving the asset and reloading it reproduces every weight
    byte-for-byte and every prediction over the 61 pin lines."""
    from kraken_spark.kernels.modelio import load_safetensors, save_kraken_model

    src = _bundles()["new"]
    p = str(tmp_path / "rt.safetensors")
    save_kraken_model(p, src)
    rt = load_safetensors(p)[0]
    assert rt.vgsl == src.vgsl and rt.codec == src.codec
    assert set(rt.weights) == set(src.weights)
    for k, w in src.weights.items():
        assert np.asarray(rt.weights[k]).tobytes() == np.asarray(w).tobytes(), k
    assert _roundtrip_predictions(rt, pages) == \
        [r["prediction"] for r in per_line["new"]]


def test_coreml_write_read_roundtrip(tmp_path, pages, per_line):
    """The asset written as a CoreML .mlmodel reads back with the same
    spec and codec, close weights and the same predictions over the 61 pin
    lines. CoreML stores one LSTM bias per gate, so the writer merges
    bias_ih into bias_hh (test_golden_rpred::test_coreml_lstm_roundtrip):
    per direction only the sum bias_ih + bias_hh is compared."""
    from kraken_spark.kernels.modelio import load_coreml, save_coreml

    src = _bundles()["new"]
    p = str(tmp_path / "rt.mlmodel")
    save_coreml(p, src)
    rt = load_coreml(p)[0]
    assert rt.vgsl == src.vgsl and rt.codec == src.codec
    assert (rt.seg_type, rt.legacy_polygons) == \
        (src.seg_type, src.legacy_polygons)
    assert set(rt.weights) == set(src.weights)
    biases = {k for k in src.weights if ".bias_ih_" in k or ".bias_hh_" in k}
    assert biases
    for k in set(src.weights) - biases:
        assert np.allclose(rt.weights[k], src.weights[k]), k
    for k in (b for b in biases if ".bias_ih_" in b):
        hh = k.replace(".bias_ih_", ".bias_hh_")
        assert np.allclose(rt.weights[k] + rt.weights[hh],
                           src.weights[k] + src.weights[hh]), k
    assert _roundtrip_predictions(rt, pages) == \
        [r["prediction"] for r in per_line["new"]]


def test_forward_batch_falls_back_without_batchable_tail():
    """A net whose tail isn't batchable (transposed LSTM) routes through
    the per-line forward — same results, no exception."""
    from kraken_spark.kernels.torchvgsl import TorchVGSL

    rng = np.random.Generator(np.random.PCG64(5))
    hid, cls = 8, 6
    W = {}
    for n, feat in (("L_0", 16), ("L_1", 2 * hid)):
        for sfx in ("", "_reverse"):
            W[f"{n}.layer.weight_ih_l0{sfx}"] = rng.normal(0, 0.1, (4 * hid, feat)).astype(np.float32)
            W[f"{n}.layer.weight_hh_l0{sfx}"] = rng.normal(0, 0.1, (4 * hid, hid)).astype(np.float32)
            W[f"{n}.layer.bias_ih_l0{sfx}"] = rng.normal(0, 0.1, 4 * hid).astype(np.float32)
            W[f"{n}.layer.bias_hh_l0{sfx}"] = rng.normal(0, 0.1, 4 * hid).astype(np.float32)
    W["O_2.lin.weight"] = rng.normal(0, 0.1, (cls, 2 * hid)).astype(np.float32)
    W["O_2.lin.bias"] = rng.normal(0, 0.1, cls).astype(np.float32)
    net = TorchVGSL("[1,1,0,16 Lby8 Lbx8 O1c6]", W)
    assert net._tail_split() is None
    xs = [rng.random((16, 1, w)).astype(np.float32) for w in (9, 13)]
    per = [net.forward(x) for x in xs]
    bat = net.forward_batch(xs)
    for p, b in zip(per, bat):
        assert np.array_equal(p, b)
