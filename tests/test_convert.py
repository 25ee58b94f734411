"""ketos-convert analog (kernels/modelio.convert_models — reference
ketos/weights.py:26-60 over models/convert.py:44-92 + models/writers.py):
combine N weights files into one safetensors, convert between coreml and
safetensors containers, and the reference's refusal behaviors."""

from __future__ import annotations

import json

import numpy as np
import pytest

from kraken_spark.kernels.modelio import (KrakenModelBundle, convert_models,
                                          load_kraken_model,
                                          save_kraken_model,
                                          save_kraken_models)
from kraken_spark.refassets import resources_dir

from conftest import requires_reference

RES = resources_dir()
overfit_required = requires_reference("overfit.mlmodel")


def _bundle(seed: int, tag: str) -> KrakenModelBundle:
    rng = np.random.Generator(np.random.PCG64(seed))
    return KrakenModelBundle(
        vgsl=f"[1,48,0,1 Cr3,3,8 O1c{10 + seed}]",
        codec={"a": [1], "b": [2]},
        weights={"l0.co.weight": rng.normal(size=(8, 1, 3, 3)).astype(np.float32),
                 "l0.co.bias": rng.normal(size=8).astype(np.float32)},
        metadata={"model_type": ["recognition"], "tag": tag},
    )


def test_convert_combines_weights_files(tmp_path):
    """Two single-model weights files combine into ONE multi-model
    safetensors (the blla_line+blla_region joint-inference use case);
    every bundle round-trips byte-identically with its own vgsl/codec/
    metadata, under deterministic prefixes."""
    a, b = _bundle(1, "alpha"), _bundle(2, "beta")
    pa_, pb = str(tmp_path / "a.safetensors"), str(tmp_path / "b.safetensors")
    save_kraken_model(pa_, a)
    save_kraken_model(pb, b)
    out = convert_models([pa_, pb], str(tmp_path / "both.safetensors"))
    assert out.endswith("both.safetensors")
    loaded = load_kraken_model(out)
    assert len(loaded) == 2
    by_tag = {m.metadata["tag"]: m for m in loaded}
    for src, tag in ((a, "alpha"), (b, "beta")):
        got = by_tag[tag]
        assert got.vgsl == src.vgsl and got.codec == src.codec
        for k, w in src.weights.items():
            assert got.weights[k].tobytes() == w.tobytes()
    # deterministic build: converting again produces identical bytes
    out2 = convert_models([pa_, pb], str(tmp_path / "both2.safetensors"))
    assert open(out, "rb").read() == open(out2, "rb").read()


def test_convert_refusals(tmp_path):
    a = _bundle(3, "a")
    p = str(tmp_path / "m.safetensors")
    save_kraken_model(p, a)
    with pytest.raises(ValueError, match="no models"):
        convert_models([], str(tmp_path / "x.safetensors"))
    with pytest.raises(ValueError, match="torch"):
        convert_models([str(tmp_path / "m.ckpt")], str(tmp_path / "x"))
    with pytest.raises(ValueError, match="already exists"):
        convert_models([p], p)
    with pytest.raises(ValueError, match="no writer"):
        convert_models([p], str(tmp_path / "x.onnx"), weights_format="onnx")
    with pytest.raises(ValueError, match="one model at a time"):
        convert_models([p, p], str(tmp_path / "x.mlmodel"),
                       weights_format="coreml")
    with pytest.raises(ValueError):
        save_kraken_models(str(tmp_path / "dup.safetensors"), [a, a],
                           prefixes=["same", "same"])


@overfit_required
def test_convert_coreml_cycle_preserves_model(tmp_path):
    """overfit.mlmodel -> safetensors -> coreml (suffix coerced from a
    non-.mlmodel output name): weights byte-identical through the full
    cycle and the VGSL/codec survive."""
    src = load_kraken_model(f"{RES}/overfit.mlmodel")[0]
    st = convert_models([f"{RES}/overfit.mlmodel"],
                        str(tmp_path / "overfit.safetensors"))
    mid = load_kraken_model(st)[0]
    back = convert_models([st], str(tmp_path / "overfit.weights"),
                          weights_format="coreml")
    assert back.endswith("overfit.mlmodel")
    got = load_kraken_model(back)[0]
    assert got.vgsl == src.vgsl == mid.vgsl
    assert got.codec == src.codec
    assert set(got.weights) == set(src.weights)
    for k, w in src.weights.items():
        assert got.weights[k].tobytes() == w.tobytes(), k


def test_convert_model_cli_leg(tmp_path, capsys):
    """job.py --convert-model: comma-separated inputs, one combined
    output, no Spark session spun up."""
    from kraken_spark.job import main

    pa_ = str(tmp_path / "a.safetensors")
    pb = str(tmp_path / "b.safetensors")
    save_kraken_model(pa_, _bundle(4, "a"))
    save_kraken_model(pb, _bundle(5, "b"))
    out = str(tmp_path / "combined.safetensors")
    rc = main(["--input", f"{pa_},{pb}", "--output", out, "--convert-model"])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rep["output"] == out
    assert len(load_kraken_model(out)) == 2


def test_set_model_metadata(tmp_path, capsys):
    """set_seg_options-style metadata surgery: keys merge, None deletes,
    nested dicts merge one level, weights bytes untouched; CLI leg."""
    from kraken_spark.job import main
    from kraken_spark.kernels.modelio import set_model_metadata

    b = _bundle(7, "seg")
    b.metadata["class_mapping"] = {"baselines": {"default": 0}}
    b.metadata["topline"] = False
    p = str(tmp_path / "m.safetensors")
    save_kraken_model(p, b)

    out = set_model_metadata(
        p, str(tmp_path / "m2.safetensors"),
        {"topline": True, "tag": None, "bounding_regions": ["text"],
         "class_mapping": {"regions": {"text": 1}}})
    got = load_kraken_model(out)[0]
    assert got.metadata["topline"] is True
    assert "tag" not in got.metadata
    assert got.metadata["bounding_regions"] == ["text"]
    assert got.metadata["class_mapping"] == {
        "baselines": {"default": 0}, "regions": {"text": 1}}
    for k, w in b.weights.items():
        assert got.weights[k].tobytes() == w.tobytes()
    with pytest.raises(ValueError, match="already exists"):
        set_model_metadata(p, out, {})

    rc = main(["--input", p, "--output", str(tmp_path / "m3.safetensors"),
               "--set-model-metadata", json.dumps({"pad": [16, 0]})])
    assert rc == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    got3 = load_kraken_model(rep["output"])[0]
    assert got3.metadata["pad"] == [16, 0]
