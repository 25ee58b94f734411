"""perfbench's `--trace 1` wraps the kernel functions in place
(perfbench/spans.py KERNEL_TARGETS), so every kernel call in the page
chain must go through its module or class attribute at call time. A name
bound at import would bypass the wrapper and read 0 in the per-layer
metrics without any error; these pins catch that."""

from __future__ import annotations

import importlib.util
import os

import pytest

from kraken_spark.kernels.rec_train import ASSET as REC_ASSET

_SPANS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                      "perfbench", "spans.py")


@pytest.fixture(scope="module")
def spans():
    spec = importlib.util.spec_from_file_location("perfbench_spans", _SPANS)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _layers(spans, html, url, gt, **kw) -> set[str]:
    from kraken_spark import stages

    tracer = spans.Tracer()
    with spans.KernelWrappers(tracer):
        stages.extract_document(html, url, "en", gt, **kw)
    return {name.split(".", 1)[1] for name, *_ in tracer.spans}


@pytest.fixture(scope="module")
def page():
    from kraken_spark.kernels import png, render

    d = render.render_document(1234, 0)
    return png.encode_png(d["img"]), d["text"]


def test_builtin_recognizer_layers(spans, page):
    html, text = page
    assert _layers(spans, html, "http://z/p0", text) == {
        "decode", "nlbin", "pageseg", "lineextract", "recognize", "ro", "cer"}


@pytest.mark.skipif(not os.path.exists(REC_ASSET),
                    reason="trained recognizer asset missing")
def test_loaded_model_layers(spans, page):
    html, text = page
    assert _layers(spans, html, "http://z/p0", text, segmenter="blla",
                   kraken_model_path=REC_ASSET) == {
        "decode", "nlbin", "blla", "rpred", "ro", "cer"}


def test_web_html_layers(spans, page):
    from kraken_spark.kernels import htmlparse

    web = htmlparse.write_boilerplate_page(page[1], "en", "http://z/w0")
    assert _layers(spans, web, "http://z/w0", None) == {"htmlparse"}
