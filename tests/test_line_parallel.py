"""Line-parallel loaded-model extraction (pipeline_lines.py) must match
the fused plan row-for-row: predictions/cuts/geometry EXACT, confidences
to float tolerance (the tests/test_batched_rpred.py contract — chunk
composition differs between plans, which only moves GEMM rounding at the
ulp level). wall_ms/partition_id are timing/placement metrics and are
excluded."""

from __future__ import annotations

import os

import numpy as np
import pytest

from kraken_spark.kernels.rec_train import ASSET as REC_ASSET

pytestmark = pytest.mark.skipif(
    not os.path.exists(REC_ASSET), reason="trained recognizer asset missing")


@pytest.fixture(scope="module")
def spark():
    from kraken_spark.session import get_spark

    s = get_spark(app="tests-line-parallel", cores=4, shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    return s


def _rows_by_url(df):
    return {r["url"]: r.asDict(recursive=True) for r in df.collect()}


def _assert_row_parity(a: dict, b: dict):
    for k in ("wall_ms", "partition_id"):
        a.pop(k), b.pop(k)
    la, lb = a.pop("lines"), b.pop("lines")
    assert a == b
    assert len(la) == len(lb)
    for x, y in zip(la, lb):
        cx, cy = x.pop("confidences"), y.pop("confidences")
        assert x == y
        assert np.allclose(cx or [], cy or [], atol=1e-5)


def test_line_parallel_matches_fused_plan(spark):
    from kraken_spark.corpus import generate_corpus_df
    from kraken_spark.pipeline import plan_extraction
    from kraken_spark.pipeline_lines import plan_extraction_line_parallel

    docs = generate_corpus_df(spark, 8).localCheckpoint(eager=True)
    fused = _rows_by_url(plan_extraction(
        docs, num_partitions=4, segmenter="blla",
        kraken_model_path=REC_ASSET))
    lp = _rows_by_url(plan_extraction_line_parallel(
        docs, num_partitions=4, segmenter="blla",
        kraken_model_path=REC_ASSET, line_partitions=8))
    assert set(fused) == set(lp)
    assert any(r["n_lines"] > 0 for r in fused.values())
    for url in fused:
        _assert_row_parity(fused[url], lp[url])


def test_line_parallel_handles_preseg_and_garbage(spark):
    """Non-image payloads (XML: complete in prepare) and garbage bytes
    (guard-tripped complete row) flow through the line-parallel plan
    exactly like the fused one."""
    from kraken_spark.corpus import generate_corpus_df
    from kraken_spark.operators.serialization import serialize_extractions
    from kraken_spark.pipeline import plan_extraction
    from kraken_spark.pipeline_lines import plan_extraction_line_parallel

    docs = generate_corpus_df(spark, 2).localCheckpoint(eager=True)
    alto = serialize_extractions(
        plan_extraction(docs, num_partitions=2), "alto").collect()
    mixed = spark.createDataFrame(
        [(r.url + "#alto", bytearray(r.document.encode("utf-8")), "", "en")
         for r in alto]
        + [("garbage://1", bytearray(b"\x00\x01notapng"), "", "en"),
           ("nullhtml://1", None, "", "en")],
        "url string, html binary, text string, lang string",
    ).localCheckpoint(eager=True)
    fused = _rows_by_url(plan_extraction(
        mixed, num_partitions=2, kraken_model_path=REC_ASSET))
    lp = _rows_by_url(plan_extraction_line_parallel(
        mixed, num_partitions=2, kraken_model_path=REC_ASSET,
        line_partitions=4))
    assert set(fused) == set(lp)
    assert fused["garbage://1"]["guard_tripped"]
    # NULL html must survive BOTH plans as a guard row, not a task abort
    # (the payload sniff runs inside stages._page_front's guard)
    assert fused["nullhtml://1"]["guard_tripped"]
    assert lp["nullhtml://1"]["guard_tripped"]
    for url in fused:
        _assert_row_parity(fused[url], lp[url])


def test_line_parallel_vertical_direction_parity(spark):
    """Vertical pages (rotate-segment-unrotate geometry, cut spans mapped
    through the page-y axis in assembly) stay row-identical through the
    line-parallel split."""
    from kraken_spark.corpus import generate_corpus_df
    from kraken_spark.pipeline import plan_extraction
    from kraken_spark.pipeline_lines import plan_extraction_line_parallel

    docs = generate_corpus_df(spark, 3).localCheckpoint(eager=True)
    fused = _rows_by_url(plan_extraction(
        docs, num_partitions=2, text_direction="vertical",
        kraken_model_path=REC_ASSET))
    lp = _rows_by_url(plan_extraction_line_parallel(
        docs, num_partitions=2, text_direction="vertical",
        kraken_model_path=REC_ASSET, line_partitions=4))
    assert set(fused) == set(lp)
    for url in fused:
        _assert_row_parity(fused[url], lp[url])


def test_line_parallel_requires_model_path(spark):
    from kraken_spark.corpus import generate_corpus_df
    from kraken_spark.pipeline_lines import plan_extraction_line_parallel

    with pytest.raises(ValueError, match="loaded-model"):
        plan_extraction_line_parallel(generate_corpus_df(spark, 1))


def test_run_extraction_line_parallel_commits_same_rows(spark, tmp_path):
    """run_extraction(line_parallel=True) — the job.py --line-parallel
    path — persists the same extraction rows as the fused plan (text,
    counts, cer), end-to-end through the parquet sink."""
    from kraken_spark.corpus import generate_corpus_df
    from kraken_spark.pipeline import run_extraction

    docs = generate_corpus_df(spark, 4).localCheckpoint(eager=True)
    out_a = str(tmp_path / "fused")
    out_b = str(tmp_path / "lp")
    run_extraction(docs, out_path=out_a, kraken_model_path=REC_ASSET)
    run_extraction(docs, out_path=out_b, kraken_model_path=REC_ASSET,
                   line_parallel=True)
    key = ["url", "text", "n_lines", "n_regions", "cer", "guard_tripped"]
    a = sorted(spark.read.parquet(out_a).select(key).collect())
    b = sorted(spark.read.parquet(out_b).select(key).collect())
    assert a == b and len(a) == 4


def test_run_extraction_line_parallel_ice_commits_rows_and_metrics(spark, tmp_path):
    """run_extraction(line_parallel=True, table_format='ice'): the same
    staged-file sink runs as one mapInArrow over the assembled rows. It
    commits the fused plan's rows, and metrics rows equal to
    metrics_table over them."""
    from conftest import assert_ice_extraction_committed

    from kraken_spark.corpus import generate_corpus_df
    from kraken_spark.pipeline import plan_extraction, run_extraction
    from kraken_spark.sources import icetable

    docs = generate_corpus_df(spark, 4).localCheckpoint(eager=True)
    out, metrics, ref = (str(tmp_path / n) for n in ("out", "metrics", "ref"))
    run_extraction(docs, out_path=out, metrics_path=metrics, run_id="lp",
                   kraken_model_path=REC_ASSET, table_format="ice",
                   line_parallel=True)
    fused = plan_extraction(docs, num_partitions=4, kraken_model_path=REC_ASSET)
    got, want = _rows_by_url(icetable.read(spark, out)), _rows_by_url(fused)
    assert set(got) == set(want) and len(got) == 4
    for url in want:
        _assert_row_parity(want[url], got[url])
    icetable.append(fused.limit(0), ref)
    assert_ice_extraction_committed(spark, out, metrics, "lp", ref)


def _run_lp_stages(html, text, monkeypatch=None):
    """Drive the line-parallel stage functions in-process (no Spark):
    _prepare_one -> make_recognize_map -> make_assemble; returns the one
    assembled page row as a dict."""
    import pyarrow as pa

    from kraken_spark.pipeline_lines import (_PREP_ARROW, _prepare_one,
                                             make_assemble,
                                             make_recognize_map)

    rows = _prepare_one(html, "http://z/p0", "en", text, "pageseg",
                        None, REC_ASSET, False, 1.0, None)
    batch = pa.RecordBatch.from_pylist(rows, schema=_PREP_ARROW)
    rec_batches = list(make_recognize_map(REC_ASSET, 1.0)(iter([batch])))
    out = make_assemble()(pa.Table.from_batches(rec_batches))
    rows = out.to_pylist()
    assert len(rows) == 1
    return rows[0]


def test_zero_area_line_tensor_guards_whole_page(monkeypatch):
    """A degenerate (zero-area) line tensor makes the fused path raise
    inside recognize_lines -> whole page guard-tripped. In the split plan
    the crop-local prep now runs in the RECOGNIZE stage: the line must be
    flagged `failed` and assembly must emit exactly the fused plan's
    guard-tripped empty page row."""
    import numpy as np

    from kraken_spark.kernels import png, render
    from kraken_spark.kernels.rpred_parity import LoadedRecognizer
    from kraken_spark.stages import extract_document

    monkeypatch.setattr(
        LoadedRecognizer, "_prep_baseline_u8_from_crop",
        lambda self, *a, **k: (np.empty((48, 0), dtype=np.uint8), 10))
    monkeypatch.setattr(
        LoadedRecognizer, "_prep_bbox_u8_from_crop",
        lambda self, *a, **k: (np.empty((48, 0), dtype=np.uint8), 10))
    d = render.render_document(1234, 0)
    html, text = png.encode_png(d["img"]), d["text"]
    fused = extract_document(html, "http://z/p0", "en", text,
                             "pageseg", None, REC_ASSET)
    assert fused["guard_tripped"] and fused["n_lines"] == 0
    row = _run_lp_stages(html, text)
    assert row["guard_tripped"] and row["n_lines"] == 0
    for k in ("url", "text", "n_lines", "n_regions", "cer",
              "guard_tripped", "lines"):
        assert row[k] == fused[k], k


def test_recognition_failure_guards_page_not_silent_empty(monkeypatch):
    """A forward/decode exception in the line stage must NOT leave silent
    empty predictions (guard_tripped=False) — assembly must emit the fused
    plan's guard-tripped empty row for the affected page (round-5 advice:
    the two plans stay row-identical under failure)."""
    from kraken_spark.kernels import png, render
    from kraken_spark.kernels.torchvgsl import TorchVGSL
    from kraken_spark.stages import extract_document

    def boom(self, *a, **k):
        raise RuntimeError("forward failed")

    monkeypatch.setattr(TorchVGSL, "forward_batch", boom)
    monkeypatch.setattr(TorchVGSL, "forward", boom)
    d = render.render_document(1234, 1)
    html, text = png.encode_png(d["img"]), d["text"]
    fused = extract_document(html, "http://z/p0", "en", text,
                             "pageseg", None, REC_ASSET)
    assert fused["guard_tripped"] and fused["cer"] == 1.0
    row = _run_lp_stages(html, text)
    assert row["guard_tripped"] and row["cer"] == 1.0
    for k in ("url", "text", "n_lines", "n_regions", "cer",
              "guard_tripped", "lines"):
        assert row[k] == fused[k], k


def test_batch_failure_recovers_identically_in_both_plans(monkeypatch):
    """One failure rule for both plans: a chunk whose forward_batch raises
    is retried line by line. With forward_batch failing on every chunk of
    more than one line (and the per-line forward healthy), the fused and
    line-parallel rows stay equal and both pages recover their text."""
    import pyarrow as pa

    from kraken_spark.kernels import png, render
    from kraken_spark.kernels.torchvgsl import TorchVGSL
    from kraken_spark.pipeline_lines import (_PREP_ARROW, _REC_ARROW,
                                             _prepare_one, make_assemble,
                                             make_recognize_map)
    from kraken_spark.stages import extract_document

    docs = []
    for i in (0, 1):
        d = render.render_document(1234, i)
        docs.append((f"http://z/p{i}", png.encode_png(d["img"]), d["text"]))
    healthy = {u: extract_document(h, u, "en", t, "pageseg", None, REC_ASSET)
               for u, h, t in docs}
    real = TorchVGSL.forward_batch

    def flaky(self, tensors):
        if len(tensors) > 1:
            raise RuntimeError("batched forward failed")
        return real(self, tensors)

    monkeypatch.setattr(TorchVGSL, "forward_batch", flaky)
    fused = {u: extract_document(h, u, "en", t, "pageseg", None, REC_ASSET)
             for u, h, t in docs}
    rows = [r for u, h, t in docs
            for r in _prepare_one(h, u, "en", t, "pageseg", None, REC_ASSET,
                                  False, 1.0, None)]
    batch = pa.RecordBatch.from_pylist(rows, schema=_PREP_ARROW)
    rec = pa.Table.from_batches(
        list(make_recognize_map(REC_ASSET, 1.0)(iter([batch])))).to_pylist()
    lp = {}
    for u, _, _ in docs:
        page = pa.Table.from_pylist([r for r in rec if r["url"] == u],
                                    schema=_REC_ARROW)
        (lp[u],) = make_assemble()(page).to_pylist()
    for u, _, _ in docs:
        assert not fused[u]["guard_tripped"] and fused[u]["n_lines"] > 0
        assert fused[u]["text"] == healthy[u]["text"]
        for k in ("url", "text", "n_lines", "n_regions", "cer",
                  "guard_tripped", "lines"):
            assert lp[u][k] == fused[u][k], k



def _raise(*a, **k):
    raise RuntimeError("injected failure")


def _fail_decode(mp):
    from kraken_spark.kernels import imgio
    mp.setattr(imgio, "decode_image", _raise)


def _fail_admission(mp):
    from kraken_spark import stages
    mp.setattr(stages, "MAX_PAGE_PX", 100)


def _fail_budget(mp):
    mp.setenv("KRAKEN_SPARK_DOC_BUDGET_MS", "0.001")


def _fail_nlbin(mp):
    from kraken_spark.kernels import binarize
    mp.setattr(binarize, "nlbin", _raise)


def _fail_segment(mp):
    from kraken_spark.kernels import pageseg
    mp.setattr(pageseg, "segment", _raise)


def _fail_line_crop(mp):
    from kraken_spark.kernels.rpred_parity import LoadedRecognizer
    mp.setattr(LoadedRecognizer, "line_crop", _raise)


def _fail_decode_probs(mp):
    from kraken_spark.kernels.rpred_parity import LoadedRecognizer
    mp.setattr(LoadedRecognizer, "_decode_probs", _raise)


@pytest.mark.parametrize("inject", [
    _fail_decode, _fail_admission, _fail_budget, _fail_nlbin, _fail_segment,
    _fail_line_crop, _fail_decode_probs,
], ids=lambda f: f.__name__[len("_fail_"):])
def test_failure_parity_at_every_page_stage(monkeypatch, inject):
    """A failure injected at any stage of the page chain (decode, the
    admission cap, the per-document budget, nlbin, segmentation, the line
    crop, CTC decode) trips the page to the same guard row in both plans."""
    from kraken_spark.kernels import png, render
    from kraken_spark.stages import extract_document

    d = render.render_document(1234, 0)
    html, text = png.encode_png(d["img"]), d["text"]
    inject(monkeypatch)
    fused = extract_document(html, "http://z/p0", "en", text,
                             "pageseg", None, REC_ASSET)
    assert fused["guard_tripped"] and fused["cer"] == 1.0
    row = _run_lp_stages(html, text)
    for k in ("url", "text", "n_lines", "n_regions", "cer",
              "guard_tripped", "lines"):
        assert row[k] == fused[k], k


def test_page_loads_only_the_recognizer_it_uses():
    """Only an image page read by the built-in recognizer builds it (and
    its arena pre-touch); web-HTML and loaded-model pages never do."""
    from kraken_spark import stages
    from kraken_spark.kernels import htmlparse, png, render

    d = render.render_document(1234, 0)
    page = png.encode_png(d["img"])
    web = htmlparse.write_boilerplate_page(d["text"], "en", "http://z/w0")
    stages._MODEL_CACHE.clear()
    stages.extract_document(web, "http://z/w0", "en")
    assert "model" not in stages._MODEL_CACHE
    stages.extract_document(page, "http://z/p0", "en", d["text"],
                            "blla", None, REC_ASSET)
    assert "model" not in stages._MODEL_CACHE
    row = stages.extract_document(page, "http://z/p0", "en", d["text"])
    assert "model" in stages._MODEL_CACHE and row["cer"] == 0.0
