"""Spark-level end-to-end tests: fused extraction, guards, resume,
serialization round-trip, streaming wrapper.

Mirrors the reference's golden e2e strategy (SURVEY.md §5:
tests/test_rpred.py byte-identical predictions, test_serialization.py
serialize->parse round-trip) on the deterministic synthetic corpus.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

pyspark = pytest.importorskip("pyspark")

import pyspark.sql.functions as F  # noqa: E402

from kraken_spark.corpus import generate_corpus_df  # noqa: E402
from kraken_spark.pipeline import (  # noqa: E402
    extracted_text,
    metrics_table,
    plan_extraction,
    remaining_documents,
    run_extraction,
)
from kraken_spark.refassets import resource  # noqa: E402
from kraken_spark.session import get_spark  # noqa: E402

from conftest import assert_ice_extraction_committed, requires_reference  # noqa: E402

_HAVE_OVERFIT = all(os.path.exists(resource(f))
                    for f in ("overfit.mlmodel", "000236.png"))


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app="tests", cores=4, shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="module")
def ext_rows(spark):
    docs = generate_corpus_df(spark, 9)
    return plan_extraction(docs, num_partitions=4).collect()


def test_extraction_byte_identical(spark, ext_rows):
    """CER == 0 and text == ground truth for every synthetic page
    (the north rule's byte-identical-text-per-url invariant)."""
    docs = {r.url: r.text for r in generate_corpus_df(spark, 9).collect()}
    assert len(ext_rows) == 9
    for r in ext_rows:
        assert r.cer == 0.0
        assert r.text == docs[r.url]
        assert not r.guard_tripped
        assert r.n_lines == len(r.lines) > 0
        assert r.width > 0 and r.height > 0


def test_extracted_text_projection_matches(spark):
    docs = generate_corpus_df(spark, 6)
    ext = plan_extraction(docs, num_partitions=2)
    both = ext.select("url", F.col("text").alias("stage_text")).join(
        extracted_text(ext), "url"
    )
    assert all(r.stage_text == r.text for r in both.collect())


def test_garbage_html_trips_guard(spark):
    bad = spark.createDataFrame(
        [("u1", bytearray(b"not a png"), "x", "en"), ("u2", bytearray(b""), "", "fr")],
        "url string, html binary, text string, lang string",
    )
    rows = plan_extraction(bad, num_partitions=2).collect()
    assert len(rows) == 2
    assert all(r.guard_tripped and r.n_lines == 0 for r in rows)


def test_metrics_table_lineage(spark):
    docs = generate_corpus_df(spark, 6)
    ext = plan_extraction(docs, num_partitions=3)
    m = metrics_table(ext, run_id="t").collect()
    assert sum(r.n_docs for r in m) == 6
    assert all(r.run_id == "t" and r.stage == "extract" for r in m)
    assert all(r.mean_cer == 0.0 for r in m)


def test_checkpoint_resume_anti_join(spark):
    tmp = tempfile.mkdtemp(prefix="ks_resume_")
    try:
        docs = generate_corpus_df(spark, 8)
        first = docs.limit(5)
        run_extraction(first, out_path=f"{tmp}/out", metrics_path=f"{tmp}/metrics")
        remaining = remaining_documents(docs, f"{tmp}/out")
        assert remaining.count() == 3
        run_extraction(remaining, out_path=f"{tmp}/out")
        done = spark.read.parquet(f"{tmp}/out")
        assert done.select("url").distinct().count() == 8
        # idempotent: nothing left
        assert remaining_documents(docs, f"{tmp}/out").count() == 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_resume_raises_on_unreadable_output(spark):
    """Only an output that does not exist yet means "nothing done". An
    unreadable one must raise: returning every document would make a
    resumed job re-extract all of them and append duplicate rows."""
    from py4j.protocol import Py4JJavaError

    tmp = tempfile.mkdtemp(prefix="ks_resume_bad_")
    try:
        docs = generate_corpus_df(spark, 2)
        assert remaining_documents(docs, f"{tmp}/none").count() == 2
        assert remaining_documents(docs, f"{tmp}/ice", "ice").count() == 2
        os.makedirs(f"{tmp}/empty")
        assert remaining_documents(docs, f"{tmp}/empty").count() == 2
        os.makedirs(f"{tmp}/bad")
        with open(f"{tmp}/bad/part-0.parquet", "wb") as f:
            f.write(b"not a parquet file")
        with pytest.raises(Py4JJavaError, match="is not a Parquet file"):
            remaining_documents(docs, f"{tmp}/bad")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_ice_metrics_table_per_run_delta(spark):
    """Under table_format='ice' the metrics sink is itself an ice table:
    one committed snapshot per run, computed over exactly that run's
    output delta (not the accumulated table), summary linking back to the
    output snapshot id (north rule: lineage + metrics to an Iceberg
    metrics table)."""
    from kraken_spark.sources import icetable

    tmp = tempfile.mkdtemp(prefix="ks_icemetrics_")
    try:
        docs = generate_corpus_df(spark, 8)
        run_extraction(
            docs.limit(5), out_path=f"{tmp}/out", metrics_path=f"{tmp}/metrics",
            run_id="runA", table_format="ice",
        )
        run_extraction(
            remaining_documents(docs, f"{tmp}/out", table_format="ice"),
            out_path=f"{tmp}/out", metrics_path=f"{tmp}/metrics",
            run_id="runB", table_format="ice",
        )
        hist = icetable.history(f"{tmp}/metrics")
        assert len(hist) == 2
        # each metrics snapshot names the output snapshot it describes
        out_sids = [h["summary"]["source_snapshot_id"] for h in hist]
        assert sorted(int(s) for s in out_sids) == [1, 2]
        assert all(h["summary"]["source_table"] == f"{tmp}/out" for h in hist)
        m = icetable.read(spark, f"{tmp}/metrics").collect()
        # per-run deltas: runA rows count 5 docs, runB rows count 3 —
        # no double-counting of runA's docs in runB's snapshot
        by_run = {}
        for r in m:
            by_run[r.run_id] = by_run.get(r.run_id, 0) + r.n_docs
        assert by_run == {"runA": 5, "runB": 3}
        assert all(r.mean_cer == 0.0 for r in m)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_parquet_metrics_table_per_run_delta(spark):
    """The parquet twin of test_ice_metrics_table_per_run_delta: a resumed
    run's metrics roll up only the part files its own write added, never
    the rows earlier runs left in the same directory."""
    tmp = tempfile.mkdtemp(prefix="ks_pqmetrics_")
    try:
        docs = generate_corpus_df(spark, 8)
        run_extraction(docs.limit(5), out_path=f"{tmp}/out",
                       metrics_path=f"{tmp}/metrics", run_id="runA")
        run_extraction(remaining_documents(docs, f"{tmp}/out"),
                       out_path=f"{tmp}/out", metrics_path=f"{tmp}/metrics",
                       run_id="runB")
        by_run = {}
        for r in spark.read.parquet(f"{tmp}/metrics").collect():
            by_run[r.run_id] = by_run.get(r.run_id, 0) + r.n_docs
        assert by_run == {"runA": 5, "runB": 3}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_ice_extraction_commits_plan_rows_and_their_metrics(spark, tmp_path):
    """The fused plan's ice path (one job: tasks stage files and fold
    metrics, the driver commits both snapshots) commits plan_extraction's
    rows, and metrics rows equal to metrics_table over them."""
    from kraken_spark.sources import icetable

    docs = generate_corpus_df(spark, 6).localCheckpoint(eager=True)
    out, metrics, ref = (str(tmp_path / n) for n in ("out", "metrics", "ref"))
    run_extraction(docs, out_path=out, metrics_path=metrics, run_id="r1",
                   num_partitions=4, table_format="ice")

    def rows(df):
        return {r.url: {k: v for k, v in r.asDict(recursive=True).items()
                        if k != "wall_ms"} for r in df.collect()}

    want = plan_extraction(docs, num_partitions=4)
    assert rows(icetable.read(spark, out)) == rows(want)
    icetable.append(want.limit(0), ref)
    assert_ice_extraction_committed(spark, out, metrics, "r1", ref)


def test_ice_sink_writes_one_row_group_per_task(tmp_path):
    """A 200-row extraction task reaches the sink as four 64-row Arrow
    batches (maxRecordsPerBatch); its staged file is one row group, and
    its summary row folds all 200 rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kraken_spark.pipeline import _ice_sink
    from kraken_spark.schema import EXTRACTION_ARROW

    batch = pa.RecordBatch.from_pylist(
        [{"url": f"u{i}", "partition_id": 3, "n_lines": 2, "n_px": 10,
          "cer": None, "wall_ms": 0.5} for i in range(200)],
        schema=EXTRACTION_ARROW)
    sink = _ice_sink(str(tmp_path), lambda batches: batches)
    (summary,) = sink(iter(batch.slice(k, 64) for k in range(0, 200, 64)))
    (row,) = summary.to_pylist()
    assert row == {"file": row["file"], "partition_id": 3, "n_docs": 200,
                   "n_lines": 400, "n_px": 2000, "cer_sum": 0.0, "cer_n": 0,
                   "wall_ms": 100.0}
    meta = pq.read_metadata(os.path.join(str(tmp_path), row["file"]))
    assert meta.num_rows == 200 and meta.num_row_groups == 1


def test_serialization_roundtrip_spark(spark):
    from kraken_spark.operators.serialization import x_roundtrip_xml

    rows = x_roundtrip_xml(spark, "sf0.001").collect()
    assert rows
    assert all(r.text_match and r.baseline_match for r in rows)
    # line tags + languages survive serialize -> reparse in BOTH dialects
    # (ALTO Tags/TAGREFS/LANG, PageXML custom/primaryLanguage — the
    # reference's line metadata model, containers.py:88, alto.py:227-331)
    assert all(r.tags_match and r.language_match for r in rows)
    assert {r.fmt for r in rows} == {"alto", "pagexml"}


def test_xml_tag_language_parsing():
    """ALTO TAGREFS and PageXML custom attributes populate the tags and
    language schema fields."""
    import json

    from kraken_spark.kernels.xmlparse import parse_segmentation

    alto = b"""<?xml version="1.0"?>
<alto xmlns="http://www.loc.gov/standards/alto/ns-v4#">
 <Description><MeasurementUnit>pixel</MeasurementUnit>
  <sourceImageInformation><fileName>x.png</fileName></sourceImageInformation>
 </Description>
 <Tags><OtherTag ID="T1" TYPE="type" LABEL="heading"/></Tags>
 <Layout><Page WIDTH="100" HEIGHT="50" LANG="de">
  <PrintSpace><TextBlock ID="b0" HPOS="0" VPOS="0" WIDTH="100" HEIGHT="50">
   <TextLine ID="l0" HPOS="0" VPOS="0" WIDTH="100" HEIGHT="10" BASELINE="0,8 100,8" TAGREFS="T1" LANG="fr">
    <String CONTENT="hi"/>
   </TextLine>
  </TextBlock></PrintSpace></Page></Layout></alto>"""
    seg = parse_segmentation(alto)
    line = seg["lines"][0]
    assert json.loads(line["tags"]) == {"type": [{"type": "heading"}]}
    assert line["language"] == ["fr"]
    assert seg["regions"][0]["language"] == ["de"]

    page = b"""<?xml version="1.0"?>
<PcGts xmlns="http://schema.primaresearch.org/PAGE/gts/pagecontent/2019-07-15">
 <Page imageFilename="x" imageWidth="100" imageHeight="50" primaryLanguage="en">
  <TextRegion id="r0" custom="structure {type:paragraph;}">
   <Coords points="0,0 100,0 100,50 0,50"/>
   <TextLine id="l0" custom="structure {type:heading;}">
    <Coords points="0,0 100,0 100,10 0,10"/>
    <Baseline points="0,8 100,8"/>
    <TextEquiv><Unicode>hi</Unicode></TextEquiv>
   </TextLine>
  </TextRegion></Page></PcGts>"""
    seg = parse_segmentation(page)
    assert seg["regions"][0]["region_type"] == "paragraph"
    assert json.loads(seg["lines"][0]["tags"]) == {"type": [{"type": "heading"}]}
    # PAGE languages are ISO-639-3-normalised like the reference
    assert seg["lines"][0]["language"] == ["eng"]


def test_explode_pages_flags_undecodable_blob(spark, tmp_path):
    """An undecodable blob must emit ONE sentinel row (page_idx=-1) whose
    extraction commits guard_tripped=true — so a resumed job's anti-join
    (remaining_documents) converges instead of re-selecting the url
    forever."""
    from kraken_spark.pipeline import plan_extraction, remaining_documents
    from kraken_spark.sources.pdf import explode_pages

    docs = spark.createDataFrame(
        [("u://vector", b"%PDF-1.7 vector only", "gt", "en")],
        "url string, html binary, text string, lang string",
    )
    pages = explode_pages(docs)
    rows = pages.collect()
    assert len(rows) == 1 and rows[0].page_idx == -1
    ext = plan_extraction(pages.select("url", "html", "text", "lang"), num_partitions=1)
    out_path = str(tmp_path / "out")
    ext.write.parquet(out_path)
    committed = spark.read.parquet(out_path).collect()
    assert len(committed) == 1 and committed[0].guard_tripped
    assert remaining_documents(pages.select("url", "html", "text", "lang"), out_path).count() == 0


def test_pagexml_explicit_reading_order():
    """A PageXML ReadingOrder element (OrderedGroup/RegionRefIndexed)
    reversing the region order yields a line_orders alternative with the
    second region's lines first (page.py:273-316 semantics)."""
    from kraken_spark.kernels.xmlparse import parse_segmentation
    from kraken_spark.stages import extract_document

    page = b"""<?xml version="1.0"?>
<PcGts xmlns="http://schema.primaresearch.org/PAGE/gts/pagecontent/2019-07-15">
 <Page imageFilename="x" imageWidth="100" imageHeight="100">
  <ReadingOrder><OrderedGroup id="g0">
    <RegionRefIndexed index="1" regionRef="r0"/>
    <RegionRefIndexed index="0" regionRef="r1"/>
  </OrderedGroup></ReadingOrder>
  <TextRegion id="r0"><Coords points="0,0 100,0 100,50 0,50"/>
   <TextLine id="l0"><Coords points="0,0 100,0 100,10 0,10"/>
    <Baseline points="0,8 100,8"/><TextEquiv><Unicode>first</Unicode></TextEquiv></TextLine>
  </TextRegion>
  <TextRegion id="r1"><Coords points="0,50 100,50 100,100 0,100"/>
   <TextLine id="l1"><Coords points="0,50 100,50 100,60 0,60"/>
    <Baseline points="0,58 100,58"/><TextEquiv><Unicode>second</Unicode></TextEquiv></TextLine>
  </TextRegion>
 </Page></PcGts>"""
    seg = parse_segmentation(page)
    # index 0 -> r1, index 1 -> r0: explicit order puts l1 before l0
    assert seg["line_orders"] == [[1, 0]]
    out = extract_document(page, "u", "en", None)
    assert out["line_orders"] == [[1, 0]]
    assert [l["prediction"] for l in out["lines"]] == ["first", "second"]


def test_multimodel_dispatch_by_line_tags(spark):
    """Line-tag routing: heading/default go to their registry models,
    marginalia is ignored, all recognized lines are exact."""
    from kraken_spark.operators.advanced import x_multimodel_dispatch

    rows = x_multimodel_dispatch(spark, "sf0.001").collect()
    tags = {r.tag for r in rows}
    assert {"heading", "default"} <= tags
    by_tag = {r.tag: r for r in rows}
    assert by_tag["heading"].model_used == "heading_model"
    assert by_tag["default"].model_used == "default_model"
    if "marginalia" in tags:
        assert by_tag["marginalia"].model_used == "ignored"
        assert by_tag["marginalia"].text_exact is None
    assert all(r.text_exact for r in rows if r.tag in ("heading", "default"))
    if not _HAVE_OVERFIT:
        # without the reference fixture the trained rows degrade to none
        assert not any(r.url.startswith("trained://overfit/") for r in rows)


@requires_reference("overfit.mlmodel", "000236.png")
def test_multimodel_dispatch_trained_goldens(spark):
    """The trained-weights dispatch goldens ride along as their own rows,
    one per scenario, each byte-exact through overfit.mlmodel."""
    from kraken_spark.operators.advanced import x_multimodel_dispatch

    rows = x_multimodel_dispatch(spark, "sf0.001").collect()
    trained = [r for r in rows if r.url.startswith("trained://overfit/")]
    assert {r.tag for r in trained} == {
        "bbox_ignore", "bl_ignore", "bbox_default", "bl_default",
        "bl_nobidi", "bbox_nobidi"}
    assert all(r.text_exact and r.model_used == "overfit.mlmodel"
               for r in trained)


def test_serializers_produce_valid_xml(ext_rows):
    import xml.etree.ElementTree as ET

    from kraken_spark.kernels.serialize import serialize

    r = ext_rows[0].asDict(recursive=True)
    for fmt in ("alto", "pagexml", "hocr", "abbyyxml"):
        doc = serialize(r, fmt)
        root = ET.fromstring(doc.encode("utf-8"))
        assert root is not None
        # deterministic output: same row -> identical bytes
        assert serialize(r, fmt) == doc
    seg = __import__("json").loads(serialize(r, "json"))
    assert len(seg["lines"]) == r["n_lines"]
    # abbyy charParams reassemble each line's prediction minus whitespace
    ns = "{http://www.abbyy.com/FineReader_xml/FineReader10-schema-v1.xml}"
    root = ET.fromstring(serialize(r, "abbyyxml").encode("utf-8"))
    got = [
        "".join(cp.text or "" for cp in line.iter(f"{ns}charParams"))
        for line in root.iter(f"{ns}line")
    ]
    want = ["".join(l["prediction"].split()) for l in r["lines"]]
    assert got == want


def test_streaming_extraction_available_now(spark):
    from kraken_spark.streaming import stream_extraction

    tmp = tempfile.mkdtemp(prefix="ks_stream_")
    try:
        docs = generate_corpus_df(spark, 6)
        docs.write.mode("overwrite").parquet(f"{tmp}/in")
        q = stream_extraction(
            spark,
            f"{tmp}/in",
            f"{tmp}/out",
            f"{tmp}/ckpt",
            metrics_path=f"{tmp}/metrics",
            num_partitions=2,
        )
        q.awaitTermination(300)
        out = spark.read.parquet(f"{tmp}/out")
        assert out.count() == 6
        assert out.filter(F.col("cer") != 0.0).count() == 0
        # restart with same checkpoint: no reprocessing (exactly-once)
        q2 = stream_extraction(
            spark, f"{tmp}/in", f"{tmp}/out", f"{tmp}/ckpt", num_partitions=2
        )
        q2.awaitTermination(300)
        assert spark.read.parquet(f"{tmp}/out").count() == 6
        # RETRY simulation: foreachBatch is at-least-once — wipe the
        # checkpoint so the SAME files replay as the same batch ids; the
        # batch_id-keyed overwrite must rewrite, not duplicate
        shutil.rmtree(f"{tmp}/ckpt", ignore_errors=True)
        q3 = stream_extraction(
            spark, f"{tmp}/in", f"{tmp}/out", f"{tmp}/ckpt", num_partitions=2
        )
        q3.awaitTermination(300)
        out = spark.read.parquet(f"{tmp}/out")
        assert out.count() == 6, "retried micro-batch duplicated rows"
        assert out.select("url").distinct().count() == 6
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_blla_extraction_byte_identical(spark):
    """Neural segmentation path end-to-end: CER 0 / exact text per url."""
    docs = generate_corpus_df(spark, 6)
    gt = {r.url: r.text for r in docs.collect()}
    rows = plan_extraction(docs, num_partitions=2, segmenter="blla").collect()
    assert len(rows) == 6
    for r in rows:
        assert r.cer == 0.0 and r.text == gt[r.url]
        assert r.n_lines > 0 and r.n_regions > 0


def test_curved_extraction_quality(spark):
    """Curved-baseline pages through blla + per-cell dewarp are
    byte-identical (CER 0.0 on the full sweep; see
    test_curved_hard_cases_exact for the historical residuals)."""
    docs = generate_corpus_df(spark, 10, curved=True)
    rows = plan_extraction(docs, num_partitions=2, segmenter="blla_curved").collect()
    assert len(rows) == 10
    cers = [r.cer for r in rows]
    assert all(c == 0.0 for c in cers), cers
    assert not any(r.guard_tripped for r in rows)


def test_curved_hard_cases_exact():
    """The four pages that historically broke curved exactness (seed 1234):
    12/94 — curved-line fragment joins whose facing anchors carried
    Douglas-Peucker endpoint displacement (fixed: dense polylines through
    the join); 115/12 — short mid-band phantom fragments 8-10 heatmap px
    above the true baseline (fixed: short-fragment phantom tier). Kernel
    level, no Spark."""
    from kraken_spark.kernels import png, render
    from kraken_spark.stages import extract_document

    for i in (12, 94, 109, 115):
        d = render.render_curved_document(1234, i)
        out = extract_document(
            png.encode_png(d["img"]), f"u{i}", d["lang"],
            gt_text=d["text"], segmenter="blla_curved",
        )
        assert out["cer"] == 0.0, (i, out["cer"])


def test_cross_seed_hard_cases_exact():
    """Second wave of historical residuals, found by multi-seed sweeps:
    (7,35) — a touching fragment pair whose facing anchors disagreed by 8
    (fixed: touch-join on overlapping y-intervals); (7,42)/(555,49) —
    mid-band phantoms beyond the fixed suppression windows (fixed:
    ink-below-evidence tier, gated on sitting inside the covering line's
    y-span so a REAL short line right above a full line — the
    (1234,4) straight case — is never suppressed)."""
    from kraken_spark.kernels import png, render
    from kraken_spark.stages import extract_document

    for seed, i, rend, seg in (
        (7, 35, render.render_curved_document, "blla_curved"),
        (7, 42, render.render_curved_document, "blla_curved"),
        (555, 49, render.render_curved_document, "blla_curved"),
        (1234, 4, render.render_document, "blla"),
        (7, 15, render.render_document, "blla"),
        # reference-vectorizer chain (kernels/blla_vec.py): page 32 is the
        # historical region-assignment rotation case (footer midpoint 1px
        # outside the DP(10)-simplified region -> nearest-region fallback);
        # (7,15) re-checks the analog's hard page through the port
        (1234, 32, render.render_document, "blla_ref"),
        (7, 15, render.render_document, "blla_ref"),
    ):
        d = rend(seed, i)
        out = extract_document(
            png.encode_png(d["img"]), f"u{seed}_{i}", d["lang"],
            gt_text=d["text"], segmenter=seg,
        )
        assert out["cer"] == 0.0, (seed, i, seg, out["cer"])


def test_xml_payload_extraction_path(spark):
    """documents whose html column holds ALTO/PageXML bytes take the
    pre-segmented input path (no OCR) and still yield byte-identical text."""
    from kraken_spark.kernels.serialize import serialize
    from kraken_spark.operators.extraction import _extraction

    ext_rows = _extraction(spark, "sf0.001").collect()
    xml_docs = [
        (r.url, bytearray(serialize(r.asDict(recursive=True), fmt).encode("utf-8")), r.text, r.lang)
        for r, fmt in zip(ext_rows, ["alto", "pagexml"] * len(ext_rows))
    ]
    df = spark.createDataFrame(
        xml_docs, "url string, html binary, text string, lang string"
    )
    out = {r.url: r for r in plan_extraction(df, num_partitions=2).collect()}
    assert len(out) == len(ext_rows)
    for r in ext_rows:
        o = out[r.url]
        assert not o.guard_tripped
        assert o.cer == 0.0 and o.text == r.text
        assert o.n_lines == r.n_lines and o.width == r.width


def test_xmlparse_rejects_garbage():
    from kraken_spark.kernels.xmlparse import parse_segmentation

    with pytest.raises(ValueError):
        parse_segmentation(b"<html><body>no</body></html>")
    with pytest.raises((ValueError, Exception)):
        parse_segmentation(b"not xml at all")


def test_streaming_watermarked_ingest_stats(spark):
    from kraken_spark.streaming import stream_ingest_stats

    tmp = tempfile.mkdtemp(prefix="ks_wm_")
    try:
        docs = generate_corpus_df(spark, 8)
        docs.write.mode("overwrite").parquet(f"{tmp}/in")
        q = stream_ingest_stats(
            spark, f"{tmp}/in", f"{tmp}/ckpt", watermark="1 second", window="2 seconds"
        )
        q.awaitTermination(300)
        out = spark.sql("select * from ingest_stats").collect()
        # corpus timestamps advance 1 s/doc -> multiple closed 2 s windows;
        # append mode emits only watermark-closed windows
        assert sum(r.n_docs for r in out) >= 6
        assert {r.lang for r in out} <= {"en", "fr", "ar"}
        assert all(r.n_bytes > 0 and r.win_end > r.win_start for r in out)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_stateful_first_seen_dedup(spark):
    from kraken_spark.streaming import stream_dedup_first_seen

    tmp = tempfile.mkdtemp(prefix="ks_state_")
    try:
        docs = generate_corpus_df(spark, 6).cache()
        # duplicate 3 of the 6 under new urls (same text -> same hash)
        dupes = docs.limit(3).withColumn(
            "url", F.concat(F.col("url"), F.lit("#dup"))
        ).withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 1 HOUR"))
        docs.unionByName(dupes).write.mode("overwrite").parquet(f"{tmp}/in")
        q = stream_dedup_first_seen(spark, f"{tmp}/in", f"{tmp}/out", f"{tmp}/ckpt")
        q.awaitTermination(300)
        out = spark.read.parquet(f"{tmp}/out")
        assert out.count() == 6  # one row per distinct content hash
        assert out.filter(F.col("url").endswith("#dup")).count() == 0  # earliest kept
        docs.unpersist()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_bucketed_join_eliminates_shuffle(spark, tmp_path):
    """Bucketing both sides of a recurring join key pre-co-locates the data:
    the physical plan for the join contains NO Exchange on either side —
    the shuffle-minimization pattern the 100 TB pipeline uses for repeated
    lineitem/orders-shaped joins (bucket(url) in the Iceberg spec)."""
    shutil.rmtree("spark-warehouse", ignore_errors=True)
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    l = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    o.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("b_orders")
    l.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("b_lineitem")
    # disable auto-broadcast so the planner must use the bucketed layout
    # (at real scale neither side broadcasts; here the test tables are tiny)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan[:2000]
        assert "SortMergeJoin" in plan
        n = joined.count()
        assert n == l.count()  # every lineitem has its order
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    spark.sql("DROP TABLE b_orders")
    spark.sql("DROP TABLE b_lineitem")
    shutil.rmtree("spark-warehouse", ignore_errors=True)


def test_extraction_plan_has_single_shuffle(spark):
    """The extraction pipeline is map-only per url: exactly ONE Exchange
    (the explicit weight-salted repartition) may appear in the physical
    plan — a regression here means an accidental extra shuffle that would
    dominate at 100 TB."""
    tmp = tempfile.mkdtemp(prefix="ks_plan_")
    try:
        generate_corpus_df(spark, 4).write.mode("overwrite").parquet(f"{tmp}/in")
        docs = spark.read.parquet(f"{tmp}/in")
        plan = (
            plan_extraction(docs, num_partitions=4)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("Exchange") == 1, plan[:2000]
        assert "MapInArrow" in plan, plan[:1500]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_alto_glyph_elements(ext_rows):
    """ALTO output carries per-codepoint Glyph children with GC confidences
    (the reference's templates/alto Glyph/GC surface)."""
    import xml.etree.ElementTree as ET

    from kraken_spark.kernels.serialize import serialize

    r = ext_rows[0].asDict(recursive=True)
    root = ET.fromstring(serialize(r, "alto").encode("utf-8"))
    glyphs = [el for el in root.iter() if el.tag.rsplit("}", 1)[-1] == "Glyph"]
    n_nonspace = sum(
        1 for l in r["lines"] for ch in l["prediction"] if not ch.isspace()
    )
    assert len(glyphs) == n_nonspace
    assert all(0.0 <= float(g.get("GC")) <= 1.0 for g in glyphs)
    # round-trip still intact (String CONTENT unchanged)
    from kraken_spark.kernels.xmlparse import parse_alto

    seg = parse_alto(serialize(r, "alto").encode("utf-8"))
    assert [l["text"] for l in seg["lines"]] == [l["prediction"] for l in r["lines"]]


def test_rgb_page_extraction(spark):
    """RGB page payloads decode through the luma path and extract exactly."""
    import numpy as np

    from kraken_spark.kernels import png, render
    from kraken_spark.stages import extract_document

    d = render.render_document(42, 0)
    rgb = np.stack([d["img"]] * 3, axis=-1)
    out = extract_document(png.encode_png(rgb), "u", d["lang"], d["text"])
    assert out["cer"] == 0.0 and not out["guard_tripped"]


def test_line_orders_alternative(spark, ext_rows):
    """Every extraction row carries one alternative (neural) reading order —
    a valid permutation of the line indices (Segmentation.line_orders)."""
    for r in ext_rows:
        assert len(r.line_orders) == 1
        assert sorted(r.line_orders[0]) == list(range(r.n_lines))


def test_ocr_report_query_and_renderer(spark):
    """x_ocr_report aggregates alignment counts per language (all-exact
    corpus -> 100% accuracies, zero edits) and to_report renders the
    reference's report-template layout."""
    from kraken_spark.kernels.serialize import to_report
    from kraken_spark.operators.extraction import x_ocr_report

    rows = x_ocr_report(spark, "sf0.001").collect()
    assert {r.lang for r in rows} == {"ar", "en", "fr"}
    for r in rows:
        assert r.errors == 0 and r.insertions == 0 and r.deletions == 0
        assert r.char_acc == 100.0 and r.char_acc_ci == 100.0 and r.word_acc == 100.0

    doc = to_report(
        {
            "name": "corpus",
            "chars": 100,
            "errors": 3,
            "character_accuracy": 97.0,
            "character_CI_accuracy": 98.0,
            "word_accuracy": 90.0,
            "insertions": 1,
            "deletions": 1,
            "substitutions": 1,
            "scripts": [("en", 100, 3, 97.0)],
            "counts": [(2, "a", "b"), (1, "c", "")],
        }
    )
    assert doc.startswith("=== report corpus ===\n")
    assert "97.00%\tCharacter Accuracy\n" in doc
    assert "98.00%\tCharacter Accuracy (Case-insensitive)\n" in doc
    assert "100\t3\t97.00%\ten" in doc
    assert "2\t{ a } - { b }" in doc


def test_json_payload_extraction_path(spark):
    """documents whose html column holds a JSON Segmentation (to_json
    output) take the pre-segmented path like XML — byte-identical text,
    no OCR (the reference's JSON round-trip, kraken.py:179-181,215-220)."""
    from kraken_spark.kernels.serialize import serialize
    from kraken_spark.operators.extraction import _extraction

    ext_rows = _extraction(spark, "sf0.001").collect()
    json_docs = [
        (r.url, bytearray(serialize(r.asDict(recursive=True), "json").encode("utf-8")), r.text, r.lang)
        for r in ext_rows
    ]
    df = spark.createDataFrame(
        json_docs, "url string, html binary, text string, lang string"
    )
    out = {r.url: r for r in plan_extraction(df, num_partitions=2).collect()}
    assert len(out) == len(ext_rows)
    for r in ext_rows:
        o = out[r.url]
        assert not o.guard_tripped
        assert o.cer == 0.0 and o.text == r.text
        assert o.n_lines == r.n_lines and o.width == r.width


def test_vertical_extraction_spark_path(spark):
    """Vertical text through the full Spark stage (x_extract_vertical):
    rotated pages, text_direction='vertical' -> byte-identical text,
    vertical line geometry, reading-axis cuts."""
    from kraken_spark.operators.extraction import x_extract_vertical

    rows = x_extract_vertical(spark, "sf0.001").collect()
    assert rows and all(r.cer == 0.0 for r in rows)
    assert {r.lang for r in rows} == {"ar", "en", "fr"}


def test_job_cli_end_to_end(spark, capsys):
    """spark-submit entry (job.main): extract -> resume no-op -> abbyy
    serialize sidecar -> kraken-style accuracy report on stdout."""
    from kraken_spark.job import main

    tmp = tempfile.mkdtemp(prefix="ks_jobcli_")
    try:
        generate_corpus_df(spark, 6).write.mode("overwrite").parquet(f"{tmp}/in")
        rc = main(
            ["--input", f"{tmp}/in", "--output", f"{tmp}/out",
             "--metrics", f"{tmp}/metrics", "--serialize", "abbyyxml",
             "--report", "--report-per-file", "--run-id", "smoke"]
        )
        assert rc == 0
        out = capsys.readouterr().out
        assert "=== report smoke ===" in out
        # per-file detail (contrib/test_per_file.py view): one line per
        # document + across-file averages
        assert out.count("Char: ") == 6
        assert "CER: 0.0%" in out and "WER: 0.0%" in out
        assert "Average character accuracy: 100.00%" in out
        assert "Average word accuracy: 100.00%" in out
        assert "100.00%\tCharacter Accuracy" in out
        assert spark.read.parquet(f"{tmp}/out").count() == 6
        assert spark.read.parquet(f"{tmp}/out_abbyyxml").count() == 6
        assert spark.read.parquet(f"{tmp}/metrics").count() > 0
        # resume over a fully-committed output processes nothing
        rc = main(["--input", f"{tmp}/in", "--output", f"{tmp}/out", "--resume"])
        assert rc == 0
        assert "resume: 0 documents remaining" in capsys.readouterr().out
        # --export-dataset compiles a reference-format binary line dataset
        rc = main(["--input", f"{tmp}/in", "--output", f"{tmp}/out",
                   "--resume", "--export-dataset", f"{tmp}/lines.arrow"])
        assert rc == 0
        from kraken_spark.sources.arrow_dataset import read_binary_dataset

        table, meta = read_binary_dataset(f"{tmp}/lines.arrow")
        assert len(table) == meta["counts"]["all"] > 0
        assert "exported" in capsys.readouterr().out
        # --export-wet ships the committed text as Common-Crawl WET shards
        rc = main(["--input", f"{tmp}/in", "--output", f"{tmp}/out",
                   "--resume", "--export-wet", f"{tmp}/wet"])
        assert rc == 0
        import json as _json

        from kraken_spark.sources.warc import warc_to_documents

        shards = _json.load(open(f"{tmp}/wet/manifest.json"))["shards"]
        assert sum(s["n"] for s in shards) == 6
        wet_rows = [
            d for s in shards
            for d in warc_to_documents(open(s["path"], "rb").read())
        ]
        committed = {
            r.url: r.text for r in spark.read.parquet(f"{tmp}/out").collect()
        }
        assert {d["url"]: d["html"].decode() for d in wet_rows} == committed
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_scan_pushdown_and_column_pruning(spark, tmp_path):
    """Filters and projections must reach the parquet scan: PushedFilters
    carries the lang predicate and ReadSchema holds ONLY the projected
    columns — at 100 TB a scan that reads the html payload for a
    url-count query is the difference between minutes and hours."""
    p = str(tmp_path / "docs")
    generate_corpus_df(spark, 4).write.mode("overwrite").parquet(p)
    q = (
        spark.read.parquet(p)
        .filter(F.col("lang") == "en")
        .select("url", "lang")
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    scan = [l for l in plan.splitlines() if "FileScan" in l or "Scan parquet" in l]
    assert scan, plan[:1500]
    line = scan[0]
    assert "PushedFilters: [" in line and "lang" in line.split("PushedFilters:")[1].split("]")[0]
    read_schema = line.split("ReadSchema:")[1]
    assert "url" in read_schema and "lang" in read_schema
    assert "html" not in read_schema and "warc_ts" not in read_schema


def test_seam_extraction_spark_path(spark):
    """Seam-boundary segmentation through the full Spark stage: CER 0.0
    everywhere and polygonal (non-rect) boundaries present."""
    docs = generate_corpus_df(spark, 6)
    rows = plan_extraction(docs, num_partitions=2, segmenter="blla_seam").collect()
    assert len(rows) == 6
    assert all(r.cer == 0.0 for r in rows)
    assert all(len(l.boundary) >= 4 for r in rows for l in r.lines)


def test_streaming_mixed_html_and_image_payloads(spark):
    """§2.9 + the web-HTML leg: a micro-batch stream whose documents mix
    rendered page images and raw web-HTML byte streams extracts BOTH at
    CER 0 through the same foreachBatch plan (payload sniffing is
    per-document inside the fused Arrow stage)."""
    from kraken_spark.kernels.htmlparse import write_boilerplate_page
    from kraken_spark.streaming import stream_extraction

    tmp = tempfile.mkdtemp(prefix="ks_stream_html_")
    try:
        docs = generate_corpus_df(spark, 6).collect()
        mixed = [
            (
                r.url,
                r.warc_ts,
                write_boilerplate_page(r.text, r.lang, r.url)
                if i % 2
                else r.html,
                r.text,
                r.lang,
            )
            for i, r in enumerate(docs)
        ]
        spark.createDataFrame(
            mixed, "url string, warc_ts timestamp, html binary, text string, lang string"
        ).write.mode("overwrite").parquet(f"{tmp}/in")
        q = stream_extraction(
            spark, f"{tmp}/in", f"{tmp}/out", f"{tmp}/ckpt", num_partitions=2
        )
        q.awaitTermination(300)
        out = spark.read.parquet(f"{tmp}/out")
        assert out.count() == 6
        assert out.filter(F.col("cer") != 0.0).count() == 0
        # the HTML docs took the pre-segmented path: exactly one region
        html_urls = {m[0] for i, m in enumerate(mixed) if i % 2}
        for row in out.collect():
            if row.url in html_urls:
                assert row.n_regions == 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_job_cli_warc_input(spark, capsys):
    """--input-format warc: a directory of .warc.gz files (Common-Crawl
    layout) extracts through the same job — WARC-sourced HTML pages yield
    byte-identical text per url."""
    import os

    from kraken_spark.job import main
    from kraken_spark.kernels.htmlparse import write_boilerplate_page
    from kraken_spark.kernels.render import render_document
    from kraken_spark.sources.warc import write_warc_gz

    tmp = tempfile.mkdtemp(prefix="ks_jobwarc_")
    try:
        os.makedirs(f"{tmp}/warcs")
        gt = {}
        for fi in range(2):
            rows = []
            for i in (2 * fi, 2 * fi + 1):
                d = render_document(42, i)
                url = f"https://example.org/{d['lang']}/doc-{i:08d}"
                rows.append(
                    {
                        "url": url,
                        "warc_ts": "2026-08-17T00:00:00Z",
                        "html": write_boilerplate_page(d["text"], d["lang"], url),
                        "lang": d["lang"],
                    }
                )
                gt[url] = d["text"]
            with open(f"{tmp}/warcs/crawl-{fi}.warc.gz", "wb") as f:
                f.write(write_warc_gz(rows))
        rc = main(
            ["--input", f"{tmp}/warcs", "--input-format", "warc",
             "--output", f"{tmp}/out", "--run-id", "warc-smoke",
             "--report", "--export-dataset", f"{tmp}/lines.arrow",
             "--export-cdx", f"{tmp}/cdx"]
        )
        assert rc == 0
        # warc records carry no ground truth: both sidecars must skip
        # cleanly, not crash on the synthesized NULL text column
        msgs = capsys.readouterr().out
        assert "--report skipped" in msgs
        assert "--export-dataset skipped" in msgs
        out_rows = spark.read.parquet(f"{tmp}/out").collect()
        assert len(out_rows) == 4
        for r in out_rows:
            assert r.text == gt[r.url]
            assert not r.guard_tripped
        # --export-cdx built a routable random-access index over the input
        from kraken_spark.sources.warc import cdx_lookup, fetch_record

        assert os.path.exists(f"{tmp}/cdx/cluster.idx")
        for url in gt:
            hits = cdx_lookup(f"{tmp}/cdx", url)
            assert len(hits) == 1
            h = hits[0]
            local = "/" + h["filename"].removeprefix("file:").lstrip("/")
            with open(local, "rb") as f:
                f.seek(h["offset"])
                _, payload = fetch_record(f.read(h["length"]))
            assert h["url"] == url and payload.startswith(b"HTTP/1.1 200")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_extraction_ice_table_sink(spark):
    """table_format='ice': each micro-batch is ONE atomic snapshot with
    stream_batch_id in the summary; a replay over a LOST checkpoint finds
    its batch ids committed and is a commit-free no-op (exactly-once from
    at-least-once foreachBatch + idempotent commit)."""
    from kraken_spark.sources import icetable as it
    from kraken_spark.streaming import stream_extraction

    tmp = tempfile.mkdtemp(prefix="ks_stream_ice_")
    try:
        docs = generate_corpus_df(spark, 6)
        docs.write.mode("overwrite").parquet(f"{tmp}/in")
        q = stream_extraction(
            spark, f"{tmp}/in", f"{tmp}/out", f"{tmp}/ckpt",
            num_partitions=2, table_format="ice",
        )
        q.awaitTermination(300)
        out = it.read(spark, f"{tmp}/out")
        assert out.count() == 6
        assert out.filter(F.col("cer") != 0.0).count() == 0
        batches = [
            h["summary"].get("stream_batch_id")
            for h in it.history(f"{tmp}/out")
        ]
        assert batches and all(b is not None for b in batches)
        head = it.current_snapshot_id(f"{tmp}/out")
        # lost checkpoint, same input: replayed batch ids commit nothing
        shutil.rmtree(f"{tmp}/ckpt", ignore_errors=True)
        q2 = stream_extraction(
            spark, f"{tmp}/in", f"{tmp}/out", f"{tmp}/ckpt",
            num_partitions=2, table_format="ice",
        )
        q2.awaitTermination(300)
        assert it.current_snapshot_id(f"{tmp}/out") == head
        assert it.read(spark, f"{tmp}/out").count() == 6
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_extraction_ice_two_queries_one_table(spark):
    """Two streams with their own checkpoints write one ice table. Both
    have a batch 0; the exactly-once key is (batch id, query), so the
    second stream's batch commits instead of passing for a replay."""
    from kraken_spark.sources import icetable as it
    from kraken_spark.streaming import stream_extraction

    tmp = tempfile.mkdtemp(prefix="ks_stream_ice2_")
    try:
        docs = generate_corpus_df(spark, 6).localCheckpoint(eager=True)
        urls = sorted(r.url for r in docs.select("url").collect())
        docs.where(F.col("url").isin(urls[:3])).write.parquet(f"{tmp}/in1")
        docs.where(F.col("url").isin(urls[3:])).write.parquet(f"{tmp}/in2")
        for i in (1, 2):
            stream_extraction(
                spark, f"{tmp}/in{i}", f"{tmp}/out", f"{tmp}/ckpt{i}",
                num_partitions=2, table_format="ice",
            ).awaitTermination(300)
        assert it.current_snapshot_id(f"{tmp}/out") == 2
        assert [h["summary"]["stream_batch_id"] for h in it.history(f"{tmp}/out")] == [0, 0]
        got = sorted(r.url for r in it.read(spark, f"{tmp}/out").collect())
        assert got == urls
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_report_per_file_counts_match_align_counts(spark):
    """report_over(per_file=True) rows equal a driver-side recomputation
    through kernels.metrics.align_counts/levenshtein/wer per url — the
    per-file detail analog of the reference's contrib/test_per_file.py."""
    import pyspark.sql.functions as F

    from kraken_spark.corpus import corpus_for
    from kraken_spark.kernels.metrics import align_counts, levenshtein, wer
    from kraken_spark.operators.extraction import report_over
    from kraken_spark.pipeline import extracted_text, plan_extraction

    docs = corpus_for(spark, "sf0.001").limit(6)
    ext = extracted_text(plan_extraction(docs, num_partitions=4)).join(
        docs.select("url", "lang"), "url"
    )
    detail = report_over(
        ext.select("url", "lang", "text"),
        docs.select("url", F.col("text").alias("gt")),
        per_file=True,
    ).collect()
    gt_map = {r.url: r.text for r in docs.select("url", "text").collect()}
    hyp_map = {r.url: r.text for r in ext.select("url", "text").collect()}
    assert len(detail) == 6
    for r in detail:
        ref, hyp = gt_map[r.url], hyp_map[r.url]
        ac = align_counts(ref, hyp)
        assert r.chars == len(ref)
        assert r.errors == ac["insertions"] + ac["deletions"] + ac["substitutions"]
        assert r.insertions == ac["insertions"]
        assert r.deletions == ac["deletions"]
        assert r.substitutions == ac["substitutions"]
        assert r.ci_errors == levenshtein(ref.casefold(), hyp.casefold())
        nw = len(ref.split())
        assert r.words == nw
        assert r.word_errors == int(round(wer(ref, hyp) * nw))
        assert r.char_acc == 100.0 and r.word_acc == 100.0  # CER-0 corpus
