"""Extraction-pipeline queries for the driver contract (rows-only checks).

These exercise the fused Arrow-UDF extraction (decode -> nlbin -> segment ->
reading order -> recognize -> BiDi) — not SQL-expressible, so no oracle_sql;
byte-identity vs ground truth is asserted in tests/test_pipeline_spark.py
and reported through the `cer` column (0.0 everywhere on the corpus).

The synthetic corpus is generated deterministically per the FIXTURES.md
contract; `sf_dir` selects only the document count so the driver's sf=0.01
run stays fast.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import SparkSession

from ..corpus import corpus_for, docs_for_sf
from ..pipeline import extracted_text, metrics_table, plan_extraction
from ..session import lineage_cut


def _n_docs(sf_dir: str) -> int:
    return docs_for_sf(sf_dir)


def _extraction(spark: SparkSession, sf_dir: str):
    docs = corpus_for(spark, sf_dir)
    # 1x-core partitioning: finer-than-core partitions only add
    # scheduling overhead (measured at the 240-doc bench size: 1x 1.37 s
    # vs 3x 1.91 s)
    return plan_extraction(
        docs, num_partitions=spark.sparkContext.defaultParallelism
    )


def _ordered(df, *cols):
    """Deterministic output order WITHOUT a global orderBy: a global sort
    samples its child to compute range boundaries, which re-executes the
    whole extraction mapInArrow a second time (2x the query cost). The x_*
    results are small (<= a few thousand rows), so one explicit shuffle to
    a single partition + an in-partition sort gives the same deterministic
    order with the extraction computed exactly once."""
    return df.repartition(1).sortWithinPartitions(*cols)


def x_extract_text(spark, sf):
    """Flagship: byte-identical extracted text per url."""
    return _ordered(extracted_text(_extraction(spark, sf)), "url")


def x_extract_geometry(spark, sf):
    """Line + region geometry in one table (driver-window consolidation of
    the former x_extract_lines / x_extract_regions queries; covers both the
    normalized line table and the line<->region assignment join).

    kind='line' rows: one per recognized line, geometry projected to
    hashable scalars (bbox flattened to x0/y0/x1/y1 ints, baseline as JSON
    — the driver's pandas canonicalization cannot sort array cells), with
    its PRIMARY region's type joined in (region_id = region_ids[0]; the
    full multi-membership list is emitted as region_ids_json so no
    assignment is lost — region n_lines counts use all memberships).
    kind='region' rows: one per region with its line count (left join —
    empty regions keep a null n_lines).

    The extraction is cut once (lineage_cut) before it is exploded: the
    line rows, the region rows and both joins each read it, and an uncut
    plan ran the page pipeline once per branch (four MapInArrow)."""
    ext = lineage_cut(_extraction(spark, sf))
    lines = ext.select("url", F.explode("lines").alias("l"))
    regions = ext.select("url", F.explode("regions").alias("r")).select(
        "url",
        F.col("r.id").alias("region_id"),
        F.col("r.region_type").alias("region_type"),
        F.col("r.rank").alias("region_rank"),
    )
    line_rows = (
        lines.select(
            "url",
            F.col("l.rank").alias("idx"),
            F.col("l.id").alias("id"),
            F.col("l.bbox")[0].alias("x0"),
            F.col("l.bbox")[1].alias("y0"),
            F.col("l.bbox")[2].alias("x1"),
            F.col("l.bbox")[3].alias("y1"),
            F.to_json(F.col("l.baseline")).alias("baseline_json"),
            F.col("l.prediction").alias("prediction"),
            F.col("l.display_order").alias("display_order"),
            F.col("l.region_ids")[0].alias("region_id"),
            F.to_json(F.col("l.region_ids")).alias("region_ids_json"),
        )
        .join(regions.select("url", "region_id", "region_type"),
              ["url", "region_id"], "left")
        .select(
            "url",
            F.lit("line").alias("kind"),
            "idx",
            "id",
            "region_id",
            "region_type",
            "x0",
            "y0",
            "x1",
            "y1",
            "baseline_json",
            "region_ids_json",
            "prediction",
            "display_order",
            F.lit(None).cast("long").alias("n_lines"),
        )
    )
    line_counts = (
        lines.select("url", F.explode("l.region_ids").alias("region_id"))
        .groupBy("url", "region_id")
        .agg(F.count("*").alias("n_lines"))
    )
    region_rows = (
        regions.join(line_counts, ["url", "region_id"], "left")
        .select(
            "url",
            F.lit("region").alias("kind"),
            F.col("region_rank").alias("idx"),
            F.col("region_id").alias("id"),
            "region_id",
            "region_type",
            F.lit(None).cast("int").alias("x0"),
            F.lit(None).cast("int").alias("y0"),
            F.lit(None).cast("int").alias("x1"),
            F.lit(None).cast("int").alias("y1"),
            F.lit(None).cast("string").alias("baseline_json"),
            F.lit(None).cast("string").alias("region_ids_json"),
            F.lit(None).cast("string").alias("prediction"),
            F.lit(None).cast("boolean").alias("display_order"),
            "n_lines",
        )
    )
    return _ordered(line_rows.unionByName(region_rows), "url", "kind", "idx")


def x_extract_seam(spark, sf):
    """Neural segmentation with seam-carved polygonal line environments
    (kernels/seamcarve.py — the reference's
    calculate_polygonal_environment/_calc_seam,
    lib/segmentation.py:560-635,747-842): boundaries are DP seams through
    the inter-line gaps; extraction goes through polygon-masked crops and
    stays byte-identical (CER 0.0, asserted in
    tests/test_pipeline_spark.py). Emits per-line polygon sizes so the
    driver check sees the polygonal geometry."""
    docs = corpus_for(spark, sf)
    ext = plan_extraction(
        docs,
        num_partitions=spark.sparkContext.defaultParallelism,
        segmenter="blla_seam",
    )
    lines = ext.select(
        "url", "lang", F.round("cer", 9).alias("cer"), F.explode("lines").alias("l")
    )
    return _ordered(
        lines.select(
            "url",
            "lang",
            "cer",
            F.col("l.rank").alias("line_idx"),
            F.size("l.boundary").alias("n_boundary_pts"),
            F.col("l.prediction").alias("prediction"),
        ),
        "url",
        "line_idx",
    )


def x_extract_vertical(spark, sf, ordered=True):
    """Vertical-text extraction end-to-end: the standard corpus pages are
    rotated 90° CW in an Arrow stage (lines become vertical columns) and
    extracted with text_direction='vertical' — rotate-segment-unrotate +
    strip rotate-back (the reference's 4-valued text_direction,
    kraken/pageseg.py:307-454 + bbox-crop rotate,
    lib/segmentation.py:1631-1643). CER must be 0.0 (asserted in
    tests/test_pipeline_spark.py)."""
    import pyarrow as pa

    docs = corpus_for(spark, sf)

    def rotate(batches):
        import numpy as np

        from ..kernels import png

        for b in batches:
            rows = b.to_pylist()
            for r in rows:
                img = png.to_grayscale(png.decode_png(bytes(r["html"])))
                r["html"] = png.encode_png(np.ascontiguousarray(np.rot90(img, k=3)))
            yield pa.RecordBatch.from_pylist(rows, schema=b.schema)

    vdocs = docs.mapInArrow(rotate, schema=docs.schema)
    ext = plan_extraction(
        vdocs,
        num_partitions=spark.sparkContext.defaultParallelism,
        text_direction="vertical",
    )
    out = ext.select(
        "url", "lang", "n_lines", F.round("cer", 9).alias("cer"), "text"
    )
    return _ordered(out, "url") if ordered else out


def x_ocr_report(spark, sf):
    """Per-language OCR accuracy report — the data behind the reference's
    `report` template (/root/reference/kraken/templates/report, fed by
    global_align counts, lib/dataset/utils.py:284-330): character/word
    accuracy (incl. case-insensitive) and insertion/deletion/substitution
    totals from a full alignment backtrace per document, PLUS the CER
    rollup columns of the former x_extract_cer_report (mean/max CER,
    n_lines, guard counters — driver-window consolidation; all zeros /
    clean on the corpus). Rendered to the reference's text layout by
    kernels/serialize.to_report (tested in tests/test_pipeline_spark.py)."""
    gt = corpus_for(spark, sf).select("url", F.col("text").alias("gt"))
    ext = _extraction(spark, sf).select(
        "url", "lang", "text", "cer", "n_lines", "guard_tripped"
    )
    return report_over(ext, gt, side_table_sf=sf)


def report_over(ext, gt, per_file: bool = False, side_table_sf=None):
    """Per-language accuracy rollup over (url, lang, text) extraction rows
    joined with (url, gt) ground truth — shared by x_ocr_report and the
    job's --report flag. When the input also carries cer / n_lines /
    guard_tripped columns (x_ocr_report passes them), the rollup adds the
    CER summary columns in the same single pass — no second extraction.

    per_file=True returns the PER-URL detail table instead of the
    language rollup — one row per document with its own counts and
    char/word accuracies, the model-debugging view of the reference's
    contrib/test_per_file.py (per-source "Char: N, CER: x%, WER: y%"
    lines, /root/reference/kraken/contrib/test_per_file.py:135-182)."""
    import pyarrow as pa

    joined = ext.join(gt, "url")
    with_cer = "cer" in joined.columns

    out_schema = (
        "url string, lang string, chars long, errors long, ci_errors long, "
        "words long, word_errors long, insertions long, deletions long, "
        "substitutions long"
    )
    if with_cer:
        out_schema += ", cer double, n_lines long, guard_tripped boolean"

    def counts(batches):
        from ..kernels.metrics import align_counts, levenshtein, wer

        fields = [
            ("url", pa.string()),
            ("lang", pa.string()),
            ("chars", pa.int64()),
            ("errors", pa.int64()),
            ("ci_errors", pa.int64()),
            ("words", pa.int64()),
            ("word_errors", pa.int64()),
            ("insertions", pa.int64()),
            ("deletions", pa.int64()),
            ("substitutions", pa.int64()),
        ]
        if with_cer:
            fields += [
                ("cer", pa.float64()),
                ("n_lines", pa.int64()),
                ("guard_tripped", pa.bool_()),
            ]
        schema = pa.schema(fields)
        for b in batches:
            rows = []
            for r in b.to_pylist():
                ref, hyp = r["gt"], r["text"]
                ac = align_counts(ref, hyp)
                nw = len(ref.split())
                row = {
                    "url": r["url"],
                    "lang": r["lang"],
                    "chars": len(ref),
                    "errors": ac["insertions"] + ac["deletions"] + ac["substitutions"],
                    "ci_errors": levenshtein(ref.casefold(), hyp.casefold()),
                    "words": nw,
                    "word_errors": int(round(wer(ref, hyp) * nw)),
                    "insertions": ac["insertions"],
                    "deletions": ac["deletions"],
                    "substitutions": ac["substitutions"],
                }
                if with_cer:
                    row["cer"] = r["cer"]
                    row["n_lines"] = r["n_lines"]
                    row["guard_tripped"] = r["guard_tripped"]
                rows.append(row)
            yield pa.RecordBatch.from_pylist(rows, schema=schema)

    per_doc = joined.mapInArrow(counts, schema=out_schema)
    if side_table_sf is not None and not per_file:
        # materialize the per-doc alignment counts so the DuckDB twin can
        # re-run the identical per-language aggregation on the SAME rows
        # (oracle_side_table pattern; converts x_ocr_report from rows-only
        # to value-hash-checked — alignment semantics stay pinned by the
        # pytest goldens, the hash proves the rollup arithmetic)
        path = oracle_side_table(per_doc, "x_ocr_report", side_table_sf)
        per_doc = ext.sparkSession.read.parquet(path)
    if per_file:
        acc = lambda err, tot: F.round(
            100.0 * (1.0 - F.col(err) / F.greatest(F.col(tot), F.lit(1))), 4
        )
        return _ordered(
            per_doc.withColumn("char_acc", acc("errors", "chars"))
            .withColumn("word_acc", acc("word_errors", "words")),
            "url",
        )
    per_doc = per_doc.drop("url")
    pct = lambda err, tot: F.round(100.0 * (1.0 - F.sum(err) / F.sum(tot)), 4)
    aggs = [
        F.count("*").alias("n_docs"),
        F.sum("chars").alias("chars"),
        F.sum("errors").alias("errors"),
        # raw sums so callers can compute corpus-WEIGHTED accuracies
        # instead of per-language minima (job --report headline)
        F.sum("ci_errors").alias("ci_errors"),
        F.sum("words").alias("words"),
        F.sum("word_errors").alias("word_errors"),
        pct("errors", "chars").alias("char_acc"),
        pct("ci_errors", "chars").alias("char_acc_ci"),
        pct("word_errors", "words").alias("word_acc"),
        F.sum("insertions").alias("insertions"),
        F.sum("deletions").alias("deletions"),
        F.sum("substitutions").alias("substitutions"),
    ]
    if with_cer:
        aggs += [
            F.sum("n_lines").alias("n_lines"),
            F.round(F.avg("cer"), 9).alias("mean_cer"),
            F.round(F.max("cer"), 9).alias("max_cer"),
            F.sum(F.col("guard_tripped").cast("int")).alias("n_guard_tripped"),
        ]
    # _ordered, not a global orderBy: a sort above the mapInArrow samples
    # its child and re-executes the extraction (house invariant; the
    # aggregate is a handful of rows)
    return _ordered(per_doc.groupBy("lang").agg(*aggs), "lang")


def x_rpred_golden(spark, sf):
    """Trained-weight golden parity, distributed: loads the reference's
    REAL overfit.mlmodel (pure-numpy CoreML parse, kernels/modelio.py) and
    reproduces the exact prediction strings of the reference's own tests
    (/root/reference/tests/test_rpred.py:352-366) on 000236.png inside an
    Arrow batch — one row per test case with the predicted string and a
    match flag (all true; also asserted in tests/test_golden_rpred.py).
    Without the reference assets the four rows keep their schema with
    prediction and match NULL ("unavailable"), like
    x_multimodel_dispatch's trained rows degrade.
    sf_dir is unused: the inputs are the reference's fixed test assets."""
    import os

    import pyarrow as pa

    from ..refassets import resources_dir

    cases = spark.createDataFrame(
        [("bbox_golden",), ("bl_golden",), ("bbox_outbounds",), ("bl_outbounds",)],
        "case string",
    ).coalesce(1)
    # resolved DRIVER-side at plan time and captured in the closure, so the
    # KRAKEN_SPARK_REFERENCE_ROOT override works without executorEnv plumbing
    res = resources_dir()
    available = all(os.path.exists(f"{res}/{f}")
                    for f in ("overfit.mlmodel", "000236.png"))

    def fn(batches):
        from ..kernels import png as _png
        from ..kernels.modelio import load_kraken_model
        from ..kernels.rpred_parity import LoadedRecognizer

        if available:
            rec = LoadedRecognizer(load_kraken_model(f"{res}/overfit.mlmodel")[0])
            img = _png.decode_png(open(f"{res}/000236.png", "rb").read())
        golden = {
            "bbox_golden": "ܡ ܘܡ ܗ ܡܕܐ ܐ ܐܐ ܡ ܗܗܐܐܐܕ",
            "bl_golden": ".ܗ ܣܗܐ  ܕ ܣ   ܗ ܕܗܗ ܟܕܗܣ    ܠ  ܐ .ܣܕܐܣ. ܗ ",
            "bbox_outbounds": "",
            "bl_outbounds": "",
        }
        schema = pa.schema(
            [
                pa.field("case", pa.string()),
                pa.field("prediction", pa.string()),
                pa.field("golden", pa.string()),
                pa.field("match", pa.bool_()),
            ]
        )
        for b in batches:
            out = []
            for r in b.to_pylist():
                case = r["case"]
                if not available:
                    out.append({"case": case, "prediction": None,
                                "golden": golden[case], "match": None})
                    continue
                if case == "bbox_golden":
                    p = rec.recognize_bbox(img, [0, 0, 2544, 156], pad=1)
                elif case == "bl_golden":
                    p = rec.recognize_baseline(
                        img, [[0, 10], [2543, 10]],
                        [[0, 0], [2543, 0], [2543, 155], [0, 155]], pad=1,
                    )
                elif case == "bbox_outbounds":
                    p = rec.recognize_bbox(img, [-1, -1, 10000, 10000], pad=1)
                else:
                    p = rec.recognize_baseline(
                        img, [[0, 0], [10000, 0]],
                        [[-1, -1], [-1, 10000], [10000, 10000], [10000, -1]], pad=1,
                    )
                out.append(
                    {
                        "case": case,
                        "prediction": p["prediction"],
                        "golden": golden[case],
                        "match": p["prediction"] == golden[case],
                    }
                )
            yield pa.RecordBatch.from_pylist(out, schema=schema)

    return _ordered(
        cases.mapInArrow(
            fn, schema="case string, prediction string, golden string, match boolean"
        ),
        "case",
    )


def oracle_side_table(df, name: str, sf) -> str:
    """Materialize a deterministic per-doc side table that BOTH engines
    aggregate: the Spark query reads it back and aggregates; the DuckDB
    oracle reads the SAME parquet via read_parquet and runs the twin SQL
    — converting a rows-only extraction query into a value-hash-checked
    one (round-5 ask #7). The extraction semantics themselves stay pinned
    by the pytest goldens; what the oracle hash proves is that the
    aggregation arithmetic agrees across engines on identical inputs.
    Path is keyed on the sf tag only (idempotent overwrite, no
    timestamps), so the sf0.01 twin in oracle_sql() always reads the file
    the sf0.01 query run just wrote."""
    import os

    tag = os.path.basename(str(sf).rstrip("/")) or "sf"
    path = f"/tmp/kraken_spark_oracle/{name}_{tag}.parquet"
    df.write.mode("overwrite").parquet(path)
    return path


def x_extract_metrics(spark, sf):
    """Per-partition lineage/metrics table (north-rule lineage
    requirement). The per-doc rows are materialized as an oracle side
    table and the per-partition rollup is computed over it — the DuckDB
    twin re-runs the identical aggregation on the same parquet, so this
    query is value-hash-checked (was rows-only)."""
    per_doc = _extraction(spark, sf).select(
        "partition_id", "url", "n_lines", "n_px", "cer"
    )
    path = oracle_side_table(per_doc, "x_extract_metrics", sf)
    rolled = (
        spark.read.parquet(path)
        .groupBy("partition_id")
        .agg(
            F.lit("driver").alias("run_id"),
            F.lit("extract").alias("stage"),
            F.count("*").alias("n_docs"),
            F.sum("n_lines").alias("n_lines"),
            F.sum("n_px").alias("n_px"),
            F.round(F.avg("cer"), 9).alias("mean_cer"),
        )
        .select("run_id", "stage", "partition_id", "n_docs", "n_lines",
                "n_px", "mean_cer")
    )
    return _ordered(rolled, "partition_id")


X_EXTRACT_METRICS_SQL = """
SELECT 'driver' AS run_id, 'extract' AS stage, partition_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_lines) AS BIGINT) AS n_lines,
       CAST(SUM(n_px) AS BIGINT) AS n_px,
       ROUND(AVG(cer), 9) AS mean_cer
FROM read_parquet('/tmp/kraken_spark_oracle/x_extract_metrics_sf0.01.parquet/*.parquet')
GROUP BY partition_id
ORDER BY partition_id
"""

X_OCR_REPORT_SQL = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(chars) AS BIGINT) AS chars,
       CAST(SUM(errors) AS BIGINT) AS errors,
       CAST(SUM(ci_errors) AS BIGINT) AS ci_errors,
       CAST(SUM(words) AS BIGINT) AS words,
       CAST(SUM(word_errors) AS BIGINT) AS word_errors,
       ROUND(100.0 * (1.0 - CAST(SUM(errors) AS DOUBLE) / CAST(SUM(chars) AS DOUBLE)), 4) AS char_acc,
       ROUND(100.0 * (1.0 - CAST(SUM(ci_errors) AS DOUBLE) / CAST(SUM(chars) AS DOUBLE)), 4) AS char_acc_ci,
       ROUND(100.0 * (1.0 - CAST(SUM(word_errors) AS DOUBLE) / CAST(SUM(words) AS DOUBLE)), 4) AS word_acc,
       CAST(SUM(insertions) AS BIGINT) AS insertions,
       CAST(SUM(deletions) AS BIGINT) AS deletions,
       CAST(SUM(substitutions) AS BIGINT) AS substitutions,
       CAST(SUM(n_lines) AS BIGINT) AS n_lines,
       ROUND(AVG(cer), 9) AS mean_cer,
       ROUND(MAX(cer), 9) AS max_cer,
       CAST(SUM(CAST(guard_tripped AS INT)) AS BIGINT) AS n_guard_tripped
FROM read_parquet('/tmp/kraken_spark_oracle/x_ocr_report_sf0.01.parquet/*.parquet')
GROUP BY lang
ORDER BY lang
"""


def x_extract_blla(spark, sf):
    """Flagship extraction through the NEURAL segmentation path
    (kernels/blla.py: heatmap forward -> vectorize -> polygonize -> scale
    back; SURVEY §2.3) — per-url text + CER (0.0 everywhere, asserted in
    tests/test_pipeline_spark.py). Runs BOTH baseline-vectorization
    chains, tagged by the `vectorizer` column: 'analog' is the engine's
    own CC/column-fit/fragment-join chain; 'reference' is the faithful
    port of the reference's vectorize_lines (Sato ridge -> threshold ->
    skeletonize -> endpoint-budgeted MCP joins -> Douglas-Peucker ->
    boundary extension, lib/segmentation.py:316-419; kernels/blla_vec.py)."""
    docs = corpus_for(spark, sf)
    n = spark.sparkContext.defaultParallelism
    parts = []
    for seg, tag in (("blla", "analog"), ("blla_ref", "reference")):
        ext = plan_extraction(docs, num_partitions=n, segmenter=seg)
        parts.append(
            ext.select(
                F.lit(tag).alias("vectorizer"),
                "url", "lang", "n_lines", "n_regions",
                F.round("cer", 9).alias("cer"), "text",
            )
        )
    return _ordered(parts[0].unionByName(parts[1]), "vectorizer", "url")


def x_extract_curved(spark, sf, ordered=True):
    """Curved-baseline OCR end-to-end: a sinusoidal-baseline corpus variant
    segmented with the neural path (polyline baselines) and extracted with
    piecewise per-cell dewarping (kernels/lineextract.extract_line_dewarped
    — the reference's polygonal mesh-warp role, lib/segmentation.py:
    1424-1643). CER is 0.0 on every page (120/120 measured; asserted in
    tests/test_pipeline_spark.py)."""
    from ..corpus import generate_corpus_df

    docs = generate_corpus_df(spark, _n_docs(sf) // 2, curved=True)
    ext = plan_extraction(
        docs,
        num_partitions=spark.sparkContext.defaultParallelism,
        segmenter="blla_curved",
    )
    out = ext.select(
        "url", "lang", "n_lines", F.round("cer", 9).alias("cer"), "text"
    )
    return _ordered(out, "url") if ordered else out


def x_extract_paths(spark, sf):
    """Driver-window consolidation of the former x_extract_curved +
    x_extract_vertical queries: both non-horizontal extraction paths in one
    table, tagged by `path` ('curved' = sinusoidal baselines through the
    piecewise dewarp; 'vertical' = rotate-segment-unrotate, the reference's
    4-valued text_direction). Each leg keeps its own CER-0 pytest pin
    (tests/test_pipeline_spark.py); the union is computed unordered and
    sorted exactly once (no per-leg repartition(1))."""
    a = x_extract_curved(spark, sf, ordered=False).select(
        F.lit("curved").alias("path"), "*"
    )
    b = x_extract_vertical(spark, sf, ordered=False).select(
        F.lit("vertical").alias("path"), "*"
    )
    return _ordered(a.unionByName(b), "path", "url")


QUERIES = {
    "x_extract_text": (x_extract_text, None),
    "x_extract_blla": (x_extract_blla, None),
    "x_extract_paths": (x_extract_paths, None),
    "x_extract_seam": (x_extract_seam, None),
    "x_extract_geometry": (x_extract_geometry, None),
    "x_ocr_report": (x_ocr_report, X_OCR_REPORT_SQL),
    "x_extract_metrics": (x_extract_metrics, X_EXTRACT_METRICS_SQL),
    "x_rpred_golden": (x_rpred_golden, None),
}
