"""DataFrame graph: scan -> repartition by url -> fused extraction ->
outputs (+ metrics, + checkpoint/resume) — SURVEY.md §4.3.

The job is map-only per url: zero shuffles between stages except the single
explicit repartition that spreads pages across tasks (the make-or-break for
the >=0.8 N->4N scaling target; SURVEY.md §7.5). It hashes the page key
itself, so the data, not a plan-time layout, decides where each page lands.
Relational post-processing (text aggregation, metrics rollup) stays in
native Spark expressions so Catalyst keeps it in whole-stage codegen.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from pyspark.sql.pandas.types import from_arrow_schema

from .schema import EXTRACTION_DDL, EXTRACTION_MARKDOWN_ARROW
from .stages import make_extract_map


def weight_salt(n: int):
    """The page Exchange's key and partition count, ``(url, n)``: both
    extraction plans build ``repartition(n, url)`` from it (page_exchange).
    The name is historical; it stays because perfbench's traced Exchange
    probe imports it to rebuild the same Exchange.

    url has as many distinct values as there are pages, so its hash
    spreads them over all n partitions, and the extract map runs each
    batch largest-first (stages.make_extract_map) so an oversized page
    starts early. Never key the Exchange on a bucket-id column with ~n
    distinct values instead: re-hashed into n partitions it leaves ~1/e
    of them empty, and each empty task still costs a task launch and
    ~0.03 CPU-s of worker Python.

    Returns (key_col, n)."""
    return F.col("url"), n


def page_exchange(documents: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """The head of both extraction plans: the documents columns the page
    chain reads, hash-partitioned by url (weight_salt) into
    num_partitions, default 4 x defaultParallelism."""
    n = num_partitions or documents.sparkSession.sparkContext.defaultParallelism * 4
    cols = [c for c in ("url", "warc_ts", "html", "text", "lang") if c in documents.columns]
    key, n = weight_salt(n)
    return documents.select(*cols).repartition(n, key)


def plan_extraction(
    documents: DataFrame,
    num_partitions: int | None = None,
    segmenter: str = "pageseg",
    text_direction: str | None = None,
    kraken_model_path: str | None = None,
    markdown: bool = False,
    no_segmentation: bool = False,
    temperature: float = 1.0,
    nlbin_params: dict | None = None,
) -> DataFrame:
    """Build the (lazy) extraction DataFrame over a documents table.

    kraken_model_path routes recognition through a REAL kraken model file
    (CoreML/safetensors via kernels/modelio + the rpred-parity pipeline),
    loaded once per executor — a user of the reference can point the job
    at their trained model unchanged (ship it with spark-submit --files).

    markdown=True adds a `markdown` column (structure-preserving render of
    web-HTML main content, empty for non-HTML payloads) computed inside
    the same fused Arrow stage — no second scan, no join."""
    return page_exchange(documents, num_partitions).mapInArrow(
        make_extract_map(segmenter, text_direction, kraken_model_path, markdown,
                         no_segmentation=no_segmentation,
                         temperature=temperature,
                         nlbin_params=nlbin_params),
        schema=from_arrow_schema(EXTRACTION_MARKDOWN_ARROW) if markdown else EXTRACTION_DDL,
    )


def extracted_text(extractions: DataFrame) -> DataFrame:
    """(url, text) projection — byte-identical text per url. Shown here in
    native expressions as well (the codegen path of SURVEY.md §2.1 text
    sink): concat_ws over the nested line predictions equals the stage's
    pre-joined text column."""
    return extractions.select(
        "url",
        F.concat_ws("\n", F.transform("lines", lambda l: l.prediction)).alias("text"),
    )


def metrics_table(extractions: DataFrame, run_id: str, stage: str = "extract") -> DataFrame:
    """Per-partition lineage/metrics rows (north rule; SURVEY.md §7.4)."""
    return extractions.groupBy("partition_id").agg(
        F.lit(run_id).alias("run_id"),
        F.lit(stage).alias("stage"),
        F.count("*").alias("n_docs"),
        F.sum("n_lines").alias("n_lines"),
        F.sum("n_px").alias("n_px"),
        F.avg("cer").alias("mean_cer"),
        F.sum("wall_ms").alias("wall_ms"),
    ).select("run_id", "stage", "partition_id", "n_docs", "n_lines", "n_px", "mean_cer", "wall_ms")


def run_extraction(
    documents: DataFrame,
    out_path: str | None = None,
    metrics_path: str | None = None,
    run_id: str = "run0",
    num_partitions: int | None = None,
    kraken_model_path: str | None = None,
    table_format: str = "parquet",
    segmenter: str = "pageseg",
    text_direction: str | None = None,
    no_segmentation: bool = False,
    temperature: float = 1.0,
    nlbin_params: dict | None = None,
    line_parallel: bool = False,
) -> DataFrame:
    """Execute extraction; optionally persist results + metrics.

    segmenter/text_direction/no_segmentation are the kraken CLI's
    segment/ocr options (-x/--boxes vs -bl/--baseline,
    -d/--text-direction, -s/--no-segmentation) forwarded to
    plan_extraction.

    line_parallel=True routes through the line-granular skew plan
    (pipeline_lines.plan_extraction_line_parallel — loaded-model only;
    row-identical output, see that module's cost model for when it wins).

    table_format='parquet' appends plain parquet; table_format='ice'
    commits an atomic snapshot to a committed-snapshot table
    (sources/icetable.py — the in-repo Iceberg-semantics layer: data files
    are invisible until the manifest commit, so a crashed run never leaks
    partial output into a resume's anti-join). The snapshot summary
    carries the run_id; per-partition metrics ride both the metrics table
    and, under 'ice', the snapshot lineage.

    Under 'ice' the metrics table is ITSELF an ice table (the north rule's
    "per-partition lineage and CER/throughput metrics to an Iceberg
    metrics table"): each run commits one metrics snapshot computed over
    exactly this run's output delta (incremental scan from the pre-append
    head), with the output snapshot id in the summary — so metrics rows
    join back to the precise data snapshot they describe, and a crash
    between the two commits leaves a data snapshot whose metrics can be
    backfilled from that recorded watermark rather than double-counted."""
    if line_parallel:
        from .pipeline_lines import plan_extraction_line_parallel

        ext = plan_extraction_line_parallel(
            documents, num_partitions, segmenter=segmenter,
            text_direction=text_direction,
            kraken_model_path=kraken_model_path,
            no_segmentation=no_segmentation,
            temperature=temperature,
            nlbin_params=nlbin_params)
    else:
        ext = plan_extraction(documents, num_partitions, segmenter=segmenter,
                              text_direction=text_direction,
                              kraken_model_path=kraken_model_path,
                              no_segmentation=no_segmentation,
                              temperature=temperature,
                              nlbin_params=nlbin_params)
    if out_path:
        spark = documents.sparkSession
        if table_format == "ice":
            from .sources import icetable

            prev = icetable.current_snapshot_id(out_path)
            sid = icetable.append(ext, out_path, summary={"run_id": run_id})
            ext = icetable.read(spark, out_path)
            if metrics_path:
                # skip rival takedowns landing inside (prev, sid]: the
                # metrics snapshot describes THIS run's appended delta
                delta = icetable.read_incremental(
                    spark, out_path, prev, sid, skip_delete_snapshots=True
                )
                icetable.append(
                    metrics_table(delta, run_id),
                    metrics_path,
                    summary={
                        "run_id": run_id,
                        "source_table": out_path,
                        "source_snapshot_id": sid,
                    },
                )
        else:
            ext.write.mode("append").parquet(out_path)
            ext = spark.read.parquet(out_path)
            if metrics_path:
                metrics_table(ext, run_id).write.mode("append").parquet(metrics_path)
    return ext


def read_output(spark, out_path: str, table_format: str = "parquet") -> DataFrame:
    """Committed extraction state: the last committed snapshot under 'ice'
    (uncommitted data files invisible), the parquet directory otherwise."""
    if table_format == "ice":
        from .sources import icetable

        return icetable.read(spark, out_path)
    return spark.read.parquet(out_path)


def remaining_documents(
    documents: DataFrame, out_path: str, table_format: str = "parquet"
) -> DataFrame:
    """Checkpoint/resume: anti-join the committed output on url
    (idempotent per-url writes; SURVEY.md §7.4). Returns docs still to do.
    Under 'ice' the committed set is the last committed SNAPSHOT — a
    writer that died after writing data files but before its metadata
    commit contributes nothing, so its documents are (correctly) redone.

    Only an output that does not exist yet (no path, an empty directory,
    an uncreated ice table) means "nothing done"; an unreadable output
    raises, since redoing every document would append duplicate rows."""
    from pyspark.errors import AnalysisException

    from .sources.icetable import NoSuchSnapshot

    spark = documents.sparkSession
    try:
        done = read_output(spark, out_path, table_format).select("url")
    except NoSuchSnapshot:
        return documents
    except AnalysisException as exc:
        if exc.getCondition() not in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            raise
        return documents
    return documents.join(done, "url", "left_anti")


def tail_extraction(
    spark,
    pages_table: str,
    out_table: str,
    run_id: str = "tail0",
    num_partitions: int | None = None,
    skip_delete_snapshots: bool = False,
    **extract_kw,
) -> dict:
    """One tick of the RECURRING incremental extraction job — the Iceberg
    incremental-processing pattern over the committed-snapshot table layer.

    Each output commit records the source snapshot it processed through
    (``source_snapshot_id`` in the snapshot summary); a tick reads only the
    pages delta since the last recorded watermark (read_incremental —
    manifest set-difference, no corpus re-scan), extracts it, and commits
    results AND the advanced watermark in the SAME atomic snapshot. That
    gives exactly-once-per-page across crashes with no external state: a
    tick that dies after processing but before commit leaves the watermark
    untouched (its staged data files stay invisible orphans), so the next
    tick reprocesses the same delta; a tick that finds no new snapshot is
    a no-op and commits nothing. At 10^12 rows this is the difference
    between a recurring job that scans one crawl's worth of new files and
    one that re-reads the corpus.

    ``skip_delete_snapshots``: tail across takedowns on the pages table
    (a 'delete' snapshot in the delta range is skipped, never refused —
    Iceberg's streaming-skip-delete-snapshots; already-extracted pages
    are never retracted by the tail).

    Returns {"processed", "source_snapshot_id", "out_snapshot_id"}.
    """
    from .sources import icetable

    head = icetable.current_snapshot_id(pages_table)
    last = 0
    for h in icetable.history(out_table):  # [] for a not-yet-created table
        s = h.get("summary", {}).get("source_snapshot_id")
        if s is not None:
            last = max(last, int(s))
    if head <= last:
        return {"processed": 0, "source_snapshot_id": last, "out_snapshot_id": None}
    delta = icetable.read_incremental(
        spark, pages_table, last, head,
        skip_delete_snapshots=skip_delete_snapshots,
    )
    ext = plan_extraction(delta, num_partitions, **extract_kw)
    # row count comes from the committed manifest (parquet footers), not a
    # .count() action — counting first would execute the extraction twice.
    sid = icetable.append(
        ext,
        out_table,
        summary={
            "run_id": run_id,
            "source_table": pages_table,
            "source_snapshot_id": head,
        },
        lineage=[{"stage": "tail-extract", "from_snapshot": last, "to_snapshot": head}],
    )
    n = int(icetable.snapshot(out_table, sid)["summary"]["n_new_rows"])
    return {"processed": n, "source_snapshot_id": head, "out_snapshot_id": sid}


def streaming_extraction(
    spark,
    pages_table: str,
    out_table: str,
    checkpoint: str,
    available_now: bool = False,
    num_partitions: int | None = None,
    columns: tuple = ("url", "text", "cer"),
    skip_delete_snapshots: bool = False,
    **extract_kw,
):
    """The CONTINUOUS form of ``tail_extraction``: a Structured Streaming
    query tailing the ice pages table and committing extractions to an
    ice output table, end-to-end exactly-once.

    Source offsets are pages-table snapshot ids (``readStream.format
    ("ice")`` — Iceberg's incremental append scan as a streaming source;
    compaction in the range is skipped, so table maintenance never breaks
    the stream). The whole extraction plan is stateless (a repartition
    by url + one fused Arrow stage), so it runs unchanged on the
    streaming DataFrame. The sink commits each micro-batch as ONE atomic
    snapshot keyed by batch id (a retried batch commits nothing), and the
    offset log lives in the checkpoint — a crashed query resumes at the
    last committed batch and the sink's idempotence absorbs the replay.

    ``available_now=True`` drains everything committed so far and stops
    (the recurring-job form: each invocation is one catch-up run);
    otherwise the query runs until stopped. Returns the StreamingQuery.
    """
    from .sources.ice_datasource import register

    register(spark)
    src = spark.readStream.format("ice").option("starting", "earliest")
    if skip_delete_snapshots:  # tail across takedowns on the pages table
        src = src.option("skip_delete_snapshots", "true")
    src = src.load(pages_table)
    ext = plan_extraction(src, num_partitions, **extract_kw).select(*columns)
    writer = (
        ext.writeStream.format("ice")
        .option("checkpointLocation", checkpoint)
        .queryName("kraken-spark-extraction")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start(out_table)
