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

import os

import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema

from .schema import EXTRACTION_DDL, EXTRACTION_MARKDOWN_ARROW
from .sources.ice_datasource import (
    _head_sort_order,
    _refuse_partition_spec,
    _write_task_file,
)
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
        schema=_extraction_schema(markdown),
    )


def _extraction_schema(markdown: bool):
    return from_arrow_schema(EXTRACTION_MARKDOWN_ARROW) if markdown else EXTRACTION_DDL


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

    table_format='parquet' appends plain parquet through Spark's Hadoop
    writer (its output committer is what makes a plain directory
    atomic); the metrics rows roll up only the part files this run's
    write added, so a resumed run never recounts earlier runs' rows.

    table_format='ice' commits an atomic snapshot to a committed-snapshot
    table (sources/icetable.py — the in-repo Iceberg-semantics layer: data
    files are invisible until the manifest commit, so a crashed run never
    leaks partial output into a resume's anti-join), in ONE Spark job
    (_extract_to_ice): each extraction task stages its output as one
    parquet file through the one staged writer
    (ice_datasource._write_task_file, row groups of up to
    ROW_GROUP_BYTES) and folds its per-partition metrics from the same
    batches. The driver commits the data snapshot (summary: run_id) and,
    with metrics_path, this run's metrics rows as one snapshot of an ice
    metrics table (the north rule's "per-partition lineage and
    CER/throughput metrics to an Iceberg metrics table") that names the
    data snapshot (source_table, source_snapshot_id) — so a crash between
    the two commits leaves a data snapshot whose metrics can be
    backfilled. Returns the committed output (icetable.read)."""
    kw = dict(segmenter=segmenter, text_direction=text_direction,
              kraken_model_path=kraken_model_path,
              no_segmentation=no_segmentation, temperature=temperature,
              nlbin_params=nlbin_params)
    spark = documents.sparkSession
    if out_path and table_format == "ice":
        from .sources import icetable

        _extract_to_ice(documents, out_path, num_partitions, line_parallel,
                        summary={"run_id": run_id}, metrics_path=metrics_path,
                        run_id=run_id, **kw)
        return icetable.read(spark, out_path)
    if line_parallel:
        from .pipeline_lines import plan_extraction_line_parallel

        ext = plan_extraction_line_parallel(documents, num_partitions, **kw)
    else:
        ext = plan_extraction(documents, num_partitions, **kw)
    if out_path:
        before = _parquet_files(spark, out_path, ext.schema)
        ext.write.mode("append").parquet(out_path)
        ext = spark.read.parquet(out_path)
        if metrics_path:
            added = sorted(set(ext.inputFiles()) - before)
            metrics_table(spark.read.schema(ext.schema).parquet(*added), run_id) \
                .write.mode("append").parquet(metrics_path)
    return ext


def _parquet_files(spark, path: str, schema) -> set[str]:
    """The data files of a parquet output directory; none before its
    first write."""
    from pyspark.errors import AnalysisException

    try:
        return set(spark.read.schema(schema).parquet(path).inputFiles())
    except AnalysisException as exc:
        if exc.getCondition() != "PATH_NOT_FOUND":
            raise
        return set()


# One row per (task, partition_id) of an ice extraction: the file the task
# staged and metrics_table's per-partition sums over the task's rows.
_STAGED_ARROW = pa.schema([
    pa.field("file", pa.string()),
    pa.field("partition_id", pa.int32()),
    pa.field("n_docs", pa.int64()),
    pa.field("n_lines", pa.int64()),
    pa.field("n_px", pa.int64()),
    pa.field("cer_sum", pa.float64()),
    pa.field("cer_n", pa.int64()),
    pa.field("wall_ms", pa.float64()),
])
_STAGED_DDL = from_arrow_schema(_STAGED_ARROW)


def _sum(acc, v):
    """One step of Spark's null-skipping sum: coalesce(acc, 0) + v."""
    return acc if v is None else (acc or 0) + v


def _ice_sink(table: str, extract):
    """The mapInArrow body of an ice extraction: run ``extract`` over the
    task's batches, stage its output batches as one file under
    ``table``'s data/ (ice_datasource._write_task_file) and, in the same
    pass, fold metrics_table's per-partition_id sums in row order — the
    order a re-read of the file would add them in, so the folded rows
    equal metrics_table over the committed rows bit for bit. Yields one
    summary row per partition_id (each task has one, in both plans)."""

    def extract_to_ice(batches):
        folds: dict = {}

        def fold(out):
            for b in out:
                cols = [b.column(c).to_pylist()
                        for c in ("partition_id", "n_lines", "n_px", "cer", "wall_ms")]
                for pid, n_lines, n_px, cer, wall_ms in zip(*cols):
                    f = folds.setdefault(pid, [0, None, None, 0.0, 0, None])
                    f[0] += 1
                    f[1] = _sum(f[1], n_lines)
                    f[2] = _sum(f[2], n_px)
                    if cer is not None:
                        f[3] += cer
                        f[4] += 1
                    f[5] = _sum(f[5], wall_ms)
                yield b

        msg = _write_task_file(table, fold(extract(batches)))
        yield pa.RecordBatch.from_pylist(
            [dict(zip(_STAGED_ARROW.names, (rel, pid, *f)))
             for rel in msg.files for pid, f in folds.items()],
            schema=_STAGED_ARROW)

    return extract_to_ice


def _extract_to_ice(
    documents: DataFrame,
    out_path: str,
    num_partitions: int | None,
    line_parallel: bool,
    summary: dict,
    lineage: list | None = None,
    metrics_path: str | None = None,
    run_id: str | None = None,
    **extract_kw,
) -> int:
    """Every ice extraction write: one Spark job whose tasks stage their
    output and fold their metrics (_ice_sink), then the driver's commits.
    The data snapshot lists exactly the files the task summaries name —
    never a listing of data/, where a failed or speculative attempt's file
    is an invisible orphan — under the extraction plan's schema. With
    metrics_path the metrics rows follow as one file and one snapshot
    naming the data snapshot. Both tables follow the DataSource writers'
    rules: a head with a partition spec is refused (these files are not
    clustered by it), the head's sort order is carried forward. Returns
    the data snapshot id."""
    for path in filter(None, (out_path, metrics_path)):
        _refuse_partition_spec(path)
    # tasks may run in another working directory than the driver
    table = os.path.abspath(out_path)
    if line_parallel:
        from .pipeline_lines import plan_extraction_line_parallel

        ext = plan_extraction_line_parallel(documents, num_partitions, **extract_kw)
        schema = ext.schema
        staged = ext.mapInArrow(_ice_sink(table, lambda batches: batches),
                                _STAGED_DDL)
    else:
        schema = _extraction_schema(extract_kw.get("markdown", False))
        staged = page_exchange(documents, num_partitions).mapInArrow(
            _ice_sink(table, make_extract_map(**extract_kw)),
            _STAGED_DDL)
    rows = sorted(staged.collect(), key=lambda r: r.partition_id)
    sid = _commit_files(out_path, sorted({r.file for r in rows}), schema, summary, lineage)
    if metrics_path:
        spark = documents.sparkSession
        mschema = metrics_table(spark.createDataFrame([], EXTRACTION_DDL), run_id).schema
        metrics = pa.RecordBatch.from_pylist(
            [{"run_id": run_id, "stage": "extract", "partition_id": r.partition_id,
              "n_docs": r.n_docs, "n_lines": r.n_lines, "n_px": r.n_px,
              "mean_cer": r.cer_sum / r.cer_n if r.cer_n else None,
              "wall_ms": r.wall_ms} for r in rows],
            schema=to_arrow_schema(mschema))
        _commit_files(metrics_path, _write_task_file(metrics_path, iter([metrics])).files,
                      mschema, {"run_id": run_id, "source_table": out_path,
                                "source_snapshot_id": sid})
    return sid


def _commit_files(path: str, files: list[str], schema, summary: dict, lineage=None) -> int:
    from .sources import icetable

    return icetable._commit_new_files(
        path, icetable._entries_for_files(path, files), schema, summary=summary,
        lineage=lineage, sort_by=_head_sort_order(path) or None)


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
    results AND the advanced watermark in the SAME atomic snapshot. The
    write is run_extraction's ice path (_extract_to_ice: one Spark job
    whose extraction tasks stage their own files through the one staged
    writer, row groups of up to ROW_GROUP_BYTES; the driver commits the
    named files with this tick's lineage); a tick writes no metrics. That
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
    last = icetable._summary_watermark(out_table, "source_snapshot_id")
    if head <= last:
        return {"processed": 0, "source_snapshot_id": last, "out_snapshot_id": None}
    delta = icetable.read_incremental(
        spark, pages_table, last, head,
        skip_delete_snapshots=skip_delete_snapshots,
    )
    # row count comes from the committed manifest (parquet footers), not a
    # .count() action — counting first would execute the extraction twice.
    sid = _extract_to_ice(
        delta, out_table, num_partitions, False,
        summary={
            "run_id": run_id,
            "source_table": pages_table,
            "source_snapshot_id": head,
        },
        lineage=[{"stage": "tail-extract", "from_snapshot": last, "to_snapshot": head}],
        **extract_kw,
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
