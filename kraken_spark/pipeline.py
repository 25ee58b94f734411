"""DataFrame graph: scan -> weight-aware salted repartition -> fused
extraction -> outputs (+ metrics, + checkpoint/resume) — SURVEY.md §4.3.

The job is map-only per url: zero shuffles between stages except the single
explicit repartition that balances page weight across tasks (the make-or-
break for the >=0.8 N->4N scaling target; SURVEY.md §7.5). Relational
post-processing (text aggregation, metrics rollup) stays in native Spark
expressions so Catalyst keeps it in whole-stage codegen.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .schema import EXTRACTION_DDL
from .stages import make_extract_map

# pages larger than this many PNG bytes are treated as heavy: ~3x the
# median synthetic page (~333 KB); the 4x-area oversized pages (~1.6 MB)
# land firmly above it. Page compute is ~linear in pixels ~ linear in
# compressed bytes for fixed content statistics, so payload size is the
# weight proxy (SURVEY.md §7.5 skew risk).
HEAVY_BYTES = 1 << 20


def _murmur3_long(value: int, seed: int = 42) -> int:
    """Spark's Murmur3Hash of a LongType value (Murmur3_x86_32.hashLong:
    two 32-bit words, low first) — what hashpartitioning applies to the
    salt column. Needed to pick salt PREIMAGES below."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    m = 0xFFFFFFFF

    def rotl(x, r):
        return ((x << r) | (x >> (32 - r))) & m

    h1 = seed & m
    for word in (value & m, (value >> 32) & m):
        k1 = (word * c1) & m
        k1 = rotl(k1, 15)
        k1 = (k1 * c2) & m
        h1 ^= k1
        h1 = rotl(h1, 13)
        h1 = (h1 * 5 + 0xE6546B64) & m
    h1 ^= 8  # length in bytes
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & m
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & m
    h1 ^= h1 >> 16
    # Spark treats the result as a SIGNED int before Pmod
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


def _partition_preimages(total: int) -> list[int]:
    """preimages[k] = the smallest non-negative long whose Spark
    hashpartitioning id (pmod(murmur3(v), total)) equals k. Emitting
    preimages[bucket] as the salt makes bucket k land EXACTLY in
    partition k — without this, `repartition(total, salt)` re-hashes the
    salt and ~1/e of the partitions stay empty while others stack 2-3
    buckets (measured: 3 normal buckets in one partition = a 3x-sized
    straggler task costing ~25% of 8-core throughput)."""
    pre: dict[int, int] = {}
    v = 0
    while len(pre) < total:
        p = _murmur3_long(v) % total
        if p not in pre:
            pre[p] = v
        v += 1
    return [pre[k] for k in range(total)]


def weight_salt(n: int):
    """Weight-aware salt column: heavy pages hash over a dedicated n-wide
    bucket space at the LOWEST partition ids, normal pages over the n
    buckets above them, so one 16x-area page never queues behind a full
    normal bucket (AQE handles join skew, not UDF compute skew — this is
    the custom part, SURVEY.md §4.2). Heavy-first ordering matters because
    Spark launches tasks in partition-id order: the longest tasks start in
    the first wave and overlap the normal buckets instead of becoming a
    tail straggler after them (classic longest-processing-time
    scheduling). The heavy space is as wide as the normal one — heavy
    tasks are the longest, so hash collisions there cost the most wall
    (two 16x pages sharing a bucket doubles the job tail). Unused heavy
    buckets are NOT free: each is an empty partition that still costs a
    task launch plus ~0.03 CPU-s of worker Python, and on the bulk_pageseg
    benchmark workload 15 of 32 extract tasks run empty. Sizing the bucket
    spaces from the data is ROADMAP item 1.

    The emitted salt is the murmur3 PREIMAGE of the bucket id
    (_partition_preimages), so bucket k maps 1:1 onto shuffle partition
    k — no bucket-collision stragglers, and the heavy-first partition
    order is exact rather than probabilistic.
    Returns (salt_col, total_buckets)."""
    n_heavy = max(n, 1)
    total = n + n_heavy
    weight = F.octet_length(F.col("html"))
    bucket = F.when(
        weight > F.lit(HEAVY_BYTES),
        F.pmod(F.xxhash64("url"), F.lit(n_heavy)),
    ).otherwise(F.lit(n_heavy) + F.pmod(F.xxhash64("url"), F.lit(n)))
    pre = _partition_preimages(total)
    lookup = F.array(*[F.lit(int(v)).cast("bigint") for v in pre])
    salt = F.element_at(lookup, bucket.cast("int") + 1)
    return salt, total


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
    spark = documents.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism * 4
    cols = [c for c in ("url", "warc_ts", "html", "text", "lang") if c in documents.columns]
    df = documents.select(*cols)
    salt, total = weight_salt(n)
    df = df.repartition(total, salt.alias("salt"))
    return df.mapInArrow(
        make_extract_map(segmenter, text_direction, kraken_model_path, markdown,
                         no_segmentation=no_segmentation,
                         temperature=temperature,
                         nlbin_params=nlbin_params),
        schema=EXTRACTION_DDL + (", markdown string" if markdown else ""),
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
    commit contributes nothing, so its documents are (correctly) redone."""
    spark = documents.sparkSession
    try:
        done = read_output(spark, out_path, table_format).select("url")
    except Exception:
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
    the stream). The whole extraction plan is stateless (weight-salted
    repartition + one fused Arrow stage), so it runs unchanged on the
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
