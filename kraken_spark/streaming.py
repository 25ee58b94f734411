"""Structured Streaming wrapper over the batch extraction stages.

The reference has no streaming semantics (SURVEY.md §2.9) — this is the
optional foreachBatch wrapper noted in SURVEY.md §7.6: new document files
appearing under an input directory are picked up by a file-source stream and
run through the SAME plan_extraction stage graph, with exactly-once sink
semantics from the checkpoint + batch_id-keyed idempotent partition
overwrites (foreachBatch is at-least-once; a retried micro-batch rewrites
its own partition rather than appending duplicates). The batch pipeline's
resume story, pipeline.remaining_documents, stays the recovery path if the
checkpoint is lost.

At production scale this is the Iceberg streaming-ingest pattern: the
micro-batch boundary is the snapshot commit boundary, so lineage/metrics
rows are appended per micro-batch exactly as per batch run.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .pipeline import metrics_table, plan_extraction
from .schema import DOCUMENTS_DDL


def stream_extraction(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    metrics_path: str | None = None,
    run_id: str = "stream0",
    num_partitions: int | None = None,
    available_now: bool = True,
    segmenter: str = "pageseg",
    text_direction: str | None = None,
    table_format: str = "parquet",
):
    """Start a file-source stream: parquet documents dir -> extraction parquet.

    With available_now=True the stream drains everything present and stops
    (the batch-backfill trigger); otherwise it keeps running per default
    micro-batch trigger. segmenter/text_direction pass through to the same
    plan_extraction stage graph as batch. Returns the StreamingQuery.

    ``table_format="ice"``: each micro-batch commits as ONE atomic snapshot
    of a committed-snapshot table (the Iceberg streaming-ingest pattern —
    micro-batch boundary == snapshot commit boundary), carrying
    ``stream_batch_id`` and ``stream_query`` (the checkpoint path) in the
    commit summary. Exactly-once falls out of at-least-once foreachBatch +
    an idempotent commit: a replayed batch (foreachBatch retry, or a
    re-run after a LOST checkpoint over the same input and checkpoint
    path) finds its (batch id, query) already committed and is a
    commit-free no-op — readers never see duplicates OR a half-written
    batch, and a second stream into the same table keeps its own batch
    ids.
    """

    docs = (
        spark.readStream.schema(DOCUMENTS_DDL)
        .option("maxFilesPerTrigger", "64")
        .parquet(input_path)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        ext = plan_extraction(
            batch_df,
            num_partitions=num_partitions,
            segmenter=segmenter,
            text_direction=text_direction,
        )
        # persist so metrics aggregation doesn't recompute the extraction
        ext = ext.persist()
        try:
            if table_format == "ice":
                from .sources import icetable
                from .sources.ice_datasource import _batch_committed

                def fresh(path: str, _parent: int, b=batch_id) -> bool:
                    return not _batch_committed(path, checkpoint_path, b)

                if not fresh(output_path, 0):
                    return  # replayed batch: already committed, no-op
                try:
                    icetable.append(
                        ext,
                        output_path,
                        summary={"stream_batch_id": batch_id,
                                 "stream_query": checkpoint_path,
                                 "run_id": run_id},
                        # re-validated on CAS retries: two replays racing
                        # commit exactly one copy of the batch
                        precondition=fresh,
                    )
                except icetable.PreconditionFailed:
                    return
            else:
                # idempotent exactly-once sink: each micro-batch overwrites
                # its OWN batch_id-keyed partition directory, so a batch
                # retried by foreachBatch's at-least-once contract rewrites
                # the same files instead of appending duplicates
                # (partition-style naming keeps
                # spark.read.parquet(output_path) working, with batch_id as
                # a lineage column)
                ext.write.mode("overwrite").parquet(
                    f"{output_path}/batch_id={batch_id}"
                )
            if metrics_path:
                metrics_table(ext, run_id=f"{run_id}_b{batch_id}").write.mode(
                    "overwrite"
                ).parquet(f"{metrics_path}/batch_id={batch_id}")
        finally:
            ext.unpersist()

    writer = (
        docs.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_ingest_stats(
    spark: SparkSession,
    input_path: str,
    checkpoint_path: str,
    watermark: str = "10 minutes",
    window: str = "1 hour",
    available_now: bool = True,
):
    """Watermarked event-time ingest statistics: tumbling-window doc/byte
    counts per language keyed on the crawl timestamp (warc_ts), with late
    data beyond the watermark dropped by the engine.

    The reference has no streaming semantics (SURVEY §2.9); this is the
    standard Structured Streaming monitoring companion to the extraction
    stream — at production scale it runs against the Iceberg documents
    table's ingest feed. Results land in an in-memory table named
    'ingest_stats' (queryable via spark.sql while the stream runs).
    """
    docs = spark.readStream.schema(DOCUMENTS_DDL).parquet(input_path)
    agg = (
        docs.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("win"), "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.octet_length("html")).alias("n_bytes"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "lang",
            "n_docs",
            "n_bytes",
        )
    )
    writer = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("ingest_stats")
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_dedup_first_seen(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    available_now: bool = True,
):
    """Custom stateful streaming operator: exact-dedup keeping only the
    FIRST occurrence of each content hash across all micro-batches
    (applyInPandasWithState; per-key GroupState survives restarts via the
    checkpoint). The streaming analog of functions/dedup.dedup_exact for a
    continuously ingesting corpus — state size is one row per distinct
    content hash, partitioned by the hash.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    docs = spark.readStream.schema(DOCUMENTS_DDL).parquet(input_path)
    keyed = docs.select(F.md5("text").alias("h"), "url", "warc_ts")

    def first_seen(key, pdfs, state: GroupState):
        import pandas as pd

        rows = pd.concat(list(pdfs), ignore_index=True)
        if state.exists:
            (count,) = state.get
            state.update((count + len(rows),))
            return iter([])  # all duplicates
        rows = rows.sort_values(["warc_ts", "url"]).head(1)
        state.update((len(rows),))
        return iter([rows[["h", "url"]]])

    out = keyed.groupBy("h").applyInPandasWithState(
        first_seen,
        outputStructType="h string, url string",
        stateStructType="count long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    writer = (
        out.writeStream.outputMode("append")
        .format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
