"""The full LLM-corpus production loop as one recurring, exactly-once tick
over committed-snapshot tables — the composition every published pipeline
runs per crawl dump (FineWeb/RefinedWeb shape):

    pages delta  ->  extraction  ->  quality gate  ->  near-dup vs the
    RETAINED corpus  ->  one atomic commit of (kept text + minhash
    signatures + advanced watermark)

Exactly-once with zero external state: the watermark (the source snapshot
processed through) and the dedup state (16 minhash values + 4 LSH band
keys per kept doc) both live IN the kept table's own rows/commits, so a
tick that crashes after processing but before its commit changes nothing
— the next tick reprocesses the same delta; a tick that finds no new
source snapshot is a commit-free no-op.

Scale shape per tick at a 10^12-doc retained corpus: the delta is a
manifest set-difference (metadata only); extraction + quality are the
audited map-only plans over the DELTA; the only touch of the retained
corpus is the band-key signature join (kept TEXT is never re-read).
"""

from __future__ import annotations

import pyspark.sql.functions as F

from .functions.dedup import dedup_incremental, minhash_signatures
from .functions.webfilter import gopher_quality, quality_classifier
from .pipeline import extracted_text, plan_extraction
from .sources import icetable


def _widen(sigs, id_col: str = "url"):
    """(doc_id, sig, band, band_key) signature view -> one row per doc:
    (id, sig array, band_key array) — the persisted dedup state, wide so
    it rides the kept table's atomic commit."""
    return (
        sigs.groupBy("doc_id")
        .agg(
            F.first("sig").alias("sig"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("band", "band_key"))),
                lambda s: s["band_key"],
            ).alias("band_keys"),
        )
        .withColumnRenamed("doc_id", id_col)
    )


def _sig_view(kept):
    """(doc_id, sig, band, band_key) from the kept table's wide columns —
    map-only explode, the shape dedup_incremental joins against."""
    return kept.select(
        F.col("url").alias("doc_id"),
        "sig",
        F.posexplode("band_keys").alias("band", "band_key"),
    )


def _processed_through(kept_table: str) -> int:
    """Highest source snapshot id any committed tick processed through —
    the watermark, read from the kept table's own commit summaries
    (0 for a not-yet-created table)."""
    return icetable._summary_watermark(kept_table, "source_snapshot_id")


def _latest_per_url(delta):
    """Collapse within-delta recrawls to one row per url (latest warc_ts
    wins; content-hash tiebreak keeps ties deterministic across retries).
    Without this, a twice-crawled url multiplies through the quality joins
    and the minhash groupBy would blend ONE signature across two texts."""
    from pyspark.sql import Window

    w = Window.partitionBy("url").orderBy(
        F.col("warc_ts").desc(), F.xxhash64("html").desc()
    )
    return (
        delta.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def corpus_tick(
    spark,
    pages_table: str,
    kept_table: str,
    run_id: str = "corpus0",
    num_partitions: int | None = None,
    require_quality: bool = True,
    stage_branch: str | None = None,
    skip_delete_snapshots: bool = False,
) -> dict:
    """One tick. Returns {extracted, quality_pass, kept_new, dropped_dup,
    source_snapshot_id, out_snapshot_id, lost_race} (all counts from
    committed metadata or cheap aggregates over the delta, never a second
    pass over the heavy extraction).

    ``stage_branch``: write-audit-publish mode — the tick's kept rows are
    committed to a BRANCH of the kept table instead of main (invisible to
    consumers; the watermark does not advance). Audit the staged rows with
    ``icetable.read_branch``, then ``publish_tick`` fast-forwards main
    (with the same double-covering race guard the direct commit uses) or
    ``icetable.drop_branch`` discards a failed tick without a trace."""
    head = icetable.current_snapshot_id(pages_table)
    last = _processed_through(kept_table)
    if head <= last:
        return {
            "extracted": 0, "quality_pass": 0, "kept_new": 0, "dropped_dup": 0,
            "source_snapshot_id": last, "out_snapshot_id": None, "lost_race": False,
        }

    delta = icetable.read_incremental(
        spark, pages_table, last, head,
        skip_delete_snapshots=skip_delete_snapshots,
    )
    if "warc_ts" in delta.columns:
        delta = _latest_per_url(delta)
    ext = plan_extraction(delta, num_partitions)
    docs = extracted_text(ext).localCheckpoint(eager=True)  # (url, text), one extraction pass
    n_extracted = docs.count()

    if require_quality:
        g = gopher_quality(docs, id_col="url").where("passes").select("url")
        q = quality_classifier(docs, id_col="url").where("ml_pass").select("url")
        good = docs.join(g, "url", "left_semi").join(q, "url", "left_semi")
    else:
        good = docs
    good = good.localCheckpoint(eager=True)
    n_quality = good.count()

    try:
        kept_sigs = _sig_view(icetable.read(spark, kept_table))
    except icetable.NoSuchSnapshot:  # genesis: empty dedup state, right schema
        kept_sigs = _sig_view(
            spark.createDataFrame(
                [], "url string, text string, sig array<bigint>, band_keys array<string>"
            )
        )
    # the delta is shingled exactly ONCE: the same materialized signature
    # view feeds the dedup join AND the persisted wide dedup-state columns
    sigs = minhash_signatures(good, id_col="url").localCheckpoint(eager=True)
    new_kept = dedup_incremental(good, kept_sigs, id_col="url", new_sigs=sigs)
    rows = new_kept.join(_widen(sigs, id_col="url"), "url").select(
        "url", "text", "sig", "band_keys"
    )
    if stage_branch is not None:
        icetable.create_branch(kept_table, stage_branch)
        icetable.branch_append(
            rows,
            kept_table,
            stage_branch,
            summary={"run_id": run_id, "source_snapshot_id": head,
                     "source_table": pages_table},
            lineage=[{"stage": "corpus-tick", "from_snapshot": last,
                      "to_snapshot": head, "extracted": n_extracted,
                      "quality_pass": n_quality}],
        )
        n_staged = int(
            icetable.branch_snapshot(kept_table, stage_branch)["summary"][
                "n_new_rows"
            ]
        )
        return {
            "extracted": n_extracted,
            "quality_pass": n_quality,
            "kept_new": n_staged,
            "dropped_dup": n_quality - n_staged,
            "source_snapshot_id": head,
            "out_snapshot_id": None,
            "staged_branch": stage_branch,
            "lost_race": False,
        }
    try:
        sid = icetable.append(
            rows,
            kept_table,
            summary={"run_id": run_id, "source_snapshot_id": head,
                     "source_table": pages_table},
            lineage=[{"stage": "corpus-tick", "from_snapshot": last, "to_snapshot": head,
                      "extracted": n_extracted, "quality_pass": n_quality}],
            # two overlapping ticks both read watermark `last` and process
            # overlapping deltas ([last, h1] and [last, h2] — identical when
            # the pages table didn't move between their reads, nested when
            # it did; either way both start at `last`). The CAS retry would
            # otherwise happily commit both copies of the shared prefix, so
            # the guard demands the watermark still equals the `last` this
            # tick planned FROM. Re-validated on every retry, so the
            # committed tick is provably the only one covering [last, ...].
            precondition=lambda p, _parent: _processed_through(p) == last,
        )
    except icetable.PreconditionFailed:
        return {
            "extracted": n_extracted, "quality_pass": n_quality, "kept_new": 0,
            "dropped_dup": 0, "source_snapshot_id": head, "out_snapshot_id": None,
            "lost_race": True,
        }
    n_kept = int(icetable.snapshot(kept_table, sid)["summary"]["n_new_rows"])
    return {
        "extracted": n_extracted,
        "quality_pass": n_quality,
        "kept_new": n_kept,
        "dropped_dup": n_quality - n_kept,
        "source_snapshot_id": head,
        "out_snapshot_id": sid,
        "lost_race": False,
    }


def publish_tick(kept_table: str, branch: str) -> dict:
    """Publish a staged tick (WAP's third act): fast-forward main to the
    audited branch, guarded against double-covering — the publish aborts
    if ANY commit already advanced the watermark past the staged tick's
    planning point (same serialization the direct commit path uses), and
    rebases over unrelated main movement (appends commute). On success the
    branch ref is dropped; returns {out_snapshot_id, kept_new, lost_race}."""
    b = icetable.branch_snapshot(kept_table, branch)
    src = b.get("summary", {}).get("source_snapshot_id")
    planned_from = b.get("lineage", [{}])[-1].get("from_snapshot", 0)
    try:
        s = icetable.publish_branch(
            kept_table,
            branch,
            rebase=True,
            precondition=lambda p, _parent: src is None
            or _processed_through(p) == planned_from,
        )
    except icetable.PreconditionFailed:
        return {"out_snapshot_id": None, "kept_new": 0, "lost_race": True,
                "source_snapshot_id": src}
    icetable.drop_branch(kept_table, branch)
    return {
        "out_snapshot_id": s["snapshot_id"],
        "kept_new": s["n_new_rows"],
        "lost_race": False,
        "source_snapshot_id": src,
    }
