"""Python DataSource face for ice tables (sources/ice_datasource.py):
``spark.read/write/readStream/writeStream.format("ice")``.

Pins: batch-read parity with ``icetable.read`` (snapshot schema, MOR
masks, time travel options), manifest-stat file pruning through Spark's
own filter-pushdown channel AND the ``where`` option, the task-write /
driver-CAS-commit split (stats, seq stamping, schema evolution,
overwrite), streaming source offsets = snapshot ids (compaction skipped,
membership-changing ops refused), and the exactly-once streaming sink
(batch id in the snapshot summary; retried batches commit nothing).
"""

import os

import pytest
from pyspark.sql import functions as F

from kraken_spark.sources import icetable as it
from kraken_spark.sources.ice_datasource import (
    IceBatchReader,
    IcePushdownReader,
    IceStreamWriter,
    register,
)


@pytest.fixture(scope="module")
def spark():
    from kraken_spark.session import get_spark

    s = get_spark(app="test-ice-ds", cores=4, shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    register(s)
    return s


def _pages(spark, a, b):
    return spark.range(a, b).select(
        F.format_string("https://x/%04d", F.col("id")).alias("url"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("warc_ts"),
        F.col("id").cast("int").alias("n"),
    )


def test_batch_read_of_a_table_without_data_files(spark, tmp_path):
    """A snapshot with no data files (every row deleted, or only empty
    appends) plans no scan partitions; the read is empty under the
    snapshot schema instead of failing on Spark's placeholder partition."""
    t = str(tmp_path / "t")
    it.append(_pages(spark, 0, 5), t)
    it.delete_where(spark, t, "n >= 0")
    it.append(_pages(spark, 0, 0), t)
    assert it.snapshot(t)["manifest"] == []
    got = spark.read.format("ice").load(t)
    assert got.columns == ["url", "warc_ts", "n"] and got.count() == 0


def test_batch_read_parity_and_time_travel(spark, tmp_path):
    t = str(tmp_path / "t")
    it.append(_pages(spark, 0, 50), t)
    it.append(_pages(spark, 50, 80), t)
    got = spark.read.format("ice").load(t)
    ref = it.read(spark, t)
    # snapshot schema, timestamps included (nullability differs: the JVM
    # parquet scan forces nullable, the Python source keeps the committed
    # writer schema — compare names + types)
    assert [(f.name, f.dataType) for f in got.schema.fields] == [
        (f.name, f.dataType) for f in ref.schema.fields
    ]
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))
    # snapshot_id option = time travel; tag option = same snapshot by name
    it.create_tag(t, "v1", at_snapshot_id=1)
    assert spark.read.format("ice").option("snapshot_id", "1").load(t).count() == 50
    assert spark.read.format("ice").option("tag", "v1").load(t).count() == 50


def test_batch_read_schema_evolution_nulls(spark, tmp_path):
    t = str(tmp_path / "t")
    it.append(_pages(spark, 0, 10), t)
    it.append(_pages(spark, 10, 20).withColumn("lang", F.lit("en")), t)
    got = spark.read.format("ice").load(t)
    assert "lang" in got.columns
    # pre-evolution files read null for the added column
    assert got.filter(F.col("lang").isNull()).count() == 10
    assert got.filter(F.col("lang") == "en").count() == 10


def test_pushdown_prunes_files_and_stays_correct(spark, tmp_path):
    t = str(tmp_path / "t")
    it.append(_pages(spark, 0, 400), t, sort_by=["url"])  # disjoint ranges
    schema = it.read(spark, t).schema
    base = IceBatchReader({"path": t, "split_bytes": "1"}, schema)
    n_all = len(base.partitions())
    assert n_all > 1
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, LessThan

    rd = IcePushdownReader({"path": t, "split_bytes": "1"}, schema)
    back = list(rd.pushFilters([EqualTo(("url",), "https://x/0123")]))
    assert len(back) == 1  # every filter handed back for row-level re-apply
    assert len(rd.partitions()) < n_all
    # range predicates prune too, and never drop a matching row
    rd2 = IcePushdownReader({"path": t, "split_bytes": "1"}, schema)
    rd2.pushFilters(
        [GreaterThanOrEqual(("url",), "https://x/0100"), LessThan(("url",), "https://x/0200")]
    )
    assert 0 < len(rd2.partitions()) < n_all
    got = (
        spark.read.format("ice").option("pushdown", "true").load(t)
        .filter("url >= 'https://x/0100' and url < 'https://x/0200'")
    )
    assert got.count() == 100
    # the always-available manual ranges (no pushdown conf needed)
    sel = (
        spark.read.format("ice")
        .option("where", '{"url": ["https://x/0123", "https://x/0123"]}')
        .load(t)
        .filter("url = 'https://x/0123'")
    )
    assert sel.count() == 1


def test_mor_mask_and_sequence_rule(spark, tmp_path):
    t = str(tmp_path / "t")
    it.append(_pages(spark, 0, 30), t)
    it.delete_keys(spark, t, ["https://x/0007"], key="url")
    got = spark.read.format("ice").load(t)
    assert got.count() == 29
    assert got.filter("url = 'https://x/0007'").count() == 0
    # a post-delete recrawl re-adding the url is VISIBLE (seq rule)
    it.append(_pages(spark, 7, 8), t)
    got2 = spark.read.format("ice").load(t)
    assert got2.filter("url = 'https://x/0007'").count() == 1
    assert got2.count() == 30


def test_batch_write_commit_protocol(spark, tmp_path):
    t = str(tmp_path / "t")
    _pages(spark, 0, 40).write.format("ice").mode("append").save(t)
    _pages(spark, 40, 60).write.format("ice").mode("append").save(t)
    assert it.read(spark, t).count() == 60
    snaps = it.history(t)
    assert [h["operation"] for h in snaps] == ["append", "append"]
    assert snaps[-1]["summary"]["writer"] == "datasource"
    # manifest entries carry footer stats + per-commit data sequence
    head = it.snapshot(t)
    for e in head["manifest"]:
        assert e["rows"] > 0 and "url" in e["stats"]
        assert e["seq"] in (1, 2)
    # stats-pruned point read through the library face agrees
    assert (
        it.read(spark, t, where={"url": ("https://x/0005", "https://x/0005")})
        .filter("url = 'https://x/0005'").count() == 1
    )
    # union-by-name evolution on write
    _pages(spark, 60, 70).withColumn("lang", F.lit("fr")).write.format(
        "ice"
    ).mode("append").save(t)
    got = spark.read.format("ice").load(t)
    assert got.filter("lang = 'fr'").count() == 10
    assert got.filter("lang is null").count() == 60
    # overwrite mode replaces the table state
    _pages(spark, 0, 5).write.format("ice").mode("overwrite").save(t)
    assert it.read(spark, t).count() == 5
    assert it.history(t)[-1]["operation"] == "overwrite"


def test_writers_stage_one_row_group_per_task(spark, tmp_path, monkeypatch):
    """A 200-row task arrives as four 64-row Arrow batches
    (maxRecordsPerBatch); both DataSource writers stage it as one file of
    one row group, not one row group per batch. A row group closes at the
    ROW_GROUP_BYTES budget."""
    import pyarrow.parquet as pq

    from kraken_spark.sources import ice_datasource

    t = str(tmp_path / "batch")
    _pages(spark, 0, 200).coalesce(1).write.format("ice").mode("append").save(t)
    w = IceStreamWriter({"path": str(tmp_path / "stream"),
                         "checkpointlocation": "q"}, _pages(spark, 0, 1).schema, False)
    msg = w.write(iter(_pages(spark, 0, 200).toArrow().to_batches(max_chunksize=64)))
    files = [os.path.join(t, e["path"]) for e in it.snapshot(t)["manifest"]]
    files += [os.path.join(str(tmp_path / "stream"), f) for f in msg.files]
    assert len(files) == 2
    for f in files:
        meta = pq.read_metadata(f)
        assert (meta.num_rows, meta.num_row_groups) == (200, 1)
    monkeypatch.setattr(ice_datasource, "ROW_GROUP_BYTES", 1)
    msg = w.write(iter(_pages(spark, 0, 200).toArrow().to_batches(max_chunksize=64)))
    meta = pq.read_metadata(os.path.join(str(tmp_path / "stream"), msg.files[0]))
    assert meta.num_rows == 200 and meta.num_row_groups > 1


def test_writer_refuses_partitioned_table(spark, tmp_path):
    t = str(tmp_path / "t")
    it.append(_pages(spark, 0, 10), t, partition_by=["days(warc_ts)"])
    with pytest.raises(Exception, match="partition"):
        _pages(spark, 10, 20).write.format("ice").mode("append").save(t)


def test_stream_source_to_ice_sink_exactly_once(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    ckpt = str(tmp_path / "ckpt")
    it.append(_pages(spark, 0, 30), src)
    it.append(_pages(spark, 30, 50), src)
    q = (
        spark.readStream.format("ice").option("starting", "earliest").load(src)
        .writeStream.format("ice").option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start(dst)
    )
    q.awaitTermination(120)
    assert it.read(spark, dst).count() == 50
    assert it.history(dst)[-1]["summary"]["stream_batch_id"] == 0
    # new appends + a compaction in the range; restart from checkpoint
    it.append(_pages(spark, 50, 70), src)
    it.compact(spark, src)
    it.append(_pages(spark, 70, 80), src)
    q2 = (
        spark.readStream.format("ice").option("starting", "earliest").load(src)
        .writeStream.format("ice").option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start(dst)
    )
    q2.awaitTermination(120)
    got = it.read(spark, dst)
    assert got.count() == 80  # only the delta was delivered
    assert got.select("url").distinct().count() == 80  # no duplicates
    # a caught-up restart delivers nothing
    q3 = (
        spark.readStream.format("ice").option("starting", "earliest").load(src)
        .writeStream.format("ice").option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start(dst)
    )
    q3.awaitTermination(120)
    assert it.read(spark, dst).count() == 80


def test_stream_sink_retried_batch_commits_nothing(spark, tmp_path):
    dst = str(tmp_path / "dst")
    schema = _pages(spark, 0, 1).schema
    w = IceStreamWriter({"path": dst, "checkpointlocation": "q1"}, schema, False)
    batches = list(_pages(spark, 0, 10).toArrow().to_batches())
    m1 = w.write(iter(batches))
    w.commit([m1], batchId=7)
    assert it.read(spark, dst).count() == 10
    # the zombie retry of batch 7 stages files but must not commit them
    m2 = w.write(iter(batches))
    w.commit([m2], batchId=7)
    assert it.read(spark, dst).count() == 10
    assert len(it.history(dst)) == 1
    # its staged files are invisible orphans, reclaimable by vacuum
    assert len(it.orphan_data_files(dst)) == 1
    # a DIFFERENT query's batch 7 is not confused with ours
    w2 = IceStreamWriter({"path": dst, "checkpointlocation": "q2"}, schema, False)
    m3 = w2.write(iter(list(_pages(spark, 10, 15).toArrow().to_batches())))
    w2.commit([m3], batchId=7)
    assert it.read(spark, dst).count() == 15


def test_stream_refuses_membership_changing_ops(spark, tmp_path):
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    it.append(_pages(spark, 0, 10), src)
    it.append(_pages(spark, 10, 20), src)
    it.delete_where(spark, src, "url = 'https://x/0003'")
    q = (
        spark.readStream.format("ice").option("starting", "earliest").load(src)
        .writeStream.format("ice")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True).start(dst)
    )
    with pytest.raises(Exception, match="delete|stream"):
        q.awaitTermination(120)
        raise AssertionError("stream should have failed over a delete snapshot")


def test_streaming_extraction_exactly_once(spark, tmp_path):
    """The continuous production loop: readStream over the ice pages
    table -> the full (stateless) extraction plan -> exactly-once ice
    sink. Each catch-up run processes only the new pages; CER 0 holds
    through the streaming path; a caught-up run commits nothing."""
    from kraken_spark.corpus import generate_corpus_df
    from kraken_spark.pipeline import streaming_extraction

    pages = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    docs = generate_corpus_df(spark, 4).localCheckpoint(eager=True)
    first = docs.limit(2).localCheckpoint(eager=True)
    it.append(first, pages)

    q = streaming_extraction(spark, pages, out, ckpt, available_now=True, num_partitions=2)
    q.awaitTermination(300)
    got = it.read(spark, out).collect()
    assert len(got) == 2 and all(r.cer == 0.0 for r in got)

    # new pages land; the next run extracts ONLY the delta
    it.append(docs.join(first.select("url"), "url", "left_anti"), pages)
    q2 = streaming_extraction(spark, pages, out, ckpt, available_now=True, num_partitions=2)
    q2.awaitTermination(300)
    final = it.read(spark, out).collect()
    assert len(final) == 4
    assert len({r.url for r in final}) == 4  # exactly once per url
    assert all(r.cer == 0.0 for r in final)
    n_snaps = len(it.history(out))

    # caught up: a third run commits nothing
    q3 = streaming_extraction(spark, pages, out, ckpt, available_now=True, num_partitions=2)
    q3.awaitTermination(300)
    assert len(it.history(out)) == n_snaps


def test_job_cli_stream_mode(spark, tmp_path, capsys):
    """job.main --stream: the continuous extraction leg from the CLI —
    drains the committed pages via Structured Streaming into an ice
    output with exactly-once commits."""
    from kraken_spark.corpus import generate_corpus_df
    from kraken_spark.job import main

    tmp = str(tmp_path)
    docs = generate_corpus_df(spark, 3).localCheckpoint(eager=True)
    it.append(docs, f"{tmp}/pages")
    rc = main(["--input", f"{tmp}/pages", "--output", f"{tmp}/out",
               "--stream", "--checkpoint", f"{tmp}/ckpt", "--partitions", "2"])
    assert rc == 0
    assert "stream drained" in capsys.readouterr().out
    got = it.read(spark, f"{tmp}/out").collect()
    assert len(got) == 3 and all(r.cer == 0.0 for r in got)


def test_scan_partitions_are_bin_packed_bundles(spark, tmp_path):
    """Split planning: many small files bundle into ~split_bytes tasks
    (one task per file would mean 10^6 task launches at 10^6 files);
    split_bytes=1 forces the per-file layout; results are identical."""
    t = str(tmp_path / "t")
    for a in range(0, 60, 10):  # six small files
        it.append(_pages(spark, a, a + 10), t)
    schema = it.read(spark, t).schema
    bundled = IceBatchReader({"path": t}, schema).partitions()
    per_file = IceBatchReader({"path": t, "split_bytes": "1"}, schema).partitions()
    assert len(per_file) >= 6 and len(bundled) < len(per_file)
    got = spark.read.format("ice").load(t)
    assert got.count() == 60
    assert sorted(r.url for r in got.collect()) == sorted(
        r.url for r in it.read(spark, t).collect()
    )


def test_datasource_write_preserves_table_sort_order(spark, tmp_path):
    """Regression: a DataSource write must not strip the table-level sort
    order from the inheritance chain — its own staged files are unsorted
    (documented), but a LATER icetable.append must still range-cluster."""
    t = str(tmp_path / "t")
    it.append(_pages(spark, 0, 200), t, sort_by=["url"])
    _pages(spark, 200, 260).write.format("ice").mode("append").save(t)
    assert it.snapshot(t).get("sort_order") == ["url"]
    it.append(_pages(spark, 300, 500), t)  # spec-less: inherits the order
    # the inherited append's files have near-disjoint url ranges
    new = [
        e for e in it.snapshot(t)["manifest"]
        if e["stats"].get("url", ["", ""])[0] >= "https://x/0300"
    ]
    assert len(new) > 1
    spans = sorted((e["stats"]["url"][0], e["stats"]["url"][1]) for e in new)
    for (a_lo, a_hi), (b_lo, b_hi) in zip(spans, spans[1:]):
        assert a_hi <= b_lo  # disjoint: the order survived the DS write


def test_stream_sink_requires_query_scope(spark, tmp_path):
    """Without a checkpointLocation/queryName option the sink's batch-id
    bookkeeping would collide across anonymous queries — refuse loudly."""
    with pytest.raises(ValueError, match="checkpointLocation"):
        IceStreamWriter({"path": str(tmp_path / "t")}, _pages(spark, 0, 1).schema, False)


def test_stream_source_refuses_time_travel_options(spark, tmp_path):
    from kraken_spark.sources.ice_datasource import IceStreamReader

    t = str(tmp_path / "t")
    it.append(_pages(spark, 0, 2), t)
    with pytest.raises(ValueError, match="batch-only"):
        IceStreamReader({"path": t, "tag": "v1"}, _pages(spark, 0, 1).schema)
