"""Committed-snapshot table layer (sources/icetable.py): atomic commits,
optimistic-concurrency CAS, time travel, rollback, orphan listing, and the
north rule's resume-from-last-committed-snapshot contract end-to-end
through the extraction pipeline.
"""

import json
import os

import pytest

from kraken_spark.sources import icetable as it


@pytest.fixture(scope="module")
def spark():
    from kraken_spark.session import get_spark

    s = get_spark(app="test-icetable", cores=2, shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    return s


def _df(spark, rows):
    return spark.createDataFrame(rows, "url string, n int")


def test_append_read_roundtrip_and_history(spark, tmp_path):
    t = str(tmp_path / "tbl")
    sid1 = it.append(_df(spark, [("a", 1), ("b", 2)]), t, summary={"run_id": "r1"})
    sid2 = it.append(_df(spark, [("c", 3)]), t)
    assert (sid1, sid2) == (1, 2)
    got = {r.url: r.n for r in it.read(spark, t).collect()}
    assert got == {"a": 1, "b": 2, "c": 3}
    h = it.history(t)
    assert [x["snapshot_id"] for x in h] == [1, 2]
    assert h[0]["summary"]["run_id"] == "r1"
    assert h[1]["parent_id"] == 1
    assert h[1]["n_rows"] == 3  # cumulative manifest rows


def test_uncommitted_files_are_invisible(spark, tmp_path):
    """Crash atomicity: data files staged without a snapshot commit (a
    writer that died mid-job) never reach readers; a torn metadata tmp is
    ignored by the head scan."""
    t = str(tmp_path / "tbl")
    it.append(_df(spark, [("a", 1)]), t)
    # simulate a crashed writer: data written, commit never happened
    staged = os.path.join(t, "data", "deadbeef")
    _df(spark, [("ghost", 99)]).write.parquet(staged)
    # and a torn metadata write
    with open(os.path.join(t, "metadata", "snap-00000000002.json.tmp-x"), "w") as f:
        f.write("{ torn")
    assert it.current_snapshot_id(t) == 1
    got = [r.url for r in it.read(spark, t).collect()]
    assert got == ["a"]
    orphans = it.orphan_data_files(t)
    assert len(orphans) >= 1 and all("deadbeef" in p for p in orphans)


def test_commit_conflict_cas_and_retry(spark, tmp_path):
    """Two writers racing for the same snapshot id: the loser's manifest
    CAS fails and the retry lands on the next id with BOTH data sets
    visible (the Iceberg optimistic-commit protocol)."""
    t = str(tmp_path / "tbl")
    it.append(_df(spark, [("a", 1)]), t)

    real_commit = it._commit
    raced = {"done": False}

    def racing_commit(path, snap):
        # first attempt: another writer sneaks in the same snapshot id
        if not raced["done"]:
            raced["done"] = True
            # a realistic rival append: parent files + nothing new
            parent_manifest = it.snapshot(path, snap["parent_id"])["manifest"]
            rival = dict(snap, manifest=parent_manifest, summary={"rival": True})
            real_commit(path, rival)
        return real_commit(path, snap)

    it._commit = racing_commit
    try:
        sid = it.append(_df(spark, [("b", 2)]), t, retries=3)
    finally:
        it._commit = real_commit
    assert sid == 3  # 2 was stolen by the rival
    snap = it.snapshot(t)
    assert snap["parent_id"] == 2
    got = {r.url for r in it.read(spark, t).collect()}
    assert got == {"a", "b"}  # retry re-based on the rival's head

    # retries exhausted -> CommitConflict surfaces
    def always_conflict(path, snap):
        raise it.CommitConflict("stolen")

    it._commit = always_conflict
    try:
        with pytest.raises(it.CommitConflict):
            it.append(_df(spark, [("c", 3)]), t, retries=2)
    finally:
        it._commit = real_commit


def test_time_travel_overwrite_rollback(spark, tmp_path):
    t = str(tmp_path / "tbl")
    it.append(_df(spark, [("a", 1)]), t)
    it.append(_df(spark, [("b", 2)]), t)
    it.overwrite(_df(spark, [("z", 9)]), t)
    assert {r.url for r in it.read(spark, t).collect()} == {"z"}
    assert {r.url for r in it.read(spark, t, snapshot_id=2).collect()} == {"a", "b"}
    assert {r.url for r in it.read(spark, t, snapshot_id=1).collect()} == {"a"}
    ts2 = it.snapshot(t, 2)["timestamp_ms"]
    assert {r.url for r in it.read(spark, t, asof_ms=ts2).collect()} >= {"a", "b"}
    sid = it.rollback(t, 2)
    assert sid == 4 and {r.url for r in it.read(spark, t).collect()} == {"a", "b"}
    # history intact: the overwrite snapshot still reconstructs
    assert {r.url for r in it.read(spark, t, snapshot_id=3).collect()} == {"z"}


def test_empty_table_read_uses_schema(spark, tmp_path):
    t = str(tmp_path / "tbl")
    it.overwrite(_df(spark, []), t)
    df = it.read(spark, t)
    assert df.columns == ["url", "n"] and df.count() == 0


def test_extraction_resume_from_committed_snapshot(spark, tmp_path):
    """North-rule e2e: first run commits a partial extraction as snapshot
    1; the resumed run anti-joins the COMMITTED state, processes only the
    remainder, and commits snapshot 2 — every url exactly once, per-run
    lineage on each snapshot."""
    from kraken_spark.corpus import generate_corpus_df
    from kraken_spark.pipeline import plan_extraction

    t = str(tmp_path / "extractions")
    docs = generate_corpus_df(spark, 6)
    first = docs.limit(3)

    ext1 = plan_extraction(first, num_partitions=2).select("url", "text", "cer")
    it.append(ext1, t, summary={"run_id": "run1"},
              lineage=[{"stage": "extract", "n_docs": 3}])

    committed = it.read(spark, t).select("url")
    remaining = docs.join(committed, "url", "left_anti")
    assert remaining.count() == 3

    ext2 = plan_extraction(remaining, num_partitions=2).select("url", "text", "cer")
    it.append(ext2, t, summary={"run_id": "run2"},
              lineage=[{"stage": "extract", "n_docs": 3}])

    final = it.read(spark, t).collect()
    assert len(final) == 6
    assert len({r.url for r in final}) == 6
    assert all(r.cer == 0.0 for r in final)
    runs = [h["summary"].get("run_id") for h in it.history(t)]
    assert runs == ["run1", "run2"]
    # lineage rides the snapshot metadata
    assert it.snapshot(t, 1)["lineage"] == [{"stage": "extract", "n_docs": 3}]
    # resume against the FINAL state is a no-op
    assert docs.join(it.read(spark, t).select("url"), "url", "left_anti").count() == 0


def test_manifest_counts_match_parquet_footers(spark, tmp_path):
    t = str(tmp_path / "tbl")
    it.append(_df(spark, [(f"u{i}", i) for i in range(10)]), t)
    snap = it.snapshot(t)
    assert sum(e["rows"] for e in snap["manifest"]) == 10
    for e in snap["manifest"]:
        assert os.path.exists(os.path.join(t, e["path"]))
        assert e["bytes"] > 0
    # on disk the snapshot is TWO-LEVEL (Iceberg's manifest list): refs to
    # immutable segment files, never the flat entry list; all paths are
    # table-relative (no pickles, no local paths)
    raw = json.load(open(os.path.join(t, "metadata", "snap-00000000001.json")))
    assert raw["operation"] == "append" and "manifest" not in raw
    assert len(raw["manifest_list"]) == 1
    ref = raw["manifest_list"][0]
    assert not os.path.isabs(ref["path"]) and ref["n_rows"] == 10
    seg = json.load(open(os.path.join(t, ref["path"])))
    assert sum(e["rows"] for e in seg) == 10
    assert not os.path.isabs(seg[0]["path"])


def test_job_cli_ice_table_format(spark, tmp_path, capsys):
    """job.main --table-format ice: the output is a committed-snapshot
    table (snap-1), a second --resume run is a no-op (anti-join against the
    committed snapshot), and an interrupted writer's staged files never
    count as done."""
    from kraken_spark.corpus import generate_corpus_df
    from kraken_spark.job import main

    tmp = str(tmp_path)
    generate_corpus_df(spark, 4).write.mode("overwrite").parquet(f"{tmp}/in")
    rc = main(["--input", f"{tmp}/in", "--output", f"{tmp}/out",
               "--table-format", "ice", "--run-id", "ice1"])
    assert rc == 0
    assert "committed 4 extraction rows" in capsys.readouterr().out
    assert it.current_snapshot_id(f"{tmp}/out") == 1
    assert it.history(f"{tmp}/out")[0]["summary"]["run_id"] == "ice1"

    # stage orphan data (simulated crash mid-write) -> resume still sees
    # only the committed snapshot and processes 0
    spark.createDataFrame([("u", "t", 0.0)], "url string, text string, cer double") \
        .write.parquet(f"{tmp}/out/data/crashed")
    rc = main(["--input", f"{tmp}/in", "--output", f"{tmp}/out",
               "--table-format", "ice", "--resume"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "resume: 0 documents remaining" in out
    assert "committed 4 extraction rows" in out
    assert it.current_snapshot_id(f"{tmp}/out") == 1  # no empty snapshot


def test_incremental_scan_reads_only_the_delta(spark, tmp_path):
    t = str(tmp_path / "inc")
    sid1 = it.append(_df(spark, [("a", 1), ("b", 2)]), t)
    sid2 = it.append(_df(spark, [("c", 3)]), t)
    sid3 = it.append(_df(spark, [("d", 4), ("e", 5)]), t)
    # delta (sid1, sid3] = rows of sid2+sid3 commits only
    got = sorted(r.url for r in it.read_incremental(spark, t, sid1).collect())
    assert got == ["c", "d", "e"]
    # bounded range (sid1, sid2]
    got = sorted(
        r.url for r in it.read_incremental(spark, t, sid1, sid2).collect()
    )
    assert got == ["c"]
    # genesis: everything
    assert it.read_incremental(spark, t, 0).count() == 5
    # the scan is metadata-pruned: only the delta's files are in the plan
    plan = (
        it.read_incremental(spark, t, sid2, sid3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count(".parquet") <= len(
        it.snapshot(t, sid3)["manifest"]
    ) - len(it.snapshot(t, sid2)["manifest"]) + 1


def test_manifest_column_stats_and_file_skipping(spark, tmp_path):
    """Manifest entries carry per-file column min/max from the parquet
    footers; read(where=...) drops non-intersecting files driver-side
    (Iceberg's lower_bounds/upper_bounds scan planning)."""
    t = str(tmp_path / "stats")
    it.append(_df(spark, [("a", 1), ("b", 5)]).coalesce(1), t)
    it.append(_df(spark, [("c", 100), ("d", 200)]).coalesce(1), t)
    man = it.snapshot(t)["manifest"]
    assert [e["stats"]["n"] for e in man] == [[1, 5], [100, 200]]
    assert man[0]["stats"]["url"] == ["a", "b"]
    # pruning keeps only the intersecting file; rows match the predicate
    assert len(it._prune_entries(man, {"n": (90, 300)})) == 1
    got = {r.url for r in it.read(spark, t, where={"n": (90, 300)}).collect()}
    assert got == {"c", "d"}
    # open bounds, string ranges, and the empty-result path
    assert len(it._prune_entries(man, {"n": (None, 10)})) == 1
    assert len(it._prune_entries(man, {"url": ("c", None)})) == 1
    empty = it.read(spark, t, where={"n": (300, 400)})
    assert empty.count() == 0 and "url" in empty.columns  # schema kept
    # a file without stats for the column is KEPT (prune is conservative),
    # as is one whose stat type mismatches the bound
    assert len(it._prune_entries([{"path": "p", "stats": {}}], {"n": (0, 1)})) == 1
    assert (
        len(it._prune_entries([{"path": "p", "stats": {"n": ["x", "y"]}}],
                              {"n": (0, 1)}))
        == 1
    )
    # incremental scan prunes within the delta only
    inc = it.read_incremental(spark, t, 1, where={"n": (0, 10)})
    assert inc.count() == 0  # snapshot 2's file can't intersect


def test_timestamp_stats_prune_crawl_window(spark, tmp_path):
    """The flagship use: tail a pages table by warc_ts window without
    opening files outside it (datetime bounds vs ISO-stored stats)."""
    import datetime

    t = str(tmp_path / "ts")
    df = spark.createDataFrame(
        [("u1", datetime.datetime(2024, 1, 1)), ("u2", datetime.datetime(2024, 1, 2))],
        "url string, warc_ts timestamp_ntz",
    )
    df2 = spark.createDataFrame(
        [("u3", datetime.datetime(2024, 6, 1))], "url string, warc_ts timestamp_ntz"
    )
    it.append(df.coalesce(1), t)
    it.append(df2.coalesce(1), t)
    man = it.snapshot(t)["manifest"]
    assert man[0]["stats"]["warc_ts"][0].startswith("2024-01-01")
    w = {"warc_ts": (datetime.datetime(2024, 5, 1), None)}
    assert len(it._prune_entries(man, w)) == 1
    assert {r.url for r in it.read(spark, t, where=w).collect()} == {"u3"}


def test_schema_evolution_union_by_name(spark, tmp_path):
    """Iceberg-style schema evolution: add-column unions by name (older
    files read null for the new column), omitted columns read null for
    that writer's files, re-typing a column is refused, and compaction
    rewrites old files under the evolved schema."""
    t = str(tmp_path / "evo")
    it.append(_df(spark, [("a", 1)]), t)
    it.append(
        spark.createDataFrame([("b", 2, "en")], "url string, n int, lang string"), t
    )
    got = it.read(spark, t)
    assert got.columns == ["url", "n", "lang"]
    assert {(r.url, r.n, r.lang) for r in got.collect()} == {
        ("a", 1, None), ("b", 2, "en"),
    }
    # a writer omitting an existing column: its rows read as null there
    it.append(spark.createDataFrame([("c", "fr")], "url string, lang string"), t)
    rows = {(r.url, r.n, r.lang) for r in it.read(spark, t).collect()}
    assert rows == {("a", 1, None), ("b", 2, "en"), ("c", None, "fr")}
    # silently re-typing a column is a conflict; nothing commits
    bad = spark.createDataFrame([("d", "x")], "url string, n string")
    with pytest.raises(it.SchemaConflict, match="column 'n'"):
        it.append(bad, t)
    assert it.current_snapshot_id(t) == 3
    assert it.orphan_data_files(t)  # the refused writer's staged files
    # compaction carries the full evolved column set into rewritten files
    assert it.compact(spark, t, target_bytes=1 << 30) is not None
    assert {(r.url, r.n, r.lang) for r in it.read(spark, t).collect()} == rows
    # incremental scans plan against the endpoint's evolved schema too
    inc = it.read_incremental(spark, t, 1, 3)
    assert inc.columns == ["url", "n", "lang"]
    assert {(r.url, r.n, r.lang) for r in inc.collect()} == {
        ("b", 2, "en"), ("c", None, "fr"),
    }


def test_incremental_scan_empty_delta_and_bad_range(spark, tmp_path):
    t = str(tmp_path / "inc2")
    sid1 = it.append(_df(spark, [("a", 1)]), t)
    assert it.read_incremental(spark, t, sid1).count() == 0
    with pytest.raises(it.NoSuchSnapshot):
        it.read_incremental(spark, t, sid1 + 5)


def test_incremental_scan_refuses_non_append_history(spark, tmp_path):
    t = str(tmp_path / "inc3")
    sid1 = it.append(_df(spark, [("a", 1)]), t)
    it.overwrite(_df(spark, [("z", 9)]), t)
    with pytest.raises(ValueError, match="only defined over append"):
        it.read_incremental(spark, t, sid1)


def test_tail_extraction_incremental_ticks(spark, tmp_path):
    """The recurring-job pattern: each tick extracts ONLY the pages delta
    since the watermark recorded in the output table's own commits; a tick
    with no new source snapshot is a commit-free no-op; a crashed writer's
    staged files never advance the watermark."""
    from kraken_spark.corpus import generate_corpus_df
    from kraken_spark.pipeline import tail_extraction

    pages = str(tmp_path / "pages")
    out = str(tmp_path / "extractions")
    docs = generate_corpus_df(spark, 6).localCheckpoint(eager=True)

    it.append(docs.limit(4), pages)
    r1 = tail_extraction(spark, pages, out, run_id="tick1", num_partitions=2)
    assert r1["processed"] == 4 and r1["out_snapshot_id"] == 1
    urls1 = {r.url for r in it.read(spark, out).select("url").collect()}
    assert len(urls1) == 4

    # no new source snapshot -> no-op, no new output commit
    r2 = tail_extraction(spark, pages, out, run_id="tick2", num_partitions=2)
    assert r2 == {"processed": 0, "source_snapshot_id": 1, "out_snapshot_id": None}
    assert it.current_snapshot_id(out) == 1

    # new crawl arrives: only the 2-doc delta is processed
    all_urls = {r.url for r in docs.select("url").collect()}
    it.append(docs.join(it.read(spark, pages).select("url"), "url", "left_anti"), pages)
    r3 = tail_extraction(spark, pages, out, run_id="tick3", num_partitions=2)
    assert r3["processed"] == 2 and r3["source_snapshot_id"] == 2
    rows = it.read(spark, out).select("url", "cer").collect()
    assert {r.url for r in rows} == all_urls and len(rows) == 6
    assert all(r.cer == 0.0 for r in rows)
    # watermark lineage rides each commit
    assert it.snapshot(out, 2)["lineage"] == [
        {"stage": "tail-extract", "from_snapshot": 1, "to_snapshot": 2}
    ]


def test_tail_extraction_crashed_tick_reprocesses(spark, tmp_path):
    """A tick that wrote data files but died before its commit leaves the
    watermark untouched: the next tick reprocesses the same delta and the
    orphaned files stay invisible."""
    from kraken_spark.corpus import generate_corpus_df
    from kraken_spark.pipeline import plan_extraction, tail_extraction

    pages = str(tmp_path / "pages")
    out = str(tmp_path / "extractions")
    docs = generate_corpus_df(spark, 3).localCheckpoint(eager=True)
    it.append(docs, pages)

    # simulate the crash: stage extraction data files under the output
    # table WITHOUT a metadata commit
    os.makedirs(os.path.join(out, "data"), exist_ok=True)
    plan_extraction(docs, num_partitions=2).write.parquet(
        os.path.join(out, "data", "deadbeef")
    )
    assert it.current_snapshot_id(out) == 0

    r = tail_extraction(spark, pages, out, run_id="retick", num_partitions=2)
    assert r["processed"] == 3
    assert len(it.read(spark, out).collect()) == 3
    assert it.orphan_data_files(out)  # the dead writer's files are orphans


def test_ice_extraction_data_commit_failure_leaves_orphans(spark, tmp_path, monkeypatch):
    """An ice extraction whose data commit fails commits nothing: the head
    stays where it was and the files its tasks staged are orphans. The
    commit names only its own tasks' files, so a rerun commits each url
    exactly once and the crashed attempt's files stay orphans."""
    from kraken_spark.corpus import generate_corpus_df
    from kraken_spark.pipeline import remaining_documents, run_extraction

    out = str(tmp_path / "extractions")
    docs = generate_corpus_df(spark, 6).localCheckpoint(eager=True)
    run_extraction(docs.limit(3), out_path=out, num_partitions=2, table_format="ice")
    committed = set(it._referenced_files(out))
    real = it._commit_new_files

    def crash_once(*a, **kw):
        monkeypatch.setattr(it, "_commit_new_files", real)
        raise OSError("simulated crash before the data commit")

    monkeypatch.setattr(it, "_commit_new_files", crash_once)
    rest = remaining_documents(docs, out, "ice").localCheckpoint(eager=True)
    with pytest.raises(OSError, match="simulated crash"):
        run_extraction(rest, out_path=out, num_partitions=2, table_format="ice")
    assert it.current_snapshot_id(out) == 1
    orphans = it.orphan_data_files(out)
    assert orphans and all("/data/ds-" in f for f in orphans)

    run_extraction(rest, out_path=out, num_partitions=2, table_format="ice")
    assert it.current_snapshot_id(out) == 2
    urls = [r.url for r in it.read(spark, out).select("url").collect()]
    assert sorted(urls) == sorted(r.url for r in docs.select("url").collect())
    assert it.orphan_data_files(out) == orphans
    assert committed < set(it._referenced_files(out))


def test_append_precondition(spark, tmp_path):
    """A failing precondition aborts the commit (nothing becomes visible,
    the staged files are orphans); a passing one commits; the predicate
    sees the head the commit will actually build on."""
    t = str(tmp_path / "tbl")
    it.append(_df(spark, [("a", 1)]), t)
    seen = []

    def pre(path, parent):
        seen.append(parent)
        return False

    with pytest.raises(it.PreconditionFailed):
        it.append(_df(spark, [("b", 2)]), t, precondition=pre)
    assert seen == [1]  # evaluated against the true head, no retries after
    assert it.current_snapshot_id(t) == 1
    assert {r.url for r in it.read(spark, t).collect()} == {"a"}
    assert len(it.orphan_data_files(t)) > 0  # staged files stay invisible

    sid = it.append(_df(spark, [("b", 2)]), t, precondition=lambda p, par: par == 1)
    assert sid == 2
    assert {r.url for r in it.read(spark, t).collect()} == {"a", "b"}


def test_job_cli_tail_mode(spark, tmp_path, capsys):
    """job.main --tail: two ticks over a growing ice pages table — the
    second tick processes only the newly committed crawl."""
    from kraken_spark.corpus import generate_corpus_df
    from kraken_spark.job import main

    tmp = str(tmp_path)
    docs = generate_corpus_df(spark, 5).localCheckpoint(eager=True)
    it.append(docs.limit(3), f"{tmp}/pages")
    rc = main(["--input", f"{tmp}/pages", "--output", f"{tmp}/out",
               "--tail", "--run-id", "t1", "--partitions", "2"])
    assert rc == 0
    assert "tail tick: 3 new documents" in capsys.readouterr().out

    it.append(docs.join(it.read(spark, f"{tmp}/pages").select("url"), "url", "left_anti"),
              f"{tmp}/pages")
    rc = main(["--input", f"{tmp}/pages", "--output", f"{tmp}/out",
               "--tail", "--run-id", "t2", "--partitions", "2"])
    assert rc == 0
    assert "tail tick: 2 new documents" in capsys.readouterr().out
    assert len(it.read(spark, f"{tmp}/out").collect()) == 5
