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


# The nine main-namespace commits, each as (setup, operation, rival): the
# rival is a real commit that makes the operation's own validation fail
# against the new head, with the exception that failure raises.
def _setup_rows(spark, t):
    it.append(_df(spark, [("a", 1), ("b", 2)]).coalesce(1), t)
    it.append(_df(spark, [("c", 3)]).coalesce(1), t)


def _setup_eq_delete(spark, t):
    _setup_rows(spark, t)
    it.delete_keys(spark, t, ["a"])


def _setup_branch(spark, t):
    _setup_rows(spark, t)
    it.create_branch(t, "wap")
    it.branch_append(_df(spark, [("w", 7)]), t, "wap")


def _overwrite(spark, t):
    it.overwrite(_df(spark, [("z", 9)]), t)


def _append(spark, t):
    it.append(_df(spark, [("r", 8)]), t)


_COMMIT_OPS = {
    "append": (
        _setup_rows,
        lambda spark, t: it.append(
            _df(spark, [("d", 4)]), t, precondition=lambda p, parent: parent == 2
        ),
        (_append, it.PreconditionFailed),
    ),
    "rollback": (_setup_rows, lambda spark, t: it.rollback(t, 1), None),
    "compact": (
        _setup_rows,
        lambda spark, t: it.compact(spark, t, target_bytes=1 << 30),
        (_overwrite, it.CommitConflict),
    ),
    "delete_where": (
        _setup_rows,
        lambda spark, t: it.delete_where(spark, t, "n = 1"),
        (_overwrite, it.CommitConflict),
    ),
    "delete_keys": (
        _setup_rows,
        lambda spark, t: it.delete_keys(spark, t, ["b"]),
        (lambda spark, t: it.scrub_where(spark, t, "n = 3"), ValueError),
    ),
    "scrub_where": (
        _setup_rows,
        lambda spark, t: it.scrub_where(spark, t, "n = 1"),
        (lambda spark, t: it.delete_keys(spark, t, ["c"]), ValueError),
    ),
    "rewrite_deletes": (
        _setup_eq_delete,
        lambda spark, t: it.rewrite_deletes(spark, t),
        (_overwrite, it.CommitConflict),
    ),
    "publish_branch": (
        _setup_branch,
        lambda spark, t: it.publish_branch(t, "wap"),
        (_append, it.PreconditionFailed),
    ),
    "merge_by_key": (
        _setup_rows,
        lambda spark, t: it.merge_by_key(spark, t, _df(spark, [("a", 5), ("e", 6)])),
        (_overwrite, it.CommitConflict),
    ),
}


def _data_files(t):
    return {
        os.path.normpath(os.path.join(root, n))
        for root, _dirs, names in os.walk(os.path.join(t, "data"))
        for n in names
        if n.endswith(".parquet")
    }


@pytest.mark.parametrize("name", sorted(_COMMIT_OPS))
def test_commit_retries_one_injected_conflict(spark, tmp_path, monkeypatch, name):
    """One CommitConflict from the first ``_commit``: the operation lands on
    the retry with the snapshot, seq stamps and summary keys of a run
    without the injection. New entries carry the committed snapshot's id
    as seq — except compaction's, which keep their group's oldest seq."""
    setup, op, _rival = _COMMIT_OPS[name]
    plain, flaky = str(tmp_path / "plain"), str(tmp_path / "flaky")
    for t in (plain, flaky):
        setup(spark, t)
    op(spark, plain)
    real, calls = it._commit, []

    def conflict_once(path, snap):
        calls.append(snap["snapshot_id"])
        if len(calls) == 1:
            raise it.CommitConflict("injected")
        return real(path, snap)

    monkeypatch.setattr(it, "_commit", conflict_once)
    op(spark, flaky)
    monkeypatch.setattr(it, "_commit", real)
    head = it.snapshot(flaky)
    assert calls == [head["snapshot_id"]] * 2
    want = it.snapshot(plain)
    assert head["snapshot_id"] == want["snapshot_id"]
    assert head["operation"] == want["operation"]
    assert sorted(head["summary"]) == sorted(want["summary"])
    parent_paths = {e["path"] for e in it.snapshot(flaky, head["parent_id"])["manifest"]}
    new = [e for e in head["manifest"] if e["path"] not in parent_paths]
    seq = 1 if name == "compact" else head["snapshot_id"]
    assert all(e["seq"] == seq for e in new)
    assert bool(new) == (name != "rollback")
    assert sorted(r.url for r in it.read(spark, flaky).collect()) == sorted(
        r.url for r in it.read(spark, plain).collect()
    )


@pytest.mark.parametrize("name", sorted(_COMMIT_OPS))
def test_commit_conflict_exhausts_retries(spark, tmp_path, monkeypatch, name):
    """``_commit`` always conflicting: CommitConflict surfaces after the
    retries, the head is unchanged, and every data file the operation
    staged is an orphan."""
    setup, op, _rival = _COMMIT_OPS[name]
    t = str(tmp_path / "tbl")
    setup(spark, t)
    head, before, calls = it.current_snapshot_id(t), _data_files(t), []

    def always_conflict(path, snap):
        calls.append(snap["snapshot_id"])
        raise it.CommitConflict("injected")

    monkeypatch.setattr(it, "_commit", always_conflict)
    with pytest.raises(it.CommitConflict):
        op(spark, t)
    assert calls == [head + 1] * 3
    assert it.current_snapshot_id(t) == head
    staged = _data_files(t) - before
    assert bool(staged) == (name not in ("rollback", "publish_branch"))
    assert staged <= set(it.orphan_data_files(t))


@pytest.mark.parametrize(
    "name", sorted(n for n, (_s, _o, rival) in _COMMIT_OPS.items() if rival)
)
def test_commit_validation_failure_is_not_retried(spark, tmp_path, monkeypatch, name):
    """A rival commit lands just before the operation's first CAS: the
    retry re-validates against the rival's head and the validation
    failure propagates at once — no further ``_commit``."""
    setup, op, (rival, exc) = _COMMIT_OPS[name]
    t = str(tmp_path / "tbl")
    setup(spark, t)
    real, calls = it._commit, []

    def rival_first(path, snap):
        calls.append(snap["snapshot_id"])
        if len(calls) == 1:
            monkeypatch.setattr(it, "_commit", real)
            rival(spark, t)
            monkeypatch.setattr(it, "_commit", rival_first)
        return real(path, snap)

    monkeypatch.setattr(it, "_commit", rival_first)
    with pytest.raises(exc):
        op(spark, t)
    assert len(calls) == 1
    assert it.current_snapshot_id(t) == calls[0]  # the rival's snapshot only


def test_appends_commit_no_zero_row_files(spark, tmp_path):
    """Spark's writer opens a file for an empty first write partition. The
    0-row part files of a 3-row frame over 4 slices, an empty frame and an
    all-filtered frame are deleted from the staging directory and never
    reach a manifest; every read is unchanged."""
    t = str(tmp_path / "tbl")
    three = spark.createDataFrame(
        spark.sparkContext.parallelize([("a", 1), ("b", 2), ("c", 3)], 4),
        "url string, n int",
    )
    it.append(_df(spark, []), t)
    it.append(three, t)
    it.append(_df(spark, [("d", 4), ("e", 5)]).repartition(4).where("n < 0"), t)
    for sid in (1, 2, 3):
        assert all(e["rows"] > 0 for e in it.snapshot(t, sid)["manifest"])
    assert [h["summary"]["n_new_files"] for h in it.history(t)] == [0, 3, 0]
    assert [h["summary"]["n_new_rows"] for h in it.history(t)] == [0, 3, 0]
    assert it.read(spark, t, snapshot_id=1).columns == ["url", "n"]
    assert it.read(spark, t, snapshot_id=1).count() == 0
    assert sorted(r.url for r in it.read(spark, t).collect()) == ["a", "b", "c"]
    assert sorted(r.url for r in it.read_incremental(spark, t, 0).collect()) == [
        "a", "b", "c",
    ]
    assert it.read_incremental(spark, t, 2).count() == 0
    assert it.orphan_data_files(t) == []


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
