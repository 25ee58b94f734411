"""Tests of the benchmark's own pieces: span self-time arithmetic, metric
names against the BENCHMARK.json contract, and input generation.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import child  # noqa: E402
import hostproc  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import stagemetrics  # noqa: E402


# -- spans -------------------------------------------------------------------

def test_self_time_subtracts_children():
    s = [["root", 0.0, 10.0, -1, "d"],
         ["a", 1.0, 3.0, 0, "d"],
         ["b", 4.0, 8.0, 0, "d"],
         ["c", 5.0, 6.0, 2, "d"]]
    st = spans.self_times(s)
    assert st == pytest.approx({"root": 4.0, "a": 2.0, "b": 3.0, "c": 1.0})
    # self times of a tree add up to the root's duration
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_counts_overlapping_children_once_and_clips():
    s = [["root", 0.0, 10.0, -1, None],
         ["x", 2.0, 6.0, 0, None],
         ["x", 4.0, 7.0, 0, None],      # overlaps the first child
         ["y", 9.0, 12.0, 0, None]]     # runs past the parent's end
    assert spans.self_times(s)["root"] == pytest.approx(10.0 - 5.0 - 1.0)


def test_self_time_sums_repeated_names():
    s = [["k", 0.0, 1.0, -1, "a"], ["k", 2.0, 2.5, -1, "b"]]
    assert spans.self_times(s) == pytest.approx({"k": 1.5})


def test_tracer_records_nesting_and_wrappers_restore():
    from kraken_spark.kernels import metrics

    tracer = spans.Tracer()
    orig = metrics.cer
    wrappers = spans.KernelWrappers(tracer)
    tracer.doc = "u1"
    with wrappers, tracer.span("stages.extract_document"):
        assert metrics.cer is not orig
        assert metrics.cer("abc", "abd") == orig("abc", "abd")
    assert metrics.cer is orig
    names = [(n, parent, doc) for n, _s, _e, parent, doc in tracer.spans]
    assert names == [("stages.extract_document", -1, "u1"), ("kernels.cer", 0, "u1")]
    assert all(e >= s for _n, s, e, _p, _d in tracer.spans)


def test_every_kernel_target_resolves():
    wrappers = spans.KernelWrappers(spans.Tracer())
    assert len(wrappers._slots) == sum(len(t) for t in spans.KERNEL_TARGETS.values())


# -- metric names vs the contract ---------------------------------------------

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_shape():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert b["paths"] == ["perfbench"]
    assert 1 <= b["run_seconds"] <= 60
    assert [w["name"] for w in b["workloads"]] == list(run.WORKLOADS)
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + list(run.WORKLOADS)
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"]) for m in b["end_to_end"] + b["per_layer"])


def test_end_to_end_metrics_match_the_runner():
    b = _bench()
    e2e = {m["name"]: m for m in b["end_to_end"]}
    assert {k: m["unit"] for k, m in e2e.items()} == run.END_TO_END
    assert all(set(m) == {"name", "unit", "better", "bound"} for m in e2e.values())
    assert all(0 < m["bound"] <= 0.25 for m in e2e.values())
    assert e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())


def test_per_layer_metrics_match_the_traced_run():
    b = _bench()
    assert {m["name"]: m["unit"] for m in b["per_layer"]} == child.PER_LAYER
    assert all(set(m) == {"name", "unit", "better"} for m in b["per_layer"])
    kernel_metrics = {f"{k}.self_ms" for k in spans.KERNEL_TARGETS}
    assert kernel_metrics <= set(child.PER_LAYER)


# -- input generation ---------------------------------------------------------

def _fake_pool(n_normal: int = 100, n_heavy: int = 3) -> pa.Table:
    rng = np.random.default_rng(0)
    n = n_normal + n_heavy
    return pa.Table.from_pylist([
        {"idx": i, "html": rng.bytes(32),
         "text": "\n".join("x" * int(rng.integers(20, 60)) for _ in range(3)),
         "lang": ("en", "fr", "ar")[i % 3],
         "n_lines": int(rng.integers(60, 122)) if i >= n_normal else int(rng.integers(8, 40)),
         "oversized": i >= n_normal}
        for i in range(n)], schema=inputs.POOL_SCHEMA)


def test_draws_are_deterministic_per_seed():
    pool = _fake_pool()
    for draw in (inputs.bulk_picks, inputs.skew_picks):
        assert draw(pool, 7) == draw(pool, 7)
        assert draw(pool, 7) != draw(pool, 8)
    b = inputs.bulk_picks(pool, 3)
    over = pool.column("oversized").to_pylist()
    assert len(b) == len(set(b)) == inputs.BULK_NORMAL + inputs.BULK_HEAVY
    assert sum(over[i] for i in b) == inputs.BULK_HEAVY


def test_skew_draw_holds_the_work_target():
    pool = _fake_pool()
    lines = np.asarray(pool.column("n_lines").to_pylist(), dtype=float)
    chars = np.asarray([len(t) for t in pool.column("text").to_pylist()], dtype=float)
    over = np.asarray(pool.column("oversized").to_pylist())
    totals = set()
    for seed in range(5):
        p = inputs.skew_picks(pool, seed)
        assert over[p].sum() == inputs.SKEW_HEAVY and len(p) == len(set(p))
        for v in (lines, chars):
            want = inputs.SKEW_HEAVY * v[over].mean() + inputs.SKEW_NORMAL * v[~over].mean()
            assert abs(v[p].sum() - want) <= inputs.SKEW_TOL * want
        totals.add(tuple(sorted(p)))
    assert len(totals) == 5


def test_documents_and_web_pages_are_deterministic():
    pool = _fake_pool()
    a = inputs._documents(pool, [3, 1, 2], 5)
    assert a.equals(inputs._documents(pool, [3, 1, 2], 5))
    assert len(set(a.column("url").to_pylist())) == 3
    assert a.column("url") != inputs._documents(pool, [3, 1, 2], 6).column("url")
    w1 = inputs.web_pages(pool, 9, 20)
    assert w1 == inputs.web_pages(pool, 9, 20)
    assert [p["html"] for p in w1] != [p["html"] for p in inputs.web_pages(pool, 10, 20)]


def test_warc_shards_round_trip(tmp_path):
    from kraken_spark.sources.warc import warc_to_documents

    pages = inputs.web_pages(_fake_pool(), 1, 10)
    inputs.write_warc_shards(pages, str(tmp_path), 3)
    got = []
    for name in sorted(os.listdir(tmp_path)):
        got += warc_to_documents((tmp_path / name).read_bytes())
    assert sorted(r["url"] for r in got) == sorted(p["url"] for p in pages)
    by_url = {p["url"]: p["html"] for p in pages}
    assert all(bytes(r["html"]) == by_url[r["url"]] for r in got)


def test_pool_indices_match_the_renderer():
    from kraken_spark.kernels import render

    normal, heavy = inputs.pool_indices(42, 30, 1)
    assert len(normal) == 30 and len(heavy) == 1
    assert render.render_document(42, heavy[0])["oversized"]
    assert not render.render_document(42, normal[0])["oversized"]


def test_pool_cache_is_keyed_and_verified(tmp_path, monkeypatch):
    """A cached pool is reused only while its key (seed, size, source
    digest) and its file digest both match; otherwise it is rebuilt."""
    root = tmp_path / "checkout"
    (root / "perfbench").mkdir(parents=True)
    (root / "kraken_spark").symlink_to(os.path.join(ROOT, "kraken_spark"))
    monkeypatch.setattr(inputs, "POOL_NORMAL", 2)
    monkeypatch.setattr(inputs, "POOL_HEAVY", 0)
    first = inputs.ensure_pool(str(root), procs=1)
    assert first.num_rows == 2
    # the render processes, multiprocessing's resource tracker included,
    # are all gone once the pool is built
    assert hostproc.tree_pids(os.getpid()) == [os.getpid()]
    cache = root / "perfbench" / ".cache"
    (key,) = os.listdir(cache)
    data = cache / key / "pool.parquet"
    stamp = data.stat().st_mtime_ns
    assert inputs.ensure_pool(str(root), procs=1).equals(first)
    assert data.stat().st_mtime_ns == stamp          # reused, not rebuilt
    with open(data, "ab") as f:                      # corrupt the cached file
        f.write(b"x")
    assert inputs.ensure_pool(str(root), procs=1).equals(first)
    assert data.stat().st_mtime_ns != stamp          # rebuilt
    monkeypatch.setattr(inputs, "source_digest", lambda r: "f" * 64)
    inputs.ensure_pool(str(root), procs=1)
    assert os.listdir(cache) == [f"pool-s42-n2-h0-{'f' * 16}"]   # stale key dropped


# -- /proc readers and stage metrics ------------------------------------------

def test_tree_cpu_counts_own_work():
    before = sum(hostproc.tree_cpu_by_name(os.getpid()).values())
    t = __import__("time").process_time() + 0.3
    while __import__("time").process_time() < t:
        pass
    assert sum(hostproc.tree_cpu_by_name(os.getpid()).values()) - before >= 0.2
    assert os.getpid() in hostproc.tree_pids(os.getpid())


def test_run_in_session_waits_for_what_the_command_left(tmp_path):
    """A process that outlives the command (as the JVM outlives the Spark
    driver process by a moment) is stopped and waited for, zombie
    included, before run_in_session returns."""
    pidfile = tmp_path / "pid"
    code = hostproc.run_in_session(
        [sys.executable, "-c",
         "import os, subprocess, sys; subprocess.Popen(['sleep', '30']); "
         "open(sys.argv[1], 'w').write(str(os.getpid()))", str(pidfile)],
        timeout_s=30)
    assert code == 0
    assert hostproc.session_procs(int(pidfile.read_text())) == {}
    assert hostproc.tree_pids(os.getpid()) == [os.getpid()]


def test_rss_skips_a_child_sharing_its_parents_address_space(monkeypatch):
    fields = {  # pid: (ppid, vsize, rss pages)
        10: (1, 5000, 100), 11: (10, 5000, 100),   # vfork helper of 10
        12: (10, 900, 30), 13: (12, 900, 60),      # forked worker of 12
    }

    def stat(pid):
        ppid, vsize, rss = fields[pid]
        f = ["S", str(ppid)] + ["0"] * 18 + [str(vsize), str(rss)]
        return f
    monkeypatch.setattr(hostproc, "stat_fields", stat)
    got = hostproc.rss_by_pid(list(fields))
    assert sorted(got) == [10, 12, 13]
    assert got[10] == 100 * hostproc._PAGE


def test_steal_share():
    a = [100, 0, 50, 800, 0, 0, 0, 10, 0, 0]
    b = [200, 0, 100, 1600, 0, 0, 0, 60, 0, 0]
    assert hostproc.steal_share(a, b) == pytest.approx(50 / 1000)


def _stage(sid, read=0, write=0, times=(1.0,), records=(1,)):
    return {"stageId": sid, "shuffleReadBytes": read, "shuffleReadRecords": read,
            "shuffleWriteBytes": write,
            "tasks": [{"taskMetrics": {"executorRunTime": t * 1000,
                                       "shuffleReadMetrics": {"recordsRead": r}}}
                      for t, r in zip(times, records)]}


def test_split_plan_and_task_stats():
    scan = _stage(0, write=100)
    ext = _stage(1, read=100, times=(1.0, 1.0, 3.0), records=(5, 0, 7))
    exch, readers = stagemetrics.split_plan([scan, ext])
    assert exch is scan and readers == [ext]
    assert stagemetrics.empty_tasks(ext) == 1
    assert stagemetrics.max_over_median(stagemetrics.task_seconds(ext)) == 3.0
    with pytest.raises(ValueError):
        stagemetrics.split_plan([scan])
