"""Spark side of one benchmark run: set-up, the timed window or the traced
layer run, and the output checks.

Started by run.py as its own process, so that `setup_s` runs from process
start (run.py stamps the time just before it starts this process) through
session up and WARM_PASSES untimed passes (Python workers started, model
loaded, JIT warm).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import sys
import time

import hostproc
import spans
import stagemetrics

CHECK_COLS = ("url", "guard_tripped", "cer", "n_lines", "n_px")
# loaded_skew uses the in-repo trained recognizer, which is not exact
# (its documented band is a held-out line sweep at CER <= 0.02). On this
# workload's blla-segmented pages the pass-mean CER reads 0.023-0.024 and
# the worst page 0.039 (seeds 1-3); the band allows seed-to-seed spread
# around that and still fails a broken model or a wrong line order, which
# read far above 0.1.
SKEW_MEAN_CER_MAX = 0.05
SKEW_PAGE_CER_MAX = 0.25
LAYER_REPEATS = 3
# set-up ends after this many untimed passes over the run's input: the
# first starts the Python workers and loads the model; the JVM's JIT still
# costs ~2 CPU-s more on the second than on later passes
WARM_PASSES = 2
# the timed window runs whole passes until --seconds have been measured,
# and at least this many
MIN_PASSES = 2


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _median_time(fn, n: int = LAYER_REPEATS) -> float:
    return statistics.median(_timed(fn) for _ in range(n))


class ImageWorkload:
    """bulk_pageseg (fused plan, pageseg, built-in recognizer) and
    loaded_skew (line-parallel plan, blla, trained recognizer): documents
    parquet -> plan -> the per-row check columns collected by the Spark driver."""

    def __init__(self, spark, work: str, meta: dict, loaded: bool) -> None:
        self.spark, self.work, self.meta, self.loaded = spark, work, meta, loaded
        self.docs_path = os.path.join(work, "input", "docs")
        self.n_docs = meta["docs"]
        # pageseg's admission guard (the reference's background-component
        # cap, pageseg.py:381-391) rejects every oversized synthetic page: a
        # 2400x3200 page of 60+ dense lines has more glyph counters than
        # area/900. On bulk_pageseg such a page must come back as an empty
        # guard-tripped row (it still rides the heavy buckets of the page
        # Exchange); any other outcome fails the check.
        self.expected_trips = set() if loaded else set(meta["oversized_urls"])
        self._want = None

    def model_path(self) -> str | None:
        if not self.loaded:
            return None
        from kraken_spark.kernels.rec_train import ASSET
        return ASSET

    def plan(self, docs):
        if self.loaded:
            from kraken_spark.pipeline_lines import plan_extraction_line_parallel
            return plan_extraction_line_parallel(
                docs, segmenter="blla", kraken_model_path=self.model_path())
        from kraken_spark.pipeline import plan_extraction
        return plan_extraction(docs)

    def documents(self):
        return self.spark.read.parquet(self.docs_path)

    def run_pass(self, k: int):
        return self.plan(self.documents()).select(*CHECK_COLS).collect()

    def check(self, rows) -> tuple[int, list[str]]:
        """(failed docs, problems) for one pass's output rows."""
        import pyarrow.parquet as pq

        if self._want is None:
            self._want = set(pq.read_table(self.docs_path, columns=["url"])
                             .column("url").to_pylist())
        want = self._want
        problems = []
        got = [r.url for r in rows]
        bad = set(want - set(got))
        if len(got) != len(want):
            problems.append(f"{len(got)} rows for {len(want)} docs")
        cers = []
        for r in rows:
            if r.url in self.expected_trips:
                if not r.guard_tripped or r.n_lines:
                    bad.add(r.url)
                continue
            cers.append(r.cer if r.cer is not None else 1.0)
            if r.url not in want or r.guard_tripped or r.cer is None:
                bad.add(r.url)
            elif self.loaded and r.cer > SKEW_PAGE_CER_MAX:
                bad.add(r.url)
            elif not self.loaded and r.cer != 0.0:
                bad.add(r.url)
        mean_cer = statistics.fmean(cers) if cers else 1.0
        if self.loaded and mean_cer > SKEW_MEAN_CER_MAX:
            problems.append(f"mean CER {mean_cer:.4f} > {SKEW_MEAN_CER_MAX}")
            bad |= want
        if bad:
            problems.append(f"{len(bad)} docs failed (e.g. {sorted(bad)[:3]})")
        return len(bad), problems

    # -- traced run -------------------------------------------------------
    def layer_times(self) -> dict:
        from kraken_spark.pipeline import weight_salt

        def exchanged():
            salt, total = weight_salt(self.spark.sparkContext.defaultParallelism * 4)
            return self.documents().repartition(total, salt.alias("salt"))

        scan = _median_time(lambda: _noop(self.documents()))
        exch = _median_time(lambda: _noop(exchanged()))
        ident = _median_time(lambda: _noop(_identity(exchanged())))
        return {
            "sources.scan_s": scan,
            "pipeline.exchange_s": exch - scan,
            "stages.boundary_ms_per_doc": (ident - exch) / self.n_docs * 1000.0,
        }

    def sample_docs(self) -> list[tuple]:
        import pyarrow.parquet as pq

        t = pq.read_table(self.docs_path)
        return list(zip(t.column("html").to_pylist(), t.column("url").to_pylist(),
                        t.column("lang").to_pylist(), t.column("text").to_pylist()))

    def extract_kwargs(self) -> dict:
        if self.loaded:
            return {"segmenter": "blla", "kraken_model_path": self.model_path()}
        return {}


class WebWorkload:
    """web_ice: WARC shards -> explode_warc -> fused plan (HTML route) ->
    run_extraction into a fresh icetable data + metrics table pair."""

    def __init__(self, spark, work: str, meta: dict) -> None:
        self.spark, self.work, self.meta = spark, work, meta
        self.n_docs = meta["docs"]
        self.loaded = False
        self.expected_trips: set = set()
        self._gt = None

    def files(self):
        return (self.spark.read.format("binaryFile")
                .load(os.path.join(self.work, "input", "warc"))
                .select("path", "content"))

    def pages(self):
        from kraken_spark.sources.warc import explode_warc
        return explode_warc(self.files())

    def run_pass(self, k: int):
        from kraken_spark.pipeline import run_extraction

        out = os.path.join(self.work, "out", f"pass{k}")
        run_extraction(self.pages(), out_path=os.path.join(out, "pages"),
                       metrics_path=os.path.join(out, "metrics"),
                       run_id=f"pass{k}", table_format="ice")
        return out

    def gt(self) -> dict:
        if self._gt is None:
            import pyarrow.parquet as pq
            t = pq.read_table(os.path.join(self.work, "input", "gt"))
            self._gt = dict(zip(t.column("url").to_pylist(), t.column("text").to_pylist()))
        return self._gt

    def check(self, out: str) -> tuple[int, list[str]]:
        from kraken_spark.sources import icetable

        gt = self.gt()
        problems = []
        pages, metrics = os.path.join(out, "pages"), os.path.join(out, "metrics")
        snap = icetable.snapshot(pages)
        if snap["summary"].get("n_new_rows") != len(gt):
            problems.append(f"snapshot rows {snap['summary'].get('n_new_rows')} != {len(gt)}")
        msnap = icetable.snapshot(metrics)
        if msnap["summary"].get("source_snapshot_id") != snap["snapshot_id"]:
            problems.append("metrics commit does not point at the data snapshot")
        rows = icetable.read(self.spark, pages).select("url", "text", "guard_tripped").collect()
        if len(rows) != len(gt):
            problems.append(f"{len(rows)} rows for {len(gt)} pages")
        bad = set(gt) - {r.url for r in rows}
        for r in rows:
            # CER 0.0 <=> the extracted text equals the ground truth
            if r.guard_tripped or gt.get(r.url) != r.text:
                bad.add(r.url)
        if bad:
            problems.append(f"{len(bad)} pages failed (e.g. {sorted(bad)[:3]})")
        elif problems:
            bad = set(gt)
        return len(bad), problems

    def layer_times(self) -> dict:
        from kraken_spark.pipeline import weight_salt

        def exchanged():
            salt, total = weight_salt(self.spark.sparkContext.defaultParallelism * 4)
            return self.pages().repartition(total, salt.alias("salt"))

        scan = _median_time(lambda: _noop(self.files()))
        explode = _median_time(lambda: _noop(self.pages()))
        exch = _median_time(lambda: _noop(exchanged()))
        ident = _median_time(lambda: _noop(_identity(exchanged())))
        return {
            "sources.scan_s": scan,
            "sources.warc.explode_s": explode - scan,
            "pipeline.exchange_s": exch - explode,
            "stages.boundary_ms_per_doc": (ident - exch) / self.n_docs * 1000.0,
        }

    def sample_docs(self) -> list[tuple]:
        from kraken_spark.sources.warc import warc_to_documents

        d = os.path.join(self.work, "input", "warc")
        docs = []
        for name in sorted(os.listdir(d))[:4]:
            with open(os.path.join(d, name), "rb") as f:
                docs += [(r["html"], r["url"], r["lang"], None)
                         for r in warc_to_documents(f.read())]
        return docs

    def extract_kwargs(self) -> dict:
        return {}


def _identity(df):
    """The Arrow/Python boundary alone: an identity mapInArrow."""
    def ident(batches):
        yield from batches
    return df.mapInArrow(ident, schema=df.schema)


def make_workload(spark, work: str, meta: dict):
    name = meta["workload"]
    if name == "web_ice":
        return WebWorkload(spark, work, meta)
    return ImageWorkload(spark, work, meta, loaded=(name == "loaded_skew"))


# -- timed run -------------------------------------------------------------

def timed_run(w, seconds: float) -> dict:
    me = os.getpid()
    walls, cpus, peaks, cpu_by_name, rss_parts = [], [], [], [], []
    attempted = failed = 0
    problems: list[str] = []
    with hostproc.RssSampler(me) as rss:
        spent = 0.0
        k = 0
        while spent < seconds or k < MIN_PASSES:
            rss.reset()
            c0 = hostproc.tree_cpu_by_name(me)
            rss.active.set()
            t0 = time.perf_counter()
            out = w.run_pass(k)
            dt = time.perf_counter() - t0
            rss.active.clear()
            c1 = hostproc.tree_cpu_by_name(me)
            spent += dt
            walls.append(dt)
            by_name = {n: c1[n] - c0.get(n, 0.0) for n in c1}
            cpu_by_name.append(by_name)
            cpus.append(sum(by_name.values()))
            peaks.append(rss.peak)
            rss_parts.append(rss.peak_parts)
            n_bad, probs = w.check(out)
            attempted += w.n_docs
            failed += n_bad
            problems += [f"pass {k}: {p}" for p in probs]
            k += 1
    n = w.n_docs
    return {
        "metrics": {
            "docs_per_s": statistics.median(n / t for t in walls),
            "cpu_s_per_doc": statistics.median(c / n for c in cpus),
            "peak_rss_mb": max(peaks) / 2**20,
        },
        "attempted": attempted,
        "failed": failed,
        "problems": problems,
        "passes": {"wall_s": walls, "cpu_s": cpus, "cpu_s_by_process": cpu_by_name,
                   "peak_rss_mb": [p / 2**20 for p in peaks],
                   "peak_rss_by_process": rss_parts},
    }


# -- traced run ------------------------------------------------------------

PER_LAYER = {
    "session.start_s": "s", "session.warm_s": "s",
    "sources.scan_s": "s", "sources.input_bytes": "B",
    "sources.warc.explode_s": "s", "sources.icetable.append_s": "s",
    "sources.icetable.commits": "count", "sources.icetable.files_written": "count",
    "sources.icetable.bytes_written": "B",
    "pipeline.exchange_s": "s", "pipeline.exchange.shuffle_bytes": "B",
    "pipeline.extract.tasks": "count", "pipeline.extract.empty_partitions": "count",
    "pipeline.extract.task_max_over_median": "ratio",
    "stages.boundary_ms_per_doc": "ms", "stages.udf_run_ms_per_doc": "ms",
    "stages.residual_ms_per_doc": "ms", "stages.extract_document.self_ms": "ms",
    "kernels.decode.self_ms": "ms", "kernels.nlbin.self_ms": "ms",
    "kernels.pageseg.self_ms": "ms", "kernels.blla.self_ms": "ms",
    "kernels.lineextract.self_ms": "ms", "kernels.recognize.self_ms": "ms",
    "kernels.rpred.self_ms": "ms", "kernels.htmlparse.self_ms": "ms",
    "kernels.ro.self_ms": "ms", "kernels.cer.self_ms": "ms",
    "kernels.lines_per_doc": "count", "kernels.px_per_doc": "count",
    "pipeline_lines.line_shuffle_bytes": "B",
    "pipeline_lines.prepare.task_max_s": "s",
    "pipeline_lines.recognize.task_max_over_median": "ratio",
    "pipeline_lines.lines": "count",
    "trace.overhead_frac": "ratio",
}


def _row_key(row: dict) -> dict:
    return {k: v for k, v in row.items() if k != "wall_ms"}


def kernel_trace(w, span_path: str) -> tuple[dict, bool]:
    """Single-thread stages.extract_document over the run's docs, after one
    untimed sweep (model build, first-touch allocations). Docs are timed in
    quads P(a) T(b) T(a) P(b): each doc once plain (P) and once with span
    wrappers on the kernel functions (T), close in time and in both orders
    so drift cancels, and never twice in a row, because htmlparse memoises
    its last input. Returns per-doc self times and the tracing overhead,
    and whether the wrapped rows equal the plain rows."""
    from kraken_spark import stages

    docs = w.sample_docs()
    docs = docs[: len(docs) // 2 * 2]
    kw = w.extract_kwargs()
    tracer = spans.Tracer()
    wrappers = spans.KernelWrappers(tracer)

    def call(doc: tuple, traced: bool) -> tuple[dict, float]:
        h, u, l, g = doc
        if not traced:
            t0 = time.perf_counter()
            row = stages.extract_document(h, u, l, g, **kw)
            return _row_key(row), time.perf_counter() - t0
        tracer.doc = u
        with wrappers:  # installing them is not per-call cost
            t0 = time.perf_counter()
            with tracer.span("stages.extract_document"):
                row = stages.extract_document(h, u, l, g, **kw)
            return _row_key(row), time.perf_counter() - t0

    for doc in docs:
        call(doc, False)
    rows: dict[bool, list] = {False: [], True: []}
    spent = {False: 0.0, True: 0.0}
    # a cyclic-GC pass over this process's heap stalls ~100 ms, as long as a
    # hundred web pages: keep it out of the comparison
    gc.collect()
    gc.disable()
    try:
        for a, b in zip(docs[0::2], docs[1::2]):
            for doc, traced in ((a, False), (b, True), (a, True), (b, False)):
                row, dt = call(doc, traced)
                rows[traced].append((doc[1], row))
                spent[traced] += dt
    finally:
        gc.enable()
    tracer.dump(span_path)
    same = sorted(rows[False], key=lambda r: r[0]) == sorted(rows[True], key=lambda r: r[0])
    self_s = spans.self_times(tracer.spans)
    out = {f"{name}.self_ms": self_s.get(name, 0.0) / len(docs) * 1000.0
           for name in list(spans.KERNEL_TARGETS) + ["stages.extract_document"]}
    out["trace.overhead_frac"] = (spent[True] - spent[False]) / spent[False]
    return out, same


def traced_run(w, setup: dict, span_path: str) -> dict:
    sc = w.spark.sparkContext
    m = {name: 0.0 for name in PER_LAYER}
    m["session.start_s"] = setup["start_s"]
    m["session.warm_s"] = setup["warm_s"]
    m["sources.input_bytes"] = float(w.meta["input_bytes"])
    m.update(w.layer_times())

    rest = stagemetrics.StageMetrics(sc)
    sc.setJobGroup("perfbench-extract", "traced extraction pass")
    out = w.run_pass(0)
    sc.setJobGroup("perfbench-other", "untracked")
    n_bad, problems = w.check(out)
    stages_ = rest.group_stages("perfbench-extract")
    exch, readers = stagemetrics.split_plan(stages_)
    m["pipeline.exchange.shuffle_bytes"] = float(exch["shuffleWriteBytes"])
    extract = readers[0]
    m["pipeline.extract.tasks"] = float(len(extract["tasks"]))
    m["pipeline.extract.empty_partitions"] = float(stagemetrics.empty_tasks(extract))
    m["pipeline.extract.task_max_over_median"] = stagemetrics.max_over_median(
        stagemetrics.task_seconds(extract))
    python_stages = readers[:3] if w.loaded else readers[:1]
    udf_s = sum(sum(stagemetrics.task_seconds(s)) for s in python_stages)
    m["stages.udf_run_ms_per_doc"] = udf_s / w.n_docs * 1000.0

    if isinstance(w, WebWorkload):
        from kraken_spark.sources import icetable

        commits = files = nbytes = 0
        for table in ("pages", "metrics"):
            path = os.path.join(out, table)
            for h in icetable.history(path):
                commits += 1
                files += h["summary"].get("n_new_files", 0)
            nbytes += sum(e["bytes"] for e in icetable.snapshot(path)["manifest"])
        m["sources.icetable.commits"] = float(commits)
        m["sources.icetable.files_written"] = float(files)
        m["sources.icetable.bytes_written"] = float(nbytes)
        ext = icetable.read(w.spark, os.path.join(out, "pages")).localCheckpoint(eager=True)
        fresh = iter(range(LAYER_REPEATS))
        m["sources.icetable.append_s"] = _median_time(lambda: icetable.append(
            ext, os.path.join(w.work, "out", f"append{next(fresh)}")))
        rows = icetable.read(w.spark, os.path.join(out, "pages")).select(
            "n_lines", "n_px").collect()
    else:
        rows = out
    m["kernels.lines_per_doc"] = sum(r.n_lines for r in rows) / w.n_docs
    m["kernels.px_per_doc"] = sum(r.n_px for r in rows) / w.n_docs
    if w.loaded:
        prepare, recognize = readers[0], readers[1]
        m["pipeline_lines.line_shuffle_bytes"] = float(prepare["shuffleWriteBytes"])
        m["pipeline_lines.prepare.task_max_s"] = max(stagemetrics.task_seconds(prepare))
        m["pipeline_lines.recognize.task_max_over_median"] = stagemetrics.max_over_median(
            stagemetrics.task_seconds(recognize))
        m["pipeline_lines.lines"] = float(sum(r.n_lines for r in rows))

    kernels, same = kernel_trace(w, span_path)
    m.update(kernels)
    m["stages.residual_ms_per_doc"] = m["stages.udf_run_ms_per_doc"] - sum(
        v for k, v in kernels.items() if k.startswith("kernels."))
    if not same:
        problems.append("rows with kernel wrappers differ from rows without")
    return {"metrics": m, "attempted": w.n_docs,
            "failed": n_bad if same else w.n_docs, "problems": problems}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    sys.path.insert(0, a.root)
    with open(os.path.join(a.work, "input", "meta.json")) as f:
        meta = json.load(f)

    from kraken_spark.session import get_spark

    t = time.time()
    spark = get_spark(app=f"perfbench-{meta['workload']}",
                      cores=len(os.sched_getaffinity(0)))
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.time() - t
    try:
        w = make_workload(spark, a.work, meta)
        t = time.time()
        warm_outs = [w.run_pass(-1 - k) for k in range(WARM_PASSES)]
        now = time.time()
        setup = {"setup_s": now - a.t0, "start_s": start_s, "warm_s": now - t}
        if a.trace:
            result = traced_run(w, setup, os.path.join(a.work, "spans.jsonl"))
        else:
            result = timed_run(w, a.seconds)
        result["setup"] = setup
        result["expected_guard_trips_per_pass"] = len(w.expected_trips)
        for k, out in enumerate(warm_outs):
            n_bad, problems = w.check(out)
            result["attempted"] += w.n_docs
            result["failed"] += n_bad
            result["problems"] += [f"warm pass {k}: {p}" for p in problems]
    finally:
        spark.stop()
    with open(a.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
