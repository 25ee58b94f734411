"""Seeded input generation for the benchmark workloads.

Every input is built before, and outside, any timed window or set-up
measurement. Rendering a page image costs ~0.3 s of one core, far too much
to redo per run, so image pages come from a cached *pool*: the first
``POOL_NORMAL`` normal pages and the first ``POOL_HEAVY`` oversized pages
of the synthetic corpus (corpus seed ``POOL_SEED``), rendered with the
public ``render.render_document`` + ``png.encode_png`` kernels. The pool
cache is keyed by (corpus seed, size, digest of the renderer sources) and
each cached file is re-hashed against its manifest before use, so a pool
rendered by older renderer code is rebuilt instead of silently reused.

The run seed then draws each workload's input from the pool (which pages,
in which order, under which urls — the url is the key the weight-salted
Exchange hashes, so the seed moves the partition layout too). Web pages
are written fresh per seed with ``htmlparse.write_boilerplate_page`` and
packed into shards with ``warc.write_warc_gz``.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import shutil
import sys
import tempfile
from concurrent.futures import ProcessPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import hostproc

POOL_SEED = 42
POOL_NORMAL = 160
POOL_HEAVY = 4
# rendering the pool takes ~20 s of 4 cores
RENDER_TIMEOUT_S = 600

# bulk_pageseg: docs >> cores, ~1% oversized
BULK_NORMAL = 63
BULK_HEAVY = 1
# loaded_skew: docs ~ a few x cores. Recognition cost grows with line
# count and line width, so each draw holds both the line total and the
# ground-truth character total within SKEW_TOL of the pool's expectation:
# every seed asks the line-parallel plan for the same work.
SKEW_NORMAL = 5
SKEW_HEAVY = 1
SKEW_TOL = 0.02
# web_ice: boilerplate pages per pass, packed into WARC shards
WEB_PAGES = 512
WEB_SHARDS = 16

# sources whose bytes determine the pool's content
_POOL_SOURCES = (
    "kraken_spark/kernels/render.py",
    "kraken_spark/kernels/glyphs.py",
    "kraken_spark/kernels/png.py",
    "kraken_spark/schema.py",
)

POOL_SCHEMA = pa.schema([
    pa.field("idx", pa.int64()),
    pa.field("html", pa.binary()),
    pa.field("text", pa.string()),
    pa.field("lang", pa.string()),
    pa.field("n_lines", pa.int32()),
    pa.field("oversized", pa.bool_()),
])


def source_digest(root: str) -> str:
    h = hashlib.sha256()
    for rel in _POOL_SOURCES + (os.path.relpath(__file__, root),):
        h.update(rel.encode())
        with open(os.path.join(root, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def file_digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def pool_indices(seed: int = POOL_SEED, n_normal: int = POOL_NORMAL,
                 n_heavy: int = POOL_HEAVY) -> tuple[list[int], list[int]]:
    """Corpus doc indices of the first n_normal normal and n_heavy oversized
    pages. render_document's first draw decides oversize, so this needs no
    rendering."""
    from kraken_spark.kernels.render import doc_rng

    normal, heavy = [], []
    i = 0
    while len(normal) < n_normal or len(heavy) < n_heavy:
        if doc_rng(seed, i).random() < 0.01:
            if len(heavy) < n_heavy:
                heavy.append(i)
        elif len(normal) < n_normal:
            normal.append(i)
        i += 1
    return normal, heavy


def _render_one(args: tuple[int, int]) -> dict:
    seed, idx = args
    from kraken_spark.kernels import png, render

    d = render.render_document(seed, idx)
    return {
        "idx": idx,
        "html": png.encode_png(d["img"]),
        "text": d["text"],
        "lang": d["lang"],
        "n_lines": len(d["lines"]),
        "oversized": bool(d["oversized"]),
    }


def _render_pool(root: str, cache: str, idxs: list[int], procs: int) -> pa.Table:
    """Render corpus pages idxs in a process pool. The pool runs in a
    process session of its own, stopped as a whole before this returns:
    spawned workers and multiprocessing's resource tracker, which outlives
    the process that started it, never stay behind."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, env.get("PYTHONPATH")) if p)
    os.makedirs(cache, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=cache) as tmp:
        out = os.path.join(tmp, "rows.parquet")
        code = hostproc.run_in_session(
            [sys.executable, os.path.abspath(__file__), out, str(procs),
             json.dumps(idxs)], RENDER_TIMEOUT_S, env=env)
        if code != 0 or not os.path.exists(out):
            raise RuntimeError(f"pool rendering failed (exit {code})")
        table = pq.read_table(out)
    return table.sort_by("idx")


def _render_main(out: str, procs: int, idxs: list[int]) -> None:
    todo = [(POOL_SEED, i) for i in idxs]
    ctx = multiprocessing.get_context("spawn")
    with ProcessPoolExecutor(max_workers=max(1, procs), mp_context=ctx) as ex:
        rows = list(ex.map(_render_one, todo, chunksize=4))
    pq.write_table(pa.Table.from_pylist(rows, schema=POOL_SCHEMA), out)


def ensure_pool(root: str, procs: int) -> pa.Table:
    """The rendered page pool, built into perfbench/.cache on first use."""
    key = f"pool-s{POOL_SEED}-n{POOL_NORMAL}-h{POOL_HEAVY}-{source_digest(root)[:16]}"
    cache = os.path.join(root, "perfbench", ".cache")
    path = os.path.join(cache, key)
    manifest = os.path.join(path, "manifest.json")
    data = os.path.join(path, "pool.parquet")
    if os.path.exists(manifest):
        with open(manifest) as f:
            man = json.load(f)
        if os.path.exists(data) and man.get("sha256") == file_digest(data):
            return pq.read_table(data)
    normal, heavy = pool_indices(POOL_SEED, POOL_NORMAL, POOL_HEAVY)
    # heavy pages first: they are the longest renders
    table = _render_pool(root, cache, heavy + normal, procs)
    for old in os.listdir(cache):  # drop pools keyed by older sources/sizes
        shutil.rmtree(os.path.join(cache, old), ignore_errors=True)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pq.write_table(table, os.path.join(tmp, "pool.parquet"))
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump({"seed": POOL_SEED, "normal": POOL_NORMAL,
                   "heavy": POOL_HEAVY, "rows": table.num_rows,
                   "sha256": file_digest(os.path.join(tmp, "pool.parquet"))}, f)
    os.replace(tmp, path)
    return table


def _documents(pool: pa.Table, picks: list[int], seed: int) -> pa.Table:
    """documents(url, warc_ts, html, text, lang) rows for pool rows `picks`,
    under seed-specific unique urls."""
    from kraken_spark.corpus import BASE_TS
    from kraken_spark.schema import DOCUMENTS_ARROW

    sub = pool.take(pa.array(picks, pa.int64()))
    langs = sub.column("lang").to_pylist()
    urls = [f"https://bench.example.org/{lang}/d-s{seed}-{k:05d}"
            for k, lang in enumerate(langs)]
    base_us = int(BASE_TS.timestamp() * 1_000_000)
    ts = pa.array([base_us + k * 1_000_000 for k in range(len(picks))],
                  pa.timestamp("us"))
    return pa.Table.from_arrays(
        [pa.array(urls, pa.string()), ts, sub.column("html"),
         sub.column("text"), sub.column("lang")],
        schema=DOCUMENTS_ARROW,
    )


def _split(pool: pa.Table) -> tuple[np.ndarray, np.ndarray]:
    over = np.asarray(pool.column("oversized").to_pylist(), dtype=bool)
    return np.flatnonzero(~over), np.flatnonzero(over)


def bulk_picks(pool: pa.Table, seed: int) -> list[int]:
    rng = np.random.default_rng([seed, 1])
    normal, heavy = _split(pool)
    picks = np.concatenate([rng.choice(normal, BULK_NORMAL, replace=False),
                            rng.choice(heavy, BULK_HEAVY, replace=False)])
    return rng.permutation(picks).tolist()


def skew_picks(pool: pa.Table, seed: int) -> list[int]:
    """SKEW_HEAVY oversized + SKEW_NORMAL normal pages, redrawn until the
    line and character totals are within SKEW_TOL of their expectation
    over the pool (fixed work, seeded content)."""
    rng = np.random.default_rng([seed, 2])
    normal, heavy = _split(pool)
    lines = np.asarray(pool.column("n_lines").to_pylist(), dtype=float)
    chars = np.asarray([len(t) for t in pool.column("text").to_pylist()], dtype=float)
    want = [SKEW_HEAVY * v[heavy].mean() + SKEW_NORMAL * v[normal].mean()
            for v in (lines, chars)]
    for _ in range(1000000):
        picks = np.concatenate([rng.choice(heavy, SKEW_HEAVY, replace=False),
                                rng.choice(normal, SKEW_NORMAL, replace=False)])
        if all(abs(v[picks].sum() - w) <= SKEW_TOL * w
               for v, w in zip((lines, chars), want)):
            return rng.permutation(picks).tolist()
    raise RuntimeError("no loaded_skew draw meets the work target")


def web_pages(pool: pa.Table, seed: int, n: int) -> list[dict]:
    """n boilerplate web pages whose main content is a pool page's ground
    truth text; chrome and urls derive from the seed."""
    from kraken_spark.kernels.htmlparse import write_boilerplate_page

    rng = np.random.default_rng([seed, 3])
    texts = pool.column("text").to_pylist()
    langs = pool.column("lang").to_pylist()
    pages = []
    for k, j in enumerate(rng.integers(0, len(texts), n).tolist()):
        url = f"https://web.example.org/{langs[j]}/p-s{seed}-{k:06d}"
        pages.append({
            "url": url,
            "warc_ts": f"2026-01-01T00:{k // 60 % 60:02d}:{k % 60:02d}Z",
            "html": write_boilerplate_page(texts[j], langs[j], url, seed=seed),
            "lang": langs[j],
            "text": texts[j],
        })
    return pages


def write_warc_shards(pages: list[dict], out_dir: str, shards: int) -> None:
    from kraken_spark.sources.warc import write_warc_gz

    os.makedirs(out_dir, exist_ok=True)
    for s in range(shards):
        with open(os.path.join(out_dir, f"shard-{s:03d}.warc.gz"), "wb") as f:
            f.write(write_warc_gz(pages[s::shards]))


def _write_docs(table: pa.Table, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"), row_group_size=16)


def prepare(root: str, work: str, workload: str, seed: int, procs: int) -> dict:
    """Write the run's inputs under work/input; returns what the Spark
    process needs to know about them (paths, doc counts, ground truth
    location)."""
    pool = ensure_pool(root, procs)
    inp = os.path.join(work, "input")
    meta: dict = {"workload": workload, "seed": seed}
    if workload == "web_ice":
        pages = web_pages(pool, seed, WEB_PAGES)
        write_warc_shards(pages, os.path.join(inp, "warc"), WEB_SHARDS)
        gt = pa.table({"url": [p["url"] for p in pages],
                       "text": [p["text"] for p in pages]})
        _write_docs(gt, os.path.join(inp, "gt"))
        meta.update(docs=len(pages), input_bytes=sum(
            os.path.getsize(os.path.join(inp, "warc", f))
            for f in os.listdir(os.path.join(inp, "warc"))))
    else:
        picks = bulk_picks(pool, seed) if workload == "bulk_pageseg" else skew_picks(pool, seed)
        docs = _documents(pool, picks, seed)
        _write_docs(docs, os.path.join(inp, "docs"))
        over = pool.column("oversized").to_pylist()
        meta.update(docs=docs.num_rows,
                    oversized_urls=[u for u, i in zip(docs.column("url").to_pylist(), picks)
                                    if over[i]],
                    input_bytes=os.path.getsize(os.path.join(inp, "docs", "part-0.parquet")))
    with open(os.path.join(inp, "meta.json"), "w") as f:
        json.dump(meta, f)
    return meta


if __name__ == "__main__":  # the pool renderer started by _render_pool
    _render_main(sys.argv[1], int(sys.argv[2]), json.loads(sys.argv[3]))
