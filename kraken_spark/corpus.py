"""Synthetic Common-Crawl-style corpus generation (FIXTURES.md §1).

Builds the ``documents(url, warc_ts, html, text, lang)`` table the north
rule's input_hint specifies, deterministically from (seed, doc_idx) — either
locally (small fixtures) or distributed via mapInArrow (bench corpora), since
every document renders independently.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone
from typing import Iterator

import pyarrow as pa

from .schema import DOCUMENTS_ARROW, DOCUMENTS_DDL

BASE_TS = datetime(2026, 1, 1, tzinfo=timezone.utc)  # pinned clock (FIXTURES.md)
DEFAULT_SEED = 42


def _render_rows(seed: int, indices: list[int], curved: bool = False) -> pa.RecordBatch:
    # kernels imported lazily so Spark workers pay import cost once
    from .kernels import png, render

    urls, ts, html, text, lang = [], [], [], [], []
    base_us = int(BASE_TS.timestamp() * 1_000_000)
    kind = "curved" if curved else "page"
    for i in indices:
        d = (render.render_curved_document if curved else render.render_document)(seed, i)
        urls.append(f"https://example.org/{d['lang']}/{kind}-{i:08d}")
        ts.append(base_us + i * 1_000_000)
        html.append(png.encode_png(d["img"]))
        text.append(d["text"])
        lang.append(d["lang"])
    return pa.RecordBatch.from_arrays(
        [
            pa.array(urls, pa.string()),
            pa.array(ts, pa.timestamp("us")),
            pa.array(html, pa.binary()),
            pa.array(text, pa.string()),
            pa.array(lang, pa.string()),
        ],
        schema=DOCUMENTS_ARROW,
    )


def generate_corpus_table(n_docs: int, seed: int = DEFAULT_SEED) -> pa.Table:
    """Local (driver-side) generation for small fixtures/tests."""
    return pa.Table.from_batches([_render_rows(seed, list(range(n_docs)))])


def generate_corpus_df(spark, n_docs: int, seed: int = DEFAULT_SEED, partitions: int | None = None, curved: bool = False):
    """Distributed generation: one task per slice of doc indices."""
    partitions = partitions or min(n_docs, spark.sparkContext.defaultParallelism * 2)

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for b in batches:
            ids = b.column("id").to_pylist()
            # render in small chunks to bound batch memory (~100 KB/page PNG)
            for k in range(0, len(ids), 32):
                yield _render_rows(seed, ids[k : k + 32], curved)

    return (
        spark.range(n_docs)
        .repartition(partitions)
        .mapInArrow(gen, schema=DOCUMENTS_DDL)
    )


SF_DOCS = {"sf0.001": 12, "sf0.01": 48, "sf0.1": 240}


def docs_for_sf(sf_dir: str) -> int:
    tail = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    return SF_DOCS.get(tail, 48)


def corpus_for(spark, sf_dir: str, seed: int = DEFAULT_SEED):
    """Cached synthetic corpus for a driver sf dir: materialized once as
    parquet under /tmp, then read back — extraction-family queries scan the
    same table instead of re-rendering pages per query (and exercise the
    real parquet-scan input path, column pruning included)."""
    tail = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    n = docs_for_sf(sf_dir)
    return ensure_corpus(spark, n, f"/tmp/kraken_spark_corpus_{tail}_{seed}_{n}", seed)


def ensure_corpus(spark, n_docs: int, path: str, seed: int = DEFAULT_SEED):
    """Materialize the corpus parquet at `path` if absent; returns a DataFrame.

    Parquet is this sandbox's stand-in for the Iceberg documents table (no
    Iceberg runtime jars in the container); the pipeline only relies on
    predicate/column pushdown, which parquet provides identically.
    """
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        generate_corpus_df(spark, n_docs, seed).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)
