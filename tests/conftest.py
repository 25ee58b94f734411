"""Shared test helpers."""

from __future__ import annotations

import os

import pytest

from kraken_spark.refassets import resource


def requires_reference(*files: str):
    """Skip mark for a test that reads files from the reference checkout's
    tests/resources (refassets.resource): when any is absent the test
    skips and names the first missing file."""
    missing = [resource(f) for f in files if not os.path.exists(resource(f))]
    return pytest.mark.skipif(
        bool(missing),
        reason=f"reference fixture missing: {missing[0]}" if missing else "")


def run_pinned_blas(code: str) -> None:
    """Run ``code`` in a fresh interpreter with single-thread BLAS, the env
    every Spark executor gets (session._PIN_ENV), and the repo importable.
    GEMM reduction order depends on the thread count, so a local twin of an
    executor-side sum is only bit-comparable at matched thread counts."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ)
    env.update({"OMP_NUM_THREADS": "1", "OPENBLAS_NUM_THREADS": "1",
                "MKL_NUM_THREADS": "1"})
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, env.get("PYTHONPATH")) if p)
    subprocess.run([sys.executable, "-c", code], check=True, env=env)


def assert_ice_extraction_committed(spark, out: str, metrics: str, run_id: str,
                                    ref: str) -> None:
    """Pins of an ice run_extraction with metrics: the data snapshot
    records the extraction plan's schema exactly as ``icetable.append``
    does (``ref`` is a table that append wrote), the metrics snapshot
    holds metrics_table over the committed rows on every column (wall_ms
    bit-equal) under metrics_table's own schema, and both keep their
    summary keys."""
    from kraken_spark.pipeline import metrics_table
    from kraken_spark.sources import icetable as it

    snap, msnap = it.snapshot(out), it.snapshot(metrics)
    assert snap["schema_json"] == it.snapshot(ref)["schema_json"]
    want = metrics_table(it.read(spark, out), run_id)
    assert msnap["schema_json"] == want.schema.json()

    def by_pid(df):
        return sorted(df.collect(), key=lambda r: r.partition_id)

    rows = by_pid(want)
    assert by_pid(it.read(spark, metrics)) == rows
    assert set(snap["summary"]) == {"run_id", "n_new_files", "n_new_rows"}
    assert snap["summary"]["run_id"] == run_id
    assert snap["summary"]["n_new_rows"] == it.read(spark, out).count()
    assert msnap["summary"] == {
        "run_id": run_id, "source_table": out,
        "source_snapshot_id": snap["snapshot_id"],
        "n_new_files": 1, "n_new_rows": len(rows)}
