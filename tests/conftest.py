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
