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
