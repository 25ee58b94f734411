"""The reference-checkout location must be configurable: the parity
queries hard-code nothing — KRAKEN_SPARK_REFERENCE_ROOT points them at any
checkout path (round-3 verdict ask #8). The path is resolved DRIVER-side at
query-build time and captured in the Arrow closure, so the override needs
no spark.executorEnv plumbing (env vars set after JVM start never reach the
Python workers)."""

from __future__ import annotations

import os

import pytest

pyspark = pytest.importorskip("pyspark")

from kraken_spark.session import get_spark  # noqa: E402

from conftest import requires_reference  # noqa: E402

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    s = get_spark(app="tests-refassets", cores=4, shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_resources_dir_default_and_override(monkeypatch):
    from kraken_spark import refassets

    monkeypatch.delenv("KRAKEN_SPARK_REFERENCE_ROOT", raising=False)
    assert refassets.resources_dir() == "/root/reference/tests/resources"
    monkeypatch.setenv("KRAKEN_SPARK_REFERENCE_ROOT", "/elsewhere/kraken")
    assert refassets.resources_dir() == "/elsewhere/kraken/tests/resources"
    assert refassets.resource("overfit.mlmodel").endswith(
        "tests/resources/overfit.mlmodel"
    )


@requires_reference("overfit.mlmodel", "000236.png")
def test_rpred_golden_via_env_override(tmp_path, monkeypatch, spark):
    """Same 4/4 golden-match rows when the reference checkout is reached
    through a different root (a symlink stands in for a cluster-side
    checkout path)."""
    alt = tmp_path / "checkout"
    os.symlink("/root/reference", alt)
    monkeypatch.setenv("KRAKEN_SPARK_REFERENCE_ROOT", str(alt))
    from kraken_spark.operators.extraction import x_rpred_golden

    rows = x_rpred_golden(spark, SF).collect()
    assert len(rows) == 4
    assert all(r.match for r in rows)


def test_rpred_golden_degrades_without_reference(tmp_path, monkeypatch, spark):
    """Without the reference assets x_rpred_golden still emits its four
    case rows and schema, with prediction and match NULL."""
    monkeypatch.setenv("KRAKEN_SPARK_REFERENCE_ROOT", str(tmp_path))
    from kraken_spark.operators.extraction import x_rpred_golden

    df = x_rpred_golden(spark, SF)
    assert df.columns == ["case", "prediction", "golden", "match"]
    rows = df.collect()
    assert [r.case for r in rows] == sorted(
        ["bbox_golden", "bl_golden", "bbox_outbounds", "bl_outbounds"])
    assert all(r.prediction is None and r.match is None for r in rows)
