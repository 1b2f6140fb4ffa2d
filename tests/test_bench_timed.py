"""bench.timed: the one timing harness the inventory, the extended
ops and scripts/scale_probe.py all measure through."""

from __future__ import annotations

import importlib.util
import os

import pytest


@pytest.fixture(scope="module")
def bench():
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_timed_records_build_exec_and_jobs(spark, bench):
    rec = bench.timed(spark, lambda: spark.range(10), "trivial")
    assert "error" not in rec
    assert rec["jobs"] >= 1
    assert rec["build_s"] >= 0 and rec["exec_s"] >= 0
    assert rec["s"] >= rec["build_s"]


def test_timed_keeps_an_action_result(spark, bench):
    rec = bench.timed(spark, lambda: spark.range(10).count(), "count")
    assert rec["value"] == 10
    assert rec["exec_s"] == 0
    assert rec["jobs"] >= 1


def test_timed_returns_an_error_entry(spark, bench):
    def boom():
        raise RuntimeError("no plan")

    rec = bench.timed(spark, boom, "boom")
    assert rec["error"] == "RuntimeError: no plan"
    assert rec["jobs"] == 0
    assert "s" not in rec
