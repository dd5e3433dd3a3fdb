"""Smoke test of the benchmark itself, at a tiny input size:

    python3 -m pytest perfbench/test_smoke.py -q

Checks that every metric BENCHMARK.json names prints with its unit in
both modes, that a corrupted expected value counts as a failed op, and
that traced spans nest by parent id.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import pytest

import harness

sys.path.insert(0, harness.ROOT)

import run  # noqa: E402
import workloads  # noqa: E402

TINY = workloads.Sizes(files=2, rows_per_file=2048)
SMOKE = os.path.join(harness.WORK, "smoke")


def _spec() -> dict:
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.fixture(scope="module")
def spark():
    shutil.rmtree(SMOKE, ignore_errors=True)
    harness.pin_environment(SMOKE)
    session = harness.start_session(SMOKE)
    yield session
    harness.stop_session(session)
    shutil.rmtree(SMOKE, ignore_errors=True)


def _run(spark, workload: str, trace: bool, tag: str):
    work = os.path.join(SMOKE, tag)
    return run.run(workload, 7, 0.5, trace, work, time.perf_counter(), sizes=TINY, spark=spark)


def _assert_metrics(result: dict, declared: list[dict]) -> None:
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == {m["name"]: m["unit"] for m in declared}
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), k


@pytest.mark.parametrize("workload", sorted(workloads.OPS))
def test_end_to_end_metrics_print_with_units(spark, workload):
    result, record = _run(spark, workload, False, f"e2e-{workload}")
    assert result["correct"], record["errors"]
    assert result["failed"] == 0 and result["attempted"] >= 1 + harness.MIN_SAMPLES
    _assert_metrics(result, _spec()["end_to_end"])
    assert record["spark_window"]["spark.canary_s"] > 0


def test_traced_run_prints_every_layer_metric_and_nested_spans(spark):
    result, record = _run(spark, "scan_selective", True, "traced")
    assert result["correct"], record["errors"]
    _assert_metrics(result, _spec()["per_layer"])
    assert set(record["layer_targets"]) == set(result["metrics"])
    with open(os.path.join(harness.ROOT, record["trace_file"])) as fh:
        spans = json.load(fh)["spans"]
    by_id = {s["id"]: s for s in spans}
    assert any(s["name"] == "op" for s in spans)
    for s in spans:
        assert s["start"] <= s["end"]
        if s["parent"] is None:
            continue
        p = by_id[s["parent"]]
        assert p["start"] <= s["start"] and s["end"] <= p["end"], (p["name"], s["name"])
        assert p["op"] == s["op"]


def test_corrupted_expected_value_fails_the_op(spark, monkeypatch):
    build_mix = workloads.build_mix

    def corrupted(tbl, seed):
        mix = build_mix(tbl, seed)
        mix[0].expect = (mix[0].expect[0] + 1, mix[0].expect[1])
        return mix

    monkeypatch.setattr(workloads, "build_mix", corrupted)
    result, record = _run(spark, "scan_selective", False, "corrupt")
    assert result["failed"] > 0
    assert not result["correct"]
    assert any("code_eq" in e for e in record["errors"])
