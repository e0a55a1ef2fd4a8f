"""Tests of the benchmark itself, at the `tiny` scale on one shared session.

Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import run  # noqa: E402

WORKLOADS = ("cdc_trickle", "cdc_lazy_rw", "cdc_bulk_wal")


@pytest.fixture(scope="module")
def spark():
    from peerdb_spark import get_spark

    s = get_spark("perfbench_tests", cpus=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def _assert_metrics(line: dict, expected: list[tuple[str, str]]) -> None:
    json.dumps(line)  # the result line must serialise as printed
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert {k: v["unit"] for k, v in line["metrics"].items()} == dict(expected)
    for name, m in line["metrics"].items():
        assert isinstance(m["value"], (int, float)), name


@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_every_metric_with_unit(spark, workload):
    record, line = run.run_workload(spark, workload, seed=3, seconds=0.1, trace=False,
                                    scale="tiny", session_s=1.0)
    _assert_metrics(line, list(run.E2E))
    assert line["correct"] and line["failed"] == 0, record["failed_checks"]
    # the loop's jobs are found in the status store
    assert line["metrics"]["jobs_per_batch"]["value"] > 0
    assert line["metrics"]["tasks_per_batch"]["value"] > 0
    # the record carries every metric the run measured, each with its unit
    units = {k: m["unit"] for k, m in record["metrics"].items()}
    assert units == {**dict(run.RECORD), **dict(run.E2E),
                     "batch_tail_s": "s", "read_tail_s": "s"}
    assert record["metrics"]["error_ratio"]["value"] == 0.0
    assert len(record["host"]["calibration_before_after_s"]) == 2
    assert record["host"]["nproc"] >= 1 and record["host"]["pyspark"]

    _, traced = run.run_workload(spark, workload, seed=3, seconds=0.1, trace=True,
                                 scale="tiny")
    _assert_metrics(traced, run.per_layer_names())
    assert traced["correct"]
    m = {k: v["value"] for k, v in traced["metrics"].items()}
    assert m["cdc.sync.jobs"] > 0
    assert m["trace.coverage"] >= 0.9


def test_corrupt_row_fails_check_and_raises_error_ratio(spark):
    clean, _ = run.run_workload(spark, "cdc_trickle", seed=4, seconds=0.1, trace=False,
                                scale="tiny")
    bad, line = run.run_workload(spark, "cdc_trickle", seed=4, seconds=0.1, trace=False,
                                 scale="tiny", corrupt=True)
    ratio = [r["metrics"]["error_ratio"]["value"] for r in (clean, bad)]
    assert ratio[0] == 0.0
    assert not line["correct"] and line["failed"] >= 1
    assert ratio[1] > ratio[0]
    assert any(c["check"] == "final destination" for c in bad["failed_checks"])


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero and
    prints no result."""
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "cdc_trickle",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
