"""Self-tests of the benchmark (not part of the repository's test suite).

    python3 -m pytest perfbench/tests -q

* a small run of each workload prints every end-to-end metric with its unit,
  and a small traced run prints every per-layer metric;
* the correctness gate fails on a deliberately perturbed table state.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO_ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [BENCH_DIR, REPO_ROOT]

from common import WORK_ROOT  # noqa: E402
from layers import END_TO_END, PER_LAYER  # noqa: E402


def small_run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "10", "--trace", str(trace), "--small"],
        cwd=REPO_ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def assert_result(res: dict, units: dict[str, str]) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == set(units)
    for name, m in res["metrics"].items():
        assert m["unit"] == units[name], name
        assert isinstance(m["value"], (int, float)), name


@pytest.mark.parametrize("workload", ["bulk_cow", "trickle_mor"])
def test_small_run_emits_every_end_to_end_metric(workload):
    res = small_run(workload, trace=0)
    assert_result(res, END_TO_END)
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_small_traced_run_emits_every_per_layer_metric():
    res = small_run("trickle_mor", trace=1)
    assert_result(res, {k: v[0] for k, v in PER_LAYER.items()})
    m = res["metrics"]
    assert m["table.changes_calls"]["value"] > 0  # views and outbox both read the feed
    assert m["envelope.parse_exprs"]["value"] >= 1
    assert m["spark.jobs"]["value"] > 0
    report = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "report.py"),
         os.path.join(WORK_ROOT, "trace", "trickle_mor-3")],
        capture_output=True, text=True, timeout=120)
    assert report.returncode == 0, report.stderr
    assert "apply.self_ms" in report.stdout and "feeds" in report.stdout


def test_gate_fails_on_perturbed_state():
    from pyspark.sql import functions as F

    from workloads import make_workload

    w = make_workload("trickle_mor", 5, 10, WORK_ROOT, small=True)
    try:
        w.set_up(None)
        w.measure()
        w.check()
        assert w.failed == 0, w.failures

        # drop one live row from the table: every state-derived check must fail
        full = w.table.read(include_deleted=True)
        victim = w.table.read().select("repo", "path").orderBy("repo", "path").first()
        w.table.overwrite(full.filter(~((F.col("repo") == victim["repo"])
                                        & (F.col("path") == victim["path"]))))
        w.lookups[0]["rows"] = [("0" * 40, "0" * 64)]
        w.query_results["metrics_rollup"] = w.query_results["metrics_rollup"].iloc[1:]
        w.failures, w.failed = [], 0
        w.check()
        text = "\n".join(w.failures)
        assert "state vs LWW replay: 1 keys missing" in text
        assert "outbox replay vs state" in text
        assert "lookup" in text
        assert "view" in text
        assert "query metrics_rollup" in text
    finally:
        if w.spark is not None:
            w.close()
        shutil.rmtree(w.work, ignore_errors=True)
