"""Self-test of the benchmark: every workload at toy size, a corrupted
expected answer, a traced run, and a checkout without the package.

    python3 -m pytest perfbench/test_perfbench.py -q

Each case starts its own Spark session, so the file takes minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.run import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def _run(*args, cwd=ROOT, seconds=1):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "3", "--seconds", str(seconds),
         "--size", "toy", *args],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )
    last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
    return proc, last


def _result(*args, seconds=1):
    proc, last = _run(*args, seconds=seconds)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(last)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    return out


def test_benchmark_json_matches_run():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_workload_toy(workload):
    out = _result("--workload", workload, "--trace", "0")
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    assert set(out["metrics"]) == set(END_TO_END)
    for name, m in out["metrics"].items():
        assert m["unit"] == END_TO_END[name]
        assert m["value"] > 0, name


def test_corrupted_expected_is_a_failure():
    out = _result("--workload", "bm25_topk", "--trace", "0", "--corrupt-expected")
    # the build's doc count and every non-empty expected answer were
    # corrupted, so the build check and at least one query must fail
    assert not out["correct"] and out["failed"] >= 2


def test_traced_run_reports_every_layer():
    # long enough to reach the prefix class, third in the stream
    out = _result("--workload", "positional", "--trace", "1", seconds=6)
    assert out["correct"]
    assert set(out["metrics"]) == set(PER_LAYER)
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["spark.scans_per_query"] >= 1
    assert m["engine.expansion_terms"] > 0
    assert m["builder.postings_write_s"] > 0


def test_checkout_without_package_fails():
    bare = os.path.join(HERE, ".work", "bare-checkout")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".work", "__pycache__", "results"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        proc, last = _run("--workload", "bm25_topk", "--trace", "0", cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert proc.returncode != 0
    assert not last.startswith("{")
