"""Self-tests of the benchmark: tiny smoke runs of every workload, traced
and untraced, generator determinism, declared metric names, and the
per-unit job accounting of traced runs.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import pytest

from perfbench import gen
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _run(workload: str, trace: int) -> list[dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return [json.loads(line) for line in proc.stdout.splitlines() if line.startswith("{")]


@pytest.fixture(scope="module", params=[(w, t) for w in WORKLOADS for t in (0, 1)],
                ids=lambda p: f"{p[0]}-trace{p[1]}")
def run_output(request):
    return request.param, _run(*request.param)


def test_smoke_run_is_correct(run_output):
    _, lines = run_output
    result = lines[-1]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1


def test_emitted_metrics_are_declared(run_output):
    (_, trace), lines = run_output
    declared = BENCH["per_layer" if trace else "end_to_end"]
    emitted = lines[-1]["metrics"]
    assert sorted(emitted) == sorted(m["name"] for m in declared)
    for m in declared:
        assert emitted[m["name"]]["unit"] == m["unit"], m["name"]


def test_layer_jobs_sum_to_status_store_total(run_output):
    (_, trace), lines = run_output
    if not trace:
        pytest.skip("job accounting is reported by traced runs")
    (unit,) = [u for u in lines[-2]["perfbench_detail"]["units"] if u["traced"]]
    assert sum(unit["layers"].values()) == unit["status_store_jobs"], unit


def test_declared_workloads_exist():
    assert {w["name"] for w in BENCH["workloads"]} <= set(WORKLOADS)


def _write_batches(seed: int, out: str) -> None:
    src = gen.SourceData(seed, {"orders": 600, "documents": 200})
    src.write(out)
    for name, batches in (("orders", gen.OrderBatches(src)), ("documents", gen.DocBatches(src))):
        for i in range(3):
            cols, _props = batches.next()
            gen.write_parquet(cols, name, os.path.join(out, f"{name}-batch{i}.parquet"))


def test_generator_is_byte_identical_per_seed(tmp_path):
    a, b, c = (str(tmp_path / d) for d in "abc")
    _write_batches(5, a)
    _write_batches(5, b)
    _write_batches(6, c)
    names = sorted(os.listdir(a))
    assert len(names) == len(gen.SCHEMAS) + 6
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert match == names and not mismatch and not errors
    _match, differ, _errors = filecmp.cmpfiles(a, c, names, shallow=False)
    assert "orders.parquet" in differ and "orders-batch0.parquet" in differ
