"""Smoke test of the benchmark at a tiny input size.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload once untraced and one traced run, checks that each
metric ``BENCHMARK.json`` names appears with its unit, and that the
correctness gate trips on a deliberately wrong expectation. Each run
starts its own Spark JVM, so the file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import uuid
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


@pytest.fixture
def work_dir():
    """A scratch directory inside the checkout, as the benchmark keeps
    everything it writes there."""
    path = os.path.join(ROOT, ".bench_work", f"smoke-{uuid.uuid4().hex[:8]}")
    os.makedirs(path)
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _run(work_dir, workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--scale", "0.02", "--work-dir", str(work_dir)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stdout[-2000:] + p.stderr[-2000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def _units(result: dict) -> dict:
    return {k: v["unit"] for k, v in result["metrics"].items()}


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_workload_reports_every_end_to_end_metric(work_dir, workload):
    res = _run(work_dir, workload, 0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    assert _units(res) == {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_traced_run_reports_every_per_layer_metric(work_dir):
    res = _run(work_dir, "snapshots", 1)
    assert res["correct"], res
    assert _units(res) == {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    traces = os.listdir(os.path.join(work_dir, "traces"))
    assert any(n.endswith(".spans.jsonl") for n in traces)
    assert any(n.endswith(".metrics.json") for n in traces)


def _counters(expected: Counter) -> dict:
    return {"events.total": expected["events.total"],
            **{f"output.{s}.events.acked": expected[s] for s in gen.SINKS}}


def test_gate_trips_on_wrong_expectation(work_dir):
    expected = gen.write_pages(os.path.join(work_dir, "p.parquet"), 3,
                               range(200))
    assert gen.count_mismatches(expected, _counters(expected)) == []
    assert gen.sink_mismatches(expected, dict(expected)) == []
    wrong = expected.copy()
    wrong["sink_es"] += 1
    assert gen.count_mismatches(wrong, _counters(expected))
    assert gen.sink_mismatches(wrong, dict(expected))

    page = gen.page(3, 5)
    rows = [(page["url"], k, msg, sink) for k, (msg, sink) in
            enumerate(zip(page["messages"], gen.expected_sinks(page)))]
    assert gen.message_mismatches(3, rows, [5]) == []
    url, k, msg, sink = rows[0]
    assert gen.message_mismatches(3, [(url, k, msg + " ", sink), rows[1]], [5])
    assert gen.message_mismatches(3, rows[:1], [5])          # a lost event
