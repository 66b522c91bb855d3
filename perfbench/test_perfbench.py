"""Tests of the benchmark itself.

    python -m pytest perfbench/ -q

The smoke tests run every workload at the tiny scale, untraced and
traced (about 20 s each), and check that the printed metric names are
the ones BENCHMARK.json declares.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from metrics import MOVES
from run import weighted_quantile
from sparkstats import parse_metric
from spans import Span, batch_walls, self_times

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_self_times_sum_to_batch_wall():
    spans = [
        Span(0, "batch", "bench", 0.0, 10.0, None, 0),
        Span(1, "collector.tick", "collector", 1.0, 9.0, 0, 0),
        Span(2, "sources.read_new", "sources", 1.5, 3.0, 1, 0),
        Span(3, "pipeline.run_batch", "pipeline", 3.0, 8.0, 1, 0),
        Span(4, "sinks.ok.write", "sinks", 4.0, 6.0, 3, 0),
        Span(5, "sinks.errors.write", "sinks", 6.0, 7.0, 3, 0),
        Span(6, "batch", "bench", 20.0, 21.0, None, 1),
    ]
    selfs = self_times(spans)
    assert selfs[0] == pytest.approx({
        "batch": 2.0,
        "collector.tick": 1.5,
        "sources.read_new": 1.5,
        "pipeline.run_batch": 2.0,
        "sinks.ok.write": 2.0,
        "sinks.errors.write": 1.0,
    })
    walls = batch_walls(spans)
    assert walls == {0: 10.0, 1: 1.0}
    for b, wall in walls.items():
        assert sum(selfs[b].values()) == pytest.approx(wall)


def test_parse_metric():
    assert parse_metric("20,000", "sum") == 20000
    assert parse_metric("0.0 B", "size") == 0
    assert parse_metric("total (min, med, max (stageId: taskId))\n3.4 MiB (8.0 KiB, 1.0 MiB)", "size") == 3.4 * (1 << 20)
    assert parse_metric("total (min, med, max (stageId: taskId))\n2.3 s (427 ms, 596 ms)", "timing") == 2300
    assert parse_metric("14 ms", "nsTiming") == 14
    assert parse_metric("1.5 m", "timing") == 90_000


def test_weighted_quantile():
    samples = [(3.0, 1), (1.0, 8), (2.0, 1)]
    assert weighted_quantile(samples, 0.5) == 1.0
    assert weighted_quantile(samples, 0.9) == 2.0
    assert weighted_quantile(samples, 1.0) == 3.0


def test_every_per_layer_metric_says_what_it_moves():
    assert set(MOVES) == {m["name"] for m in _bench_json()["per_layer"]}


# tick_stream runs by name only: BENCHMARK.json leaves it out (run budget)
WORKLOADS = ["pages_flagship", "backlog_quarantine", "tick_stream"]


def test_benchmark_json_workloads_exist():
    assert {w["name"] for w in _bench_json()["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke(workload, trace):
    bench = _bench_json()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = bench["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in declared
    }
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
