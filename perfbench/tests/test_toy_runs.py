"""Each workload end to end at toy size, in its own process, the way
the benchmark is run: exit code 0, outputs correct, every metric
printed by name. Slow (about a minute per run).

    python3 -m pytest perfbench/tests/test_toy_runs.py -q
"""

import json
import subprocess
import sys
from pathlib import Path

import pytest

from perfbench.run import E2E_UNITS, LAYER_UNITS

ROOT = Path(__file__).resolve().parents[2]


def run(workload: str, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "2", "--trace", str(trace), "--scale", "toy"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    *_, record, result = out.stdout.strip().splitlines()
    return json.loads(record), json.loads(result)


@pytest.mark.parametrize("workload", ["crawl_wide", "index_serve"])
def test_untraced_toy_run(workload):
    record, result = run(workload, 0)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == E2E_UNITS
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert record["nproc"] >= 1 and record["seed"] == 3


def test_traced_toy_run_self_times_add_up():
    record, result = run("index_serve", 1)
    assert result["correct"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == LAYER_UNITS
    layers = record["layers"]
    assert layers["trace.self_sum_s"] == pytest.approx(layers["trace.wall_s"], rel=1e-6)
    assert layers["indexer.jobs"] > 0 and layers["search.serve.jobs_per_query"] > 0
    assert layers["crawl.round.jobs"] == 0  # the crawl layer stays idle
    assert not (ROOT / ".perfbench_work").exists()
