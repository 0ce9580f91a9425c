"""Smoke test of the benchmark: each workload (those in BENCHMARK.json and
daily_ingest, run by hand) runs a few ops on tiny inputs, untraced and
traced, and must print a correct result line carrying exactly the metrics
BENCHMARK.json declares, plus, traced, the workload's own layers.

    python3 -m pytest e2ebench/test_smoke.py -q      (about 5 minutes)
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from e2ebench.run import LAYERS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "e2ebench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(LAYERS))
def test_result_line(workload: str, trace: int) -> None:
    out = _run(ROOT, workload, trace)
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    assert lines[-2].startswith("detail: ")
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 2
    want = {m["name"]: m["unit"] for m in BENCH["per_layer" if trace else "end_to_end"]}
    if trace:
        want.update(LAYERS[workload])
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_fails_without_the_engine(tmp_path) -> None:
    """With only BENCHMARK.json and the benchmark's own files present, the
    run must fail fast and print no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "e2ebench"), tmp_path / "e2ebench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(str(tmp_path), BENCH["workloads"][0]["name"], 0)
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
