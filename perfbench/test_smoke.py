"""Smoke test: the benchmark at tiny size, started from outside the
repository root with PYTHONPATH unset, prints a correct result line.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

RUN = Path(__file__).resolve().parent / "run.py"


def _run(tmp_path: Path, *args: str) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, str(RUN), *args], cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600
    )


@pytest.mark.parametrize("workload", ["curate", "curate_long", "dedup"])
@pytest.mark.parametrize("trace", ["0", "1"])
def test_tiny_run_from_outside_the_repo(tmp_path, workload, trace):
    r = _run(tmp_path, "--workload", workload, "--seed", "7", "--seconds", "1", "--trace", trace, "--scale", "0.02")
    assert r.returncode == 0, r.stderr[-3000:]
    result = json.loads(r.stdout.strip().splitlines()[-1])
    assert result["correct"] is True
    assert result["attempted"] >= 1 and result["failed"] == 0
    spec = json.loads((RUN.parent.parent / "BENCHMARK.json").read_text())
    want = spec["end_to_end"] if trace == "0" else spec["per_layer"]
    assert {m: result["metrics"][m]["unit"] for m in result["metrics"]} == {m["name"]: m["unit"] for m in want}
    assert list(tmp_path.iterdir()) == []  # nothing written outside the repository


def test_refuses_without_the_package(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in RUN.parent.glob("*.py"):
        (bench / f.name).write_text(f.read_text())
    r = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "curate", "--seed", "1", "--seconds", "1"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert r.returncode != 0 and r.stdout.strip() == ""
