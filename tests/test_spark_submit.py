"""End-to-end deploy path (north rule: "run via spark-submit --py-files"):
zip the package, launch the real spark-submit binary, check the curated
output and metrics land. Slowish (fresh JVM) — one test, small input.

spark-submit runs from a directory outside the repository, so neither the
driver nor a worker can import anything through the working directory."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

import pyspark
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")


@pytest.mark.skipif(not os.path.exists(SPARK_SUBMIT), reason="spark-submit not found")
def test_spark_submit_pyfiles(tmp_path):
    zip_path = str(tmp_path / "datatrove_spark.zip")
    with zipfile.ZipFile(zip_path, "w") as z:
        pkg = os.path.join(REPO, "datatrove_spark")
        for root, _, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))

    out = str(tmp_path / "curated")
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", PYSPARK_PYTHON=sys.executable)
    r = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local[4]",
            "--py-files", zip_path,
            os.path.join(REPO, "scripts", "run_pipeline.py"),
            "--generate", "1500",
            "--output", out,
        ],
        capture_output=True,
        text=True,
        env=env,
        cwd=str(tmp_path),
        timeout=420,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    with open(os.path.join(out, "metrics.json")) as f:
        metrics = json.load(f)
    assert metrics["total"] == 1500
    dropped = sum(metrics["dropped_by_reason"].values())
    assert metrics["kept"] + dropped == 1500
    assert metrics["kept"] > 0 and dropped > 0
