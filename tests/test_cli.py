"""The spark-submit entry point end to end, in a subprocess: main()
stops its session, so it cannot share the test session's."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("checkpointed", [False, True], ids=["direct", "workdir"])
def test_cli_synthetic_output_rows(tmp_path, checkpointed):
    out = tmp_path / "out"
    metrics = tmp_path / "metrics.json"
    cmd = [
        sys.executable, "-m", "spark_aknn.cli", "--synthetic", "3000", "--k", "5",
        "--cpus", "2", "--output", str(out), "--metrics", str(metrics),
    ]
    if checkpointed:
        cmd += ["--workdir", str(tmp_path / "ckpt")]
    subprocess.run(cmd, cwd=REPO, check=True, timeout=600, capture_output=True)
    with open(metrics) as f:
        assert json.load(f)["counters"]["output_rows"] == 15000
    assert pq.read_table(out).num_rows == 15000
