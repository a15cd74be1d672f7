"""Campaign-script helpers that run without Spark."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))
import run_scaling  # noqa: E402


def test_run_level_retries_a_timed_out_leg(monkeypatch):
    calls = []

    def fake_run(cmd, **kwargs):
        calls.append(kwargs["timeout"])
        if len(calls) == 1:
            raise subprocess.TimeoutExpired(cmd, kwargs["timeout"])
        return subprocess.CompletedProcess(cmd, 0, 'JSONRESULT {"knn_sec": 1.5}\n', "")

    monkeypatch.setattr(run_scaling.subprocess, "run", fake_run)
    assert run_scaling.run_level(2, 1000) == {"knn_sec": 1.5}
    assert len(calls) == 2


def test_run_level_gives_up_after_timeouts(monkeypatch):
    def fake_run(cmd, **kwargs):
        raise subprocess.TimeoutExpired(cmd, kwargs["timeout"])

    monkeypatch.setattr(run_scaling.subprocess, "run", fake_run)
    with pytest.raises(RuntimeError, match="timed out"):
        run_scaling.run_level(2, 1000)
