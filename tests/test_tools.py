"""Tools, campaign-script helpers and the session defaults, checked
without starting Spark."""

from __future__ import annotations

import ast
import os
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO / "tools"))
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


def test_tools_find_the_repo_from_their_own_file():
    """A tool run from another checkout (a parent clone for an A/B) must
    import and write that checkout: no tool names this checkout's
    absolute path, puts a literal absolute path on sys.path, or opens
    one."""
    for path in sorted((REPO / "tools").glob("*.py")):
        src = path.read_text()
        assert str(REPO) not in src, path.name
        for node in ast.walk(ast.parse(src)):
            if not isinstance(node, ast.Call):
                continue
            name = ast.unparse(node.func)
            if name in ("sys.path.insert", "sys.path.append", "open"):
                for arg in node.args:
                    literal = isinstance(arg, ast.Constant) and isinstance(arg.value, str)
                    assert not (literal and arg.value.startswith("/")), (path.name, name)


def test_default_cpus_falls_back_to_usable_cores(monkeypatch):
    from spark_aknn.session import default_cpus

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3


def test_code_lines_skips_comments_docstrings_and_blank_lines():
    import code_lines

    src = '''"""Module docstring
over two lines."""

import os  # a trailing comment keeps its line


class A:
    """Class docstring."""

    # a comment line
    def f(self):
        """Function
        docstring."""
        text = """a multi-line
string literal
counts line by line"""
        return (text,
                os.sep)
'''
    # import, class, def, the 3-line literal, and the 2-line return
    assert code_lines.code_lines(src) == 8
