"""Resource and drift recorders: peak RSS of the process tree, Spark REST
stage metrics, and the host calibration burns.

Peak RSS is sampled from /proc (no psutil): the sum of resident pages
over every descendant of this process — the Spark JVM and its Python
workers.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import urllib.request


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        # the command name may contain spaces: fields follow the last ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def tree_pids(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def descendants_rss_bytes(root: int) -> int:
    return sum(_rss_bytes(p) for p in tree_pids(root) if p != root)


class PeakRss:
    """Background sampler of the summed RSS of this process's descendants
    (the Spark JVM and its Python workers; the benchmark's own
    interpreter, which holds the inputs and the checks, is excluded)."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, descendants_rss_bytes(root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


class SparkRest:
    """Reads the live application's REST API (``spark.ui.enabled``)."""

    def __init__(self, sc):
        port = int(sc.uiWebUrl.rsplit(":", 1)[1].strip("/"))
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def jobs(self) -> list[dict]:
        return self.get("/jobs")

    def stages(self) -> list[dict]:
        return self.get("/stages")

    def task_median_max(self, stage: dict) -> dict:
        """Per-metric [median, max] over the stage's tasks."""
        return self.get(f"/stages/{stage['stageId']}/{stage['attemptId']}/taskSummary?quantiles=0.5,1.0")


def stage_totals(stages: list[dict]) -> dict[str, float]:
    """Summed engine counters of completed stages (skipped stages ran no
    tasks)."""
    done = [s for s in stages if s.get("status") == "COMPLETE" or s.get("numFailedTasks", 0)]
    return {
        "task_s": sum(s.get("executorRunTime", 0) for s in done) / 1e3,
        "shuffle_write_mb": sum(s.get("shuffleWriteBytes", 0) for s in done) / 1e6,
        "spill_mb": sum(
            s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in done
        )
        / 1e6,
        "gc_s": sum(s.get("jvmGcTime", 0) for s in done) / 1e3,
        "failed_tasks": sum(s.get("numFailedTasks", 0) for s in done),
    }


def calibrate(root: str, procs: int) -> dict[str, float]:
    """The ALU and memory-bandwidth burns of tools/run_scaling.py
    (Spark-free host-speed snapshot)."""
    sys.path.insert(0, os.path.join(root, "tools"))
    try:
        from run_scaling import mem_bw, raw_cpu
    finally:
        sys.path.pop(0)
    return {"alu_mops": raw_cpu(procs) / 1e6, "mem_bw_gbs": mem_bw(procs) / 1e9}
