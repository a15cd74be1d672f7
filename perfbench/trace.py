"""Spans around the benchmark's calls into the engine's layers.

A span has a name, start, end, parent and run id; spans stay in memory
and are written out once, when the run ends. While a span is open its id
is the Spark job group of every job the calling thread starts, so the
REST stage metrics of each job can later be attributed to the innermost
span that was open when it ran.

``NullTracer`` has the same interface and records nothing: the untraced
run executes the identical call sequence through it.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class NullTracer:
    @contextmanager
    def span(self, name: str):
        yield {}


class Tracer:
    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def group_of(self, span: dict) -> str:
        return f"{self.run_id}.{span['id']}"

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(self.group_of(span), span["name"])

    @contextmanager
    def span(self, name: str):
        sp = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def subtree(self, root_id: int) -> set[int]:
        ids = {root_id}
        for s in self.spans:  # spans are appended parent-first
            if s["parent"] in ids:
                ids.add(s["id"])
        return ids
