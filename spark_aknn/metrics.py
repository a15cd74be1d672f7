"""Run metrics — the Spark analogue of the reference's results CSV
(/root/reference/PlaneSweepParallel/src/PlaneSweepParallel.cpp:296-345:
per-algorithm durations and counters). Only values a run already has
are recorded: a counter never costs its own Spark job."""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class RunMetrics:
    def __init__(self) -> None:
        self.timings: dict[str, float] = {}
        self.counters: dict[str, float] = {}

    @contextmanager
    def timed(self, name: str):
        t0 = time.time()
        yield
        self.timings[name] = self.timings.get(name, 0.0) + (time.time() - t0)

    def to_json(self) -> str:
        return json.dumps({"timings_sec": self.timings, "counters": self.counters}, indent=1)
