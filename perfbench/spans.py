"""Spans recorded around the benchmark's calls into the engine, and the
Spark status REST counters the traced run reads.

Spans stay in memory (``Tracer.spans``) and are written once, when the
run ends.  A layer's self time is its span minus the time covered by
its child spans.
"""

from __future__ import annotations

import json
import statistics
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    name: str
    pass_id: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Nested spans; ``enabled=False`` records nothing (timed runs)."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, pass_id: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].span_id if self._stack else None
        sp = Span(len(self.spans), name, pass_id, parent, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def median(self, name: str) -> float:
        """Median duration of the spans called ``name`` (0 if none)."""
        durations = [s.duration for s in self.spans if s.name == name]
        return statistics.median(durations) if durations else 0.0

    def self_time(self, span: Span) -> float:
        covered = sum(c.duration for c in self.spans if c.parent == span.span_id)
        return span.duration - covered

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([{**asdict(s), "duration": s.duration,
                        "self_time": self.self_time(s)} for s in self.spans],
                      f, indent=1)


# stage fields summed into the per-layer counters
_STAGE_FIELDS = {
    "executorRunTime": "executor_run_ms",
    "executorCpuTime": "executor_cpu_ns",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "memory_spill_bytes",
    "diskBytesSpilled": "disk_spill_bytes",
    "numCompleteTasks": "tasks",
}


class SparkRest:
    """Totals over every stage and job the application has run, read from
    the status REST API (the UI must be on).  Deltas of two snapshots
    give the counters of the work in between."""

    def __init__(self, spark) -> None:
        self.ui = spark.sparkContext.uiWebUrl
        if not self.ui:
            raise RuntimeError("the Spark UI is off; the traced run needs it")
        self.app = self._get("/applications")[0]["id"]

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.ui}/api/v1{path}", timeout=10) as r:
            return json.loads(r.read())

    def _read(self) -> dict:
        base = f"/applications/{self.app}"
        stages = self._get(f"{base}/stages")
        out = {v: 0 for v in _STAGE_FIELDS.values()}
        for s in stages:
            for k, v in _STAGE_FIELDS.items():
                out[v] += s.get(k, 0) or 0
        jobs = self._get(f"{base}/jobs")
        out["jobs"] = len(jobs)
        out["active"] = (sum(s["status"] == "ACTIVE" for s in stages)
                         + sum(j["status"] == "RUNNING" for j in jobs))
        out["job_groups"] = [j.get("jobGroup") for j in jobs]
        return out

    def snapshot(self, settle_s: float = 5.0) -> dict:
        """Counters once the listener bus has caught up: no active stage
        or job and two reads 0.2 s apart agree."""
        deadline = time.monotonic() + settle_s
        prev = self._read()
        while time.monotonic() < deadline:
            time.sleep(0.2)
            cur = self._read()
            if cur == prev and not cur["active"]:
                return cur
            prev = cur
        return prev

    @staticmethod
    def delta(before: dict, after: dict) -> dict:
        d = {k: after[k] - before[k] for k in _STAGE_FIELDS.values()}
        d["jobs"] = after["jobs"] - before["jobs"]
        d["job_groups"] = after["job_groups"][:d["jobs"]]  # newest first
        return d
