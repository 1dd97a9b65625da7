"""Spans recorded around the benchmark's calls into the package, and
Spark's own telemetry (event log) attributed to them.

A span is (name, start, end, parent, op). It is kept in memory and
written out when the run ends. With tracing off, :meth:`Tracer.span`
records nothing; the timed loops still time each op themselves.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []  # [name, start, end, parent, op]
        self._stack: list[int] = []
        # perf_counter -> wall clock, to line spans up with Spark's
        # event-log timestamps (epoch milliseconds)
        self._epoch = time.time() - time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent][4]
        self.spans.append([name, time.perf_counter(), None, parent, op])
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s[2] - s[1] for s in self.spans if s[0] == name]

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the time covered by the
        span's children (children of one span never overlap: the
        benchmark calls layers one after the other)."""
        child = defaultdict(float)
        for s in self.spans:
            if s[3] is not None:
                child[s[3]] += s[2] - s[1]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s[0]] += s[2] - s[1] - child[i]
        return dict(out)

    def coverage(self, op_name: str) -> float:
        """The smallest share, over spans named ``op_name``, of a span's
        wall time that its child spans cover."""
        covered = defaultdict(float)
        for s in self.spans:
            if s[3] is not None:
                covered[s[3]] += s[2] - s[1]
        shares = [covered[i] / (s[2] - s[1])
                  for i, s in enumerate(self.spans)
                  if s[0] == op_name and s[2] > s[1]]
        return min(shares, default=0.0)

    def epoch_ms(self, t: float) -> float:
        return (t + self._epoch) * 1000.0

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"fields": ["name", "start_s", "end_s", "parent", "op"],
                       "spans": self.spans, "self_s": self.self_times()}, f)


class EventLog:
    """Jobs and task metrics from a Spark event log (JSON lines), read
    after the SparkContext stopped and flushed it."""

    def __init__(self, log_dir: str):
        self.jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        files = sorted(glob.glob(os.path.join(log_dir, "*")))
        for path in files:
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        jid = ev["Job ID"]
                        self.jobs[jid] = {
                            "submitted_ms": ev["Submission Time"],
                            "run_ms": 0, "gc_ms": 0, "shuffle_write": 0,
                            "spill": 0}
                        for sid in ev.get("Stage IDs", []):
                            stage_job[sid] = jid
                    elif kind == "SparkListenerTaskEnd":
                        job = self.jobs.get(stage_job.get(ev["Stage ID"]))
                        m = ev.get("Task Metrics") or {}
                        if job is None or not m:
                            continue
                        job["run_ms"] += m.get("Executor Run Time", 0)
                        job["gc_ms"] += m.get("JVM GC Time", 0)
                        job["shuffle_write"] += (m.get("Shuffle Write Metrics")
                                                 or {}).get(
                            "Shuffle Bytes Written", 0)
                        job["spill"] += (m.get("Memory Bytes Spilled", 0)
                                         + m.get("Disk Bytes Spilled", 0))

    def within(self, tracer: Tracer, name: str) -> list[dict]:
        """Jobs submitted inside any span called ``name``."""
        wins = [(tracer.epoch_ms(s[1]), tracer.epoch_ms(s[2]))
                for s in tracer.spans if s[0] == name]
        return [j for j in self.jobs.values()
                if any(a <= j["submitted_ms"] <= b for a, b in wins)]
