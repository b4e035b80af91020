"""In-memory spans and counters for the traced benchmark run.

A traced run wraps the program's public calls from the outside (the
program itself is not edited): each wrapper records a span with its
parent, and each timed operation runs in its own Spark job group so its
jobs, stages and tasks can be counted through ``statusTracker()``.
Spans stay in memory and are written as one JSON file when the run ends.

The untraced run uses :class:`NullTracer`, which has the same interface
and does nothing, so the timed loop is identical in both modes.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name, **attrs):
        yield {}

    @contextmanager
    def op(self, kind, label=None):
        yield {}


class Tracer(NullTracer):
    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        # per op kind: list of (jobs, stages, tasks), one entry per op
        self.spark_counts: dict[str, list[tuple[int, int, int]]] = defaultdict(list)
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self._groups = 0

    @contextmanager
    def span(self, name, **attrs):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec["attrs"]
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    @contextmanager
    def op(self, kind, label=None):
        """One timed operation: a span plus its own Spark job group."""
        self._groups += 1
        group = f"perfbench-{self._groups}"
        self.sc.setJobGroup(group, label or kind)
        try:
            with self.span(f"op.{kind}", label=label or kind) as attrs:
                yield attrs
        finally:
            self.sc.setJobGroup(None, None)
            self.spark_counts[kind].append(self._job_counts(group))

    def _job_counts(self, group: str) -> tuple[int, int, int]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for sid in info.stageIds:
                stage = tracker.getStageInfo(sid)
                if stage is not None:
                    stages += 1
                    tasks += stage.numTasks
        return len(jobs), stages, tasks

    def patch(self, owner, attr, name, measure=None):
        """Wrap ``owner.attr`` in a span named ``name``. ``measure``,
        if given, is called with the call's arguments before the call and
        returns attributes to store on the span (kept out of its time)."""
        original = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            extra = measure(*args, **kwargs) if measure else {}
            with tracer.span(name, **extra):
                return original(*args, **kwargs)

        wrapper.__wrapped__ = original
        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, original))

    def restore(self):
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    # -- read-out ------------------------------------------------------------

    def closed(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def total_ms(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.closed(name)) * 1000.0

    def spark_mean(self, kind: str) -> tuple[float, float, float]:
        rows = self.spark_counts.get(kind) or []
        if not rows:
            return 0.0, 0.0, 0.0
        n = len(rows)
        return tuple(sum(r[i] for r in rows) / n for i in range(3))

    def dump(self, path: str, summary: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        out = {
            "summary": summary,
            "spark": dict(self.spark_counts),
            "spans": [
                {
                    **s,
                    "start_ms": round((s["start"] - t0) * 1000.0, 3),
                    "dur_ms": round(((s["end"] or s["start"]) - s["start"]) * 1000.0, 3),
                }
                for s in self.spans
            ],
        }
        for s in out["spans"]:
            s.pop("start")
            s.pop("end")
        with open(path, "w") as f:
            json.dump(out, f, default=str)
