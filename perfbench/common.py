"""Shared pieces of the benchmark: the operation log, percentiles and
on-disk store statistics."""

from __future__ import annotations

import glob
import math
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field


def tail(samples: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile with at least ``beyond`` samples above it:
    returns (value, percentile, sample count). (0, 0, n) when there are
    too few samples for such a percentile."""
    n = len(samples)
    if n <= beyond:
        return 0.0, 0.0, n
    k = n - beyond - 1  # sorted index with exactly ``beyond`` samples above
    return sorted(samples)[k], 100.0 * (k + 1) / n, n


def median(samples: list[float]) -> float:
    return statistics.median(samples) if samples else 0.0


def label_medians(labels: list[str], seconds: list[float]) -> dict[str, float]:
    by_label: dict[str, list[float]] = {}
    for label, s in zip(labels, seconds):
        by_label.setdefault(label, []).append(s)
    return {label: statistics.median(v) for label, v in by_label.items()}


def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values)) if values else 0.0


@dataclass
class OpLog:
    """Every timed operation of a run: kind, latency and verdict."""

    kinds: list[str] = field(default_factory=list)
    labels: list[str] = field(default_factory=list)
    seconds: list[float] = field(default_factory=list)
    ok: list[bool] = field(default_factory=list)
    failures: dict[str, int] = field(default_factory=dict)
    # checks made outside the timed loop (warm-up, oracle): they count in
    # attempted/failed but carry no latency
    untimed_checks: int = 0
    untimed_failed: int = 0

    def record(self, kind: str, seconds: float, ok: bool, label: str | None = None) -> None:
        key = label or kind
        self.kinds.append(kind)
        self.labels.append(key)
        self.seconds.append(seconds)
        self.ok.append(ok)
        if not ok:
            self.failures[key] = self.failures.get(key, 0) + 1
            print(f"perfbench: wrong or failed op {key}", file=sys.stderr)

    def record_untimed(self, label: str, ok: bool) -> None:
        self.untimed_checks += 1
        if not ok:
            self.untimed_failed += 1
            self.failures[label] = self.failures.get(label, 0) + 1
            print(f"perfbench: wrong or failed check {label}", file=sys.stderr)

    @property
    def attempted(self) -> int:
        return len(self.ok) + self.untimed_checks

    @property
    def failed(self) -> int:
        return sum(1 for v in self.ok if not v) + self.untimed_failed


def _attempt(call, check):
    """``call()`` then ``check(result) -> bool``, timing only the call;
    an exception in either counts as a failure and is printed."""
    result, error = None, None
    t0 = time.perf_counter()
    try:
        result = call()
    except Exception:  # a failed op is counted, the run goes on
        error = traceback.format_exc()
    seconds = time.perf_counter() - t0
    ok = False
    if error is None:
        try:
            ok = bool(check(result))
        except Exception:
            error = traceback.format_exc()
    if error is not None:
        print(error, file=sys.stderr)
    return result, seconds, ok


def run_op(log: OpLog, tracer, kind: str, call, check, label: str | None = None):
    """Time ``call()`` as one operation and verify its output with
    ``check(result) -> bool`` after the clock stops."""
    with tracer.op(kind, label):
        result, seconds, ok = _attempt(call, check)
    log.record(kind, seconds, ok, label)
    return result


def run_step(log: OpLog, label: str, call, check) -> None:
    """A checked step that is not a timed op (its time still falls in
    the timed window)."""
    _, _, ok = _attempt(call, check)
    log.record_untimed(label, ok)


def store_stats(root: str) -> dict:
    """Chunk partitions, files and bytes under a warehouse root."""
    dirs = glob.glob(os.path.join(root, "collections", "*", "chunks", "array_id=*", "chunk_idx=*"))
    parquet_files = sum(
        1 for d in dirs for f in os.listdir(d) if f.endswith(".parquet") and not f.startswith(".")
    )
    return {
        "partitions": len(dirs),
        "parquet_files": parquet_files,
        "bytes": dir_bytes(os.path.join(root, "collections")),
    }


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(base, f)) for base, _, files in os.walk(path) for f in files
    )

