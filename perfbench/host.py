"""The host-speed probe that scales the benchmark's end-to-end times.

The benchmark runs on a few cores of a shared host whose speed swings
with other tenants' load: on an otherwise idle 4-core VM, with no steal
time, a fixed single-threaded Python loop took from 1.0 to 1.7 times its
idle time (median per run) across runs minutes apart, and the ops'
latencies moved with it: over 44 runs, the log of a run's op latency
followed the log of its loop time with a slope of 0.9 (analytics) to 1.0
(serve). So each run times a fixed reference loop between the steps of its set-up
and of its timed window, and reports its end-to-end times scaled to a
nominal host on which that loop takes ``NOMINAL_MS``:

    scaled = measured * NOMINAL_MS / mean(reference loop times)

A change to the program moves the scaled figures as much as the measured
ones, since the reference loop does not run any of its code; a slower
or busier host moves both the ops and the loop, and the ratio cancels
most of it.
The mean is trimmed of its extremes but is not a median: an op of half a
second feels the host's average slowdown over its span, which a median of
short loops would miss when the host is slow a third of the time. The
measured (unscaled) figures go to standard error and the mean loop time
into the traced run's per-layer metrics.
"""

from __future__ import annotations

import statistics
import time

ITERATIONS = 75_000
# The loop's time on an idle host of the kind the README's figures come
# from (a 4-core VM, Python 3.11); any fixed value would do, this one
# keeps the scaled figures close to what that host measures when idle.
NOMINAL_MS = 5.0
# One loop per this many seconds of the program's work (5% overhead),
# so the probe weights the host's speed by the time the work ran; and
# the share of loop times dropped at each end before averaging.
PER_SECONDS = 0.1
TRIM = 0.1


def reference_loop() -> float:
    """Seconds for a fixed amount of pure-Python integer work."""
    t0 = time.perf_counter()
    x = 0
    for i in range(ITERATIONS):
        x += i * i % 7
    return time.perf_counter() - t0


class HostProbe:
    """Reference-loop samples of one phase of a run, taken between the
    program's calls, in proportion to the time those calls took."""

    def __init__(self, start: float | None = None) -> None:
        self.seconds: list[float] = []
        self.since = time.perf_counter() if start is None else start

    def sample(self) -> None:
        """Loops for the program's work since the last sample."""
        busy = time.perf_counter() - self.since
        self.seconds.extend(reference_loop() for _ in range(max(1, round(busy / PER_SECONDS))))
        self.since = time.perf_counter()

    @property
    def loop_ms(self) -> float:
        """Trimmed mean of the loop times."""
        xs = sorted(self.seconds)
        k = int(len(xs) * TRIM)
        return statistics.fmean(xs[k : len(xs) - k]) * 1000.0

    @property
    def scale(self) -> float:
        """Factor from measured to nominal-host times."""
        return NOMINAL_MS / self.loop_ms
