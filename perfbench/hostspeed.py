"""Host speed canary: how fast this machine runs fixed work right now.

    python3 perfbench/hostspeed.py     # samples until a line or EOF on stdin

On a shared host the speed of a core moves with the neighbours' load
(SMT siblings, caches, frequency, stolen time) by up to half between
runs, and it moves a run's CPU seconds as much as its wall time. This
program measures that speed beside the worker: every PERIOD_S it wakes,
runs a fixed pure-Python loop and records `(monotonic start, seconds)`.
It sleeps 97% of the time, and a woken sleeper is scheduled ahead of
busy threads, so the worker's own load barely moves it (4 busy
processes on 4 cores moved its median by 3%) while the host's does. On
a line or end of file on stdin it prints its samples as one JSON list
and exits.

run.py scales each time metric by `REF_S / median(canary)` over the
samples taken while the metric was measured: the result reads as
seconds on this host at its reference speed.
"""

from __future__ import annotations

import json
import select
import statistics
import sys
import time

#: Pause between samples.
PERIOD_S = 0.1
#: Iterations of the fixed loop (about 2.7 ms on the reference host).
LOOP_N = 30_000
#: The loop's median time on the reference host: a 4-core VM at
#: quiet load, Python 3.11.7.
REF_S = 0.0027


def _loop(n: int) -> int:
    s = 0
    for i in range(n):
        s += i * i % 7
    return s


def sample_until_stdin() -> list[tuple[float, float]]:
    out = []
    while not select.select([sys.stdin], [], [], PERIOD_S)[0]:
        t0 = time.monotonic()
        p0 = time.perf_counter()
        _loop(LOOP_N)
        out.append((t0, time.perf_counter() - p0))
    return out


def median_between(samples: list[tuple[float, float]], t0: float, t1: float) -> float:
    """Median loop time of the samples started within [t0, t1]."""
    inside = [s for t, s in samples if t0 <= t <= t1]
    if not inside:
        raise ValueError(f"no canary sample between {t0} and {t1}")
    return statistics.median(inside)


def scale(value: float, canary_s: float) -> float:
    """`value`, measured while the canary's median was `canary_s`, at
    the reference host speed."""
    return value * REF_S / canary_s


if __name__ == "__main__":
    print(json.dumps(sample_until_stdin()))
