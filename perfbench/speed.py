"""How fast the host's CPUs run, sampled while the benchmark runs.

The benchmark's CPUs are hyperthreads that share their cores with other
tenants.  While they are busy, the same work takes up to 2x the CPU
time; which cores are shared, and for how long, changes from second to
second, and the share of time they are busy changes over minutes.

``python3 speed.py OUT`` runs a fixed piece of pure-Python work every
``PERIOD_S`` and appends one line per sample to ``OUT``: the monotonic
time it started and the CPU seconds it took.  ``Samples.slowdown``
reads the file back and gives, for a time window, the mean sample over
``NOMINAL_S``, what a sample takes on an idle core of a 4-core Xeon
(Sapphire Rapids) guest: about 1.0 when the window ran uncontended
there.
"""

from __future__ import annotations

import bisect
import os
import statistics
import sys
import time
from pathlib import Path

PERIOD_S = 0.02
NOMINAL_S = 0.0007


def _work(n: int = 5000) -> int:
    d = {}
    for i in range(n):
        d[(i * 2654435761) & 0xFFFFF] = i
    return len(d)


def sample_forever(out: Path) -> None:
    """Sample until stopped, or until the benchmark that started this
    process has gone."""
    parent = os.getppid()
    with open(out, "w", buffering=1) as f:
        while os.getppid() == parent:
            t = time.monotonic()
            c = time.thread_time()
            _work()
            f.write(f"{t:.6f} {time.thread_time() - c:.9f}\n")
            time.sleep(PERIOD_S)


class Samples:
    def __init__(self, path: Path) -> None:
        rows = [line.split() for line in path.read_text().splitlines()]
        # the sampler is killed mid-line at the end of the run
        rows = [r for r in rows if len(r) == 2 and float(r[1]) > 0]
        self.t = [float(r[0]) for r in rows]
        self.cpu = [float(r[1]) for r in rows]

    def slowdown(self, t0: float, t1: float) -> float:
        """Mean sample started in [t0, t1] over ``NOMINAL_S``; the first
        sample after the window (or the last one) when none started
        inside it."""
        lo = bisect.bisect_left(self.t, t0)
        hi = bisect.bisect_right(self.t, t1)
        if hi <= lo:
            lo = min(lo, len(self.t) - 1)
            hi = lo + 1
        return statistics.fmean(self.cpu[lo:hi]) / NOMINAL_S


if __name__ == "__main__":
    sample_forever(Path(sys.argv[1]))
