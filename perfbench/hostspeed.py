"""Host-speed reference for the benchmark's timings.

The benchmark's host is shared: for minutes at a time it runs the same
code up to 1.7x slower than in an uncontended stretch, and setup, cold
and warm times move together with it. A fixed piece of memory-bound work that no code of the
repository runs -- a sort of 4M doubles, 32 MB, beyond the cache -- moves
with them: on the 4-core box the bounds were set on, its time changed by
the same 1.2x and 1.35x as scaleout's and audio-train's times between two
such stretches, while a pure-Python loop changed by only 1.1x.

``HostSpeed`` times that sort in a child process of its own (so that its
memory is not in the benchmark's peak RSS), between passes and never
while a query runs. ``factor()`` is NOMINAL_S over the median sample: a
run's wall times multiplied by it read as seconds on a host where the
sort takes NOMINAL_S.

    python3 perfbench/hostspeed.py

serves samples: each line read from stdin runs one sort and prints its
time in seconds.
"""

from __future__ import annotations

import statistics
import subprocess
import sys
import time

N = 4_000_000
# The sort's time on the 4-core box the bounds were set on (Intel Xeon,
# 4 vCPUs, numpy 1.26, Python 3.11) in an uncontended stretch: there the
# benchmark's timings read as wall time.
NOMINAL_S = 0.050


def serve() -> None:
    import numpy as np

    arr = np.random.default_rng(0).random(N)
    np.sort(arr)  # first touch of the pages, untimed
    for _ in sys.stdin:
        t = time.perf_counter()
        np.sort(arr)
        print(time.perf_counter() - t, flush=True)


class HostSpeed:
    def __init__(self):
        self.samples: list[float] = []
        self._proc = subprocess.Popen(
            [sys.executable, __file__],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )

    def sample(self) -> None:
        self._proc.stdin.write("\n")
        self._proc.stdin.flush()
        self.samples.append(float(self._proc.stdout.readline()))

    def factor(self) -> float:
        return NOMINAL_S / statistics.median(self.samples)

    def close(self) -> None:
        """Stop the child and wait for it."""
        if self._proc.stdin:
            self._proc.stdin.close()
        try:
            self._proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            self._proc.kill()
            self._proc.wait()


if __name__ == "__main__":
    serve()
