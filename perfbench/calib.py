"""The benchmark's reference computation: a fixed unit of CPU work, run
now and then during the timed cycle, whose CPU time measures how fast
the host runs while the cycle runs.

On a shared host the CPU time of the same sync cycle varies by a third
from minute to minute, and by a tenth within one cycle: other guests
share the cores and caches.  The unit's CPU time varies with it.
``run.py`` divides the timed cycle's CPU seconds by the unit's mean CPU
seconds over the cycle, which takes the host's speed out of the figure.
A reference run only before and after the cycle tracked it less well
(spread 0.19 against 0.03 over the same seven backlog runs).

Run as ``python3 perfbench/calib.py``, a process of its own so that its
memory and interpreter stay out of the driver.  It prints ``ready`` once
its inputs are built, then answers one command per stdin line:

``start``
    start sampling: a unit runs at once and then every ``INTERVAL_S``,
    and its CPU seconds are kept (a unit is about 4 ms of one core, so
    sampling takes under 5% of one core).
``stop``
    stop sampling and print the mean CPU seconds of a unit and the
    number of units run.

It exits at the end of stdin.
"""

from __future__ import annotations

import random
import statistics
import sys
import threading
import time
import zlib

INTERVAL_S = 0.1  # between two units


class Unit:
    def __init__(self):
        rng = random.Random(7)
        self.data = [rng.random() for _ in range(2000)]
        self.blob = rng.randbytes(16384)

    def run(self) -> float:
        """CPU seconds of one unit: sorting, dict building (hashing and
        allocation) and compression, the kinds of work the sync cycle's
        decode, join and egress do."""
        t = time.thread_time()
        for _ in range(4):
            sorted(self.data)
            d = {x: i for i, x in enumerate(self.data)}
            zlib.compress(self.blob, 6)
            sum(d.values())
        return time.thread_time() - t


def _sample(unit: Unit, stop: threading.Event, out: list[float]) -> None:
    while True:
        out.append(unit.run())
        if stop.wait(INTERVAL_S):
            return


def main() -> int:
    unit = Unit()
    print("ready", flush=True)
    for line in sys.stdin:
        cmd = line.strip()
        if cmd == "start":
            stop, runs = threading.Event(), []
            sampler = threading.Thread(target=_sample, args=(unit, stop, runs))
            sampler.start()
        elif cmd == "stop":
            stop.set()
            sampler.join()
            print(statistics.mean(runs), len(runs), flush=True)
        else:
            raise SystemExit(f"unknown command {cmd!r}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
