"""How fast the host ran while the program was measured.

On a shared virtual machine the same work can take twice as long from
one minute to the next, for two reasons the benchmark corrects for:

- the hypervisor withholds runnable virtual CPUs ("steal", counted in
  ``/proc/stat``).  ``Stopwatch`` takes the stolen share out of a timed
  stretch's wall time.
- other tenants slow every instruction (shared cores, caches, memory
  bandwidth), which no counter shows.  ``Sampler`` runs a small fixed
  unit of memory-bound (sort), compute-bound (hashing) and interpreter
  (dict) work every ``PERIOD_S`` seconds in a process of its own while
  the program runs, and times it in CPU time, which leaves out steal and
  the time the unit waits for a CPU.  ``slowdown`` is the unit's mean
  time over a stretch against ``REFERENCE_S``, its time on a quiet host.

A stretch's time at the reference host's speed is its wall time net of
steal over its slowdown.  The sampler takes about 6% of one CPU.
"""

from __future__ import annotations

import hashlib
import os
import signal
import statistics
import struct
import time

import numpy as np

# CPU time of one ``_unit`` on a quiet 4-CPU host (Intel Xeon, 2 GHz).
REFERENCE_S = 0.02
PERIOD_S = 0.5
_SAMPLE = struct.Struct("dd")     # (end time, CPU s)


def cpu_seconds() -> tuple[float, float]:
    """(busy, stolen) CPU seconds of the host since boot, summed over
    its CPUs: busy is user + nice + system + irq + softirq; stolen is
    time a runnable virtual CPU waited for the hypervisor (0 on bare
    metal)."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:9]]
    hz = os.sysconf("SC_CLK_TCK")
    return (t[0] + t[1] + t[2] + t[5] + t[6]) / hz, t[7] / hz


class Stopwatch:
    """Wall time of a stretch, and that time net of steal: wall time
    scaled by busy / (busy + stolen) CPU time over the stretch.  A
    CPU-bound stretch on any number of CPUs loses exactly its stolen
    time; with no steal ``net`` is the wall time."""

    def __init__(self):
        self.start = time.perf_counter()
        self.busy, self.stolen = cpu_seconds()

    def stop(self) -> tuple[float, float, float]:
        """(start, wall s, net s) of the stretch so far."""
        wall = time.perf_counter() - self.start
        busy, stolen = cpu_seconds()
        busy, stolen = busy - self.busy, stolen - self.stolen
        net = wall * busy / (busy + stolen) if busy + stolen > 0 else wall
        return self.start, wall, net


def _unit(a: np.ndarray) -> None:
    np.sort(a)
    h = b""
    for _ in range(20_000):
        h = hashlib.sha1(h).digest()
    d: dict[int, int] = {}
    for i in range(40_000):
        d[i % 1000] = d.get(i % 1000, 0) + i


class Sampler:
    """A forked process that times ``_unit`` every ``PERIOD_S`` seconds
    until ``stop``."""

    def __init__(self):
        self._r, w = os.pipe()
        self.pid = os.fork()
        if self.pid == 0:
            try:
                os.close(self._r)
                a = np.random.default_rng(0).random(300_000)
                while True:
                    start = time.process_time()
                    _unit(a)
                    os.write(w, _SAMPLE.pack(time.perf_counter(),
                                             time.process_time() - start))
                    time.sleep(PERIOD_S)
            finally:
                os._exit(0)
        os.close(w)

    def stop(self) -> list[tuple[float, float]]:
        """Stop the sampler and wait for it; its (end time, CPU s)
        samples."""
        os.kill(self.pid, signal.SIGKILL)
        os.waitpid(self.pid, 0)
        with os.fdopen(self._r, "rb") as f:
            data = f.read()
        data = data[:len(data) - len(data) % _SAMPLE.size]
        return list(_SAMPLE.iter_unpack(data))


def slowdown(samples: list[tuple[float, float]], start: float,
             wall: float) -> float:
    """Mean unit CPU time of the samples that ended within ``wall``
    seconds from ``start`` (of all samples if none did), over
    ``REFERENCE_S``."""
    inside = [c for t, c in samples if start <= t <= start + wall]
    cpu = inside or [c for _, c in samples] or [REFERENCE_S]
    return statistics.fmean(cpu) / REFERENCE_S
