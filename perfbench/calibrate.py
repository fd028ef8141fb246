"""Machine-speed calibration: a fixed CPU and memory task on every core.

On a shared 4-vCPU cloud VM the load of other tenants drifts over
minutes: consecutive runs of unchanged code measured up to 1.8x apart,
with every wall-time metric (set-up, query, get) moving together. The
benchmark therefore times this fixed task in the same run, on all cores
at once like the Spark session, just before the measured phase, after
each measured op and just after the phase, and scales its wall times
and rates by the median round to the speed the host had when
``REFERENCE_S`` was taken. Under two competing
busy processes the scaled query p50 moved 10% where the raw one moved
40%. Contention for shared cores and caches also inflates CPU time, so
each task reports the CPU seconds it took as well, and CPU-time metrics
are scaled by a power of the median task's over ``REFERENCE_CPU_S``.
"""

from __future__ import annotations

import hashlib
import multiprocessing
import time

import numpy as np

from .stats import median

# the reference speed scaled metrics are given at: the wall time of one
# round, and the CPU time of one task (a shared 4-vCPU cloud VM measured
# 0.11-0.23 s for each, from quiet to busy hours)
REFERENCE_S = 0.15
REFERENCE_CPU_S = 0.15
ROUNDS = 2
# The program's CPU time per op grew about as the square of the task's
# between quiet and busy hours of a shared 4-vCPU cloud VM
# (ingest_stream: 1.71x against 1.39x; serve_mixed: 1.39x against 1.18x):
# its JVM work is more exposed to shared cores and caches than this task.
CPU_EXPONENT = 2


def _task(seed: int) -> float:
    """Fixed work: hashing (compute) and sorting (memory), ~0.15 s.
    Returns the CPU seconds it took."""
    c0 = time.process_time()
    rng = np.random.default_rng(seed)
    block = rng.bytes(1 << 16)
    h = hashlib.sha256()
    for _ in range(1100):
        h.update(block)
    a = rng.random(1 << 20)
    for _ in range(5):
        np.sort(a)
    h.digest()
    return time.process_time() - c0


class Calibrator:
    """``procs`` worker processes, started once before the Spark session
    and idle between samples. They are forked, not spawned: a spawn pool
    starts multiprocessing's resource tracker, a process that outlives
    the benchmark by design."""

    def __init__(self, procs: int):
        self.procs = procs
        self.rounds: list = []
        self.cpu_rounds: list = []  # mean CPU seconds of one task, per round
        self._pool = multiprocessing.get_context("fork").Pool(procs)
        self._pool.map(_task, range(procs))  # start-up, not timed

    def sample(self, rounds: int = ROUNDS) -> None:
        """Time ``rounds`` rounds; a round is every worker running
        ``_task`` once."""
        for _ in range(rounds):
            r = len(self.rounds) + 1
            t0 = time.perf_counter()
            cpu = self._pool.map(_task, range(r * self.procs, (r + 1) * self.procs))
            self.rounds.append(time.perf_counter() - t0)
            self.cpu_rounds.append(sum(cpu) / len(cpu))

    def slowdown(self) -> float:
        """How many times slower than the reference the host ran: the
        median round over ``REFERENCE_S``."""
        return median(self.rounds) / REFERENCE_S

    def cpu_slowdown(self) -> float:
        """How many times more CPU time than at the reference an op is
        expected to take: the median round's mean task CPU time over
        ``REFERENCE_CPU_S``, to the power ``CPU_EXPONENT``."""
        return (median(self.cpu_rounds) / REFERENCE_CPU_S) ** CPU_EXPONENT

    def close(self) -> None:
        self._pool.close()
        self._pool.join()
