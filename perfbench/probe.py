"""Machine-speed probe: the CPU time a fixed memory-bound job takes on
this machine right now.

On a shared VM the CPU time of the same work moves with what the host's
other tenants do: on a 4-vCPU VM the CPU time of an ``ingest_cycle``
pass doubled from one run to the next when the host turned slow, and
every part of it (JIT threads, executor threads, Python workers, the
Python driver) grew by about the same factor. A single-threaded pure
ALU loop did not slow at all. This job, run in as many processes at
once as the engine has cores, did: each process fills two 16 MB arrays
with random numbers and gathers one through the other ``GATHERS``
times. ``perfbench/README.md`` ("Calibration") gives how well it tracks
the workloads and how much noise it adds.

The probe uses only NumPy, never the engine, so no change to the engine
can move it. Run as a script with a process count, it prints the CPU
seconds of each of its processes:

    python3 perfbench/probe.py 4
"""

from __future__ import annotations

import json
import multiprocessing as mp
import statistics
import subprocess
import sys
import time
from pathlib import Path

import numpy as np

# about the probe's CPU seconds per process on a 4-vCPU VM: cpu_cal_s is
# CPU time scaled to the machine speed at which the probe takes this
PROBE_REF_S = 0.8
ARRAY_ITEMS = 2_000_000  # int64: 16 MB
GATHERS = 40
WAKE_S = 0.3


def _gather(seed: int) -> float:
    # untimed: a core that sat idle runs slow for a while after it wakes,
    # which would measure the wake-up instead of the machine
    spin = np.arange(ARRAY_ITEMS)
    end = time.perf_counter() + WAKE_S
    while time.perf_counter() < end:
        np.take(spin, spin[::-1], out=spin)
    t = time.thread_time()
    rng = np.random.default_rng(seed)
    values = rng.integers(0, 1 << 30, ARRAY_ITEMS)
    idx = rng.integers(0, ARRAY_ITEMS, ARRAY_ITEMS)
    out = np.empty_like(values)
    for _ in range(GATHERS):
        np.take(values, idx, out=out)
    return time.thread_time() - t


def probe_s(procs: int) -> float:
    """Mean CPU seconds of the probe over ``procs`` parallel processes,
    run from a fresh process so that nothing of the caller's (its
    threads, its heap) is forked or disturbed."""
    res = subprocess.run([sys.executable, str(Path(__file__).resolve()), str(procs)],
                         stdout=subprocess.PIPE, text=True, timeout=60, check=True)
    return statistics.mean(json.loads(res.stdout.strip().splitlines()[-1]))


if __name__ == "__main__":
    n = int(sys.argv[1])
    with mp.get_context("fork").Pool(n) as pool:
        print(json.dumps(pool.map(_gather, range(n))))
