"""Host memory-bandwidth scaling calibration for the BENCH/BASELINE.md
protocol (its dated record is in BENCH/HISTORY.md): N INDEPENDENT Python
processes (no JVM, no Spark, no shared state) each sort+copy a 512 MB int64
array twice; the per-process wall time for this IDENTICAL work is flat while
the memory subsystem has headroom and inflates once the concurrent
bandwidth-heavy streams saturate it.

Why this matters for the N-vs-4N evidence: a real cluster scale-up from N to
4N executors multiplies memory buses along with cores; this single-socket
sandbox cannot. The calibration locates the host's contention-free envelope
so the two scaling legs can be chosen INSIDE it — otherwise the measurement
grades the socket, not the engine (same argument, and same A/B structure, as
the tmpfs-vs-single-disk shuffle decision).

Measured on this host 2026-08-18 (per-process seconds, 2 iterations each):
procs=1: 7.4   procs=2: 7.1   procs=4: 6.7   procs=8: 5.4   procs=16: 12.1
=> flat through 8 concurrent streams, 2.2x inflation at 16: the host's
memory subsystem serves ~8 bandwidth-heavy streams; a 16-thread leg measures
DRAM saturation (pure-hardware 4->16 "efficiency" for this loop ~= 0.55).

Usage: python scripts/host_bandwidth_calibration.py
"""

from __future__ import annotations

import multiprocessing as mp
import time

import numpy as np


def work(n_iter: int) -> float:
    rng = np.random.RandomState(1)
    a = rng.randint(0, 1 << 30, size=64_000_000).astype(np.int64)  # 512 MB
    t0 = time.time()
    for _ in range(n_iter):
        b = np.sort(a)  # allocation + bandwidth heavy, cache-unfriendly
        c = b.copy()
        c[0] = 1
    return time.time() - t0


def main() -> None:
    for n in (1, 2, 4, 8, 16):
        if n == 1:
            res = [work(2)]
            wall = res[0]
        else:
            with mp.Pool(n) as p:
                t0 = time.time()
                res = p.map(work, [2] * n)
                wall = time.time() - t0
        print(
            f"procs={n} wall={wall:.1f}s per_proc_avg={sum(res) / len(res):.1f}s",
            flush=True,
        )


if __name__ == "__main__":
    main()
