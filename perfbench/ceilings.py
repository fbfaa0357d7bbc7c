"""Same-run host ceilings: how well 1 -> N processes scale on the host.

Two controls, each timed over a fixed wall interval in 1 process and
then in N concurrent processes:

* cpu: a scalar sin loop (no memory traffic);
* bw:  numpy copies of a 64 MiB buffer (DRAM bandwidth).

Efficiency = N-process aggregate rate / (N x 1-process rate). A scaling
efficiency is bounded by these ceilings on the same host and run.
"""

from __future__ import annotations

import math
import multiprocessing as mp
import time


def _cpu_burst(seconds: float) -> float:
    n, x, end = 0, 0.0, time.perf_counter() + seconds
    while time.perf_counter() < end:
        for i in range(2000):
            x += math.sin(i)
        n += 2000
    return n / seconds


def _bw_burst(seconds: float) -> float:
    import numpy as np

    src = np.ones(8 << 20)  # 64 MiB
    dst = np.empty_like(src)
    n, end = 0, time.perf_counter() + seconds
    while time.perf_counter() < end:
        np.copyto(dst, src)
        n += 2 * src.nbytes
    return n / seconds


def _rate(fn, procs: int, seconds: float) -> float:
    ctx = mp.get_context("spawn")
    with ctx.Pool(procs) as pool:
        return sum(pool.map(fn, [seconds] * procs))


def measure(procs: int, seconds: float = 1.0) -> dict:
    out = {}
    for name, fn in (("cpu", _cpu_burst), ("bw", _bw_burst)):
        one = _rate(fn, 1, seconds)
        many = _rate(fn, procs, seconds)
        out[f"{name}_eff"] = many / (procs * one)
    return out
