#!/usr/bin/env python3
"""Host-window probe, logged beside every benchmark run as context.

A variant of tools/cpuprobe.py sized for one run: a short single-thread
LCG loop (best of 3) and the same loop on `nproc` processes at once.
On an uncontended host the parallel efficiency is about 1.0; a co-tenant
shows as efficiency well below it while single-thread speed stays flat.
This is context for reading a run, not a metric.

Run alone: python3 perfbench/hostprobe.py
"""
import json
import multiprocessing as mp
import os
import time

ITERS = 500_000


def lcg(iters):
    x = 0
    for _ in range(iters):
        x = (x * 1103515245 + 12345) & 0xFFFFFFFF
    return x


def _timed(fn, *args):
    t0 = time.perf_counter()
    fn(*args)
    return time.perf_counter() - t0


def probe(procs=None):
    procs = procs or os.cpu_count() or 1
    single = min(_timed(lcg, ITERS) for _ in range(3))
    with mp.Pool(procs) as pool:
        pool.map(lcg, [1000] * procs)  # start the workers before timing
        t0 = time.perf_counter()
        pool.map(lcg, [ITERS] * (2 * procs))
        parallel = time.perf_counter() - t0
    return {
        "procs": procs,
        "probe1_s": round(single, 4),
        "probe_n_s": round(parallel, 4),
        "parallel_efficiency": round(2 * single / parallel, 3),
        "loadavg": list(os.getloadavg()),
    }


if __name__ == "__main__":
    print(json.dumps(probe()))
