"""Memory-bandwidth ceiling probe (Spark-free).

The e2e work-inflation question (jobs/profile_inflation_result.jsonl) needs a
hardware baseline: if this box's aggregate DRAM bandwidth stops scaling
between 4 and 16 concurrent streams, then CPU-seconds of any
memory-bound stage inflate at 16 cores REGARDLESS of the engine — the
cores spend the extra time stalled on DRAM, and /proc/stat bills stall
cycles as busy. That is a single-box artifact: 4 separate 4-core
executors each own their own memory controllers, so an N->4N scale-out
on a real cluster does not pay it.

Each worker process pins itself to one CPU and copies a 256 MB numpy
array repeatedly for ~3 s; aggregate GB/s is summed across workers.

Usage: python jobs/membw_probe.py  -> one JSON line.
"""
from __future__ import annotations

import json
import multiprocessing as mp
import os
import time

ARR_MB = 256
SECONDS = 3.0


def worker(cpu: int, q) -> None:
    os.sched_setaffinity(0, {cpu})
    import numpy as np
    a = np.ones(ARR_MB * 1024 * 1024 // 8, dtype=np.float64)
    b = np.empty_like(a)
    t0 = time.time()
    n = 0
    while time.time() - t0 < SECONDS:
        np.copyto(b, a)
        n += 1
    dt = time.time() - t0
    # read + write per copy
    q.put(2 * n * ARR_MB / 1024.0 / dt)


def run(n_workers: int) -> float:
    q = mp.Queue()
    procs = [mp.Process(target=worker, args=(i, q)) for i in range(n_workers)]
    for p in procs:
        p.start()
    total = sum(q.get() for _ in procs)
    for p in procs:
        p.join()
    return round(total, 1)


if __name__ == "__main__":
    out = {}
    for n in (1, 4, 16):
        out[f"gbps_{n}w"] = run(n)
    out["scaling_4_to_16"] = round(out["gbps_16w"] / out["gbps_4w"] / 4.0, 3)
    print(json.dumps(out))
