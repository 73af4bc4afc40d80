"""Same-window host reference: a fixed single-threaded GEMM workload,
timed on one worker and on a pool of ``nproc`` workers.

The workload never changes, so dividing a run's walls by this window's
reference separates a code change from a busy host.  It is context for a
result, not a metric.  Run as a script; prints one JSON line.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import time

import numpy as np


def work(seed: int) -> float:
    rng = np.random.default_rng(seed)
    a = rng.standard_normal((256, 256)).astype(np.float32)
    b = rng.standard_normal((256, 256)).astype(np.float32)
    s = 0.0
    for _ in range(60):
        s += float((a @ b).sum())
        a += 1e-6
    return s


def main() -> None:
    n = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    work(0)
    t1 = time.perf_counter() - t0
    with multiprocessing.get_context("spawn").Pool(n) as pool:
        pool.map(work, range(n))  # warm-up
        t0 = time.perf_counter()
        pool.map(work, range(n))
        tn = time.perf_counter() - t0
    print(json.dumps({"gemm_1w_s": round(t1, 4), "gemm_nw_s": round(tn, 4), "workers": n}))


if __name__ == "__main__":
    main()
