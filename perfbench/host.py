"""Host-health stamp taken before and after every run.

The host is shared: other tenants can saturate the memory bus or the
cores while a run measures.  Two one-core probes, a cache-resident one
and a DRAM-streaming one, are taken before and after the run; a run
whose probes disagree by more than ``CONTENDED_RATIO`` is flagged as
contended.  Flagged runs are reported, never dropped.
"""

from __future__ import annotations

import os
import time

import numpy as np

CONTENDED_RATIO = 0.6
_MIX = np.uint64(0x9E3779B97F4A7C15)


def cores() -> int:
    """CPUs this process may run on (``nproc`` without OMP overrides)."""
    return len(os.sched_getaffinity(0))


def probe() -> dict:
    """Millions of 64-bit multiplies per second, in cache and from DRAM.

    The DRAM figure is the best of three passes: the question is the
    bandwidth available to this process, so one transient dip must not
    read as contention; a saturated bus is slow in every pass."""
    x = np.arange(1 << 17, dtype=np.uint64)
    y = np.empty_like(x)
    reps = 200
    t0 = time.perf_counter()
    for _ in range(reps):
        np.multiply(x, _MIX, out=y)
    cache = reps * len(x) / (time.perf_counter() - t0) / 1e6
    x = np.arange(1 << 24, dtype=np.uint64)
    y = np.empty_like(x)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        np.multiply(x, _MIX, out=y)
        best = min(best, time.perf_counter() - t0)
    return {"cache_melems": cache, "dram_melems": len(x) / best / 1e6}


def contended(pre: dict, post: dict) -> bool:
    """True when either probe moved by more than the allowed ratio."""
    for key in ("cache_melems", "dram_melems"):
        lo, hi = sorted((pre[key], post[key]))
        if lo < CONTENDED_RATIO * hi:
            return True
    return False
