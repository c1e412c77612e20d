"""Summary statistics, the host canary and process memory."""

from __future__ import annotations

import math
import os
import statistics
import time

TAIL_LEVELS = (99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail(values: list[float]) -> dict:
    """The highest percentile in :data:`TAIL_LEVELS` with at least
    :data:`MIN_BEYOND` samples above it.  With fewer than
    ``2 * MIN_BEYOND`` samples no level qualifies; the p75 is reported
    then, flagged by ``beyond`` < ``MIN_BEYOND``."""
    n = len(values)
    for q in TAIL_LEVELS:
        v = percentile(values, q)
        beyond = sum(x > v for x in values)
        if beyond >= MIN_BEYOND:
            return {"level": q, "value": v, "beyond": beyond, "n": n}
    v = percentile(values, 75.0)
    return {"level": 75.0, "value": v, "beyond": sum(x > v for x in values), "n": n}


def summary(values: list[float]) -> dict:
    if not values:
        return {"n": 0}
    return {
        "n": len(values),
        "median": statistics.median(values),
        "tail": tail(values),
        "min": min(values),
        "max": max(values),
    }


def canary(spark, reps: int = 3) -> dict:
    """Engine-free host probe: a JVM ``range/hash/sum`` and a fixed numpy
    loop, best of ``reps``.  It runs no engine code, so a slow reading
    means a slow host, not a slow program."""
    import numpy as np

    jvm, py = [], []
    for _ in range(reps):
        t0 = time.perf_counter()
        spark.range(0, 4_000_000, 1, 4).selectExpr("sum(hash(id))").collect()
        jvm.append(time.perf_counter() - t0)
        rng = np.random.default_rng(0)
        a = rng.random((256, 256))
        t0 = time.perf_counter()
        for _ in range(40):
            a = np.tanh(a @ a.T / 256.0)
        py.append(time.perf_counter() - t0)
    return {"jvm_s": min(jvm), "numpy_s": min(py)}


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (``VmHWM``) of ``pids``, in MB."""
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def driver_pids(spark) -> list[int]:
    return [os.getpid(), jvm_pid(spark)]
