"""Shared admission gate for perf measurement (bench.py and
tools/scaling.py).

The sandbox host is shared and contention arrives in >40% bursts, so any
wall-clock number taken without a health check is weather, not evidence.
The probe is a 1200x1200 BLAS matmul. bench.py and tools/scaling.py call
it from their drivers, which load numpy before any BLAS pinning and so run
it multithreaded: a busy core anywhere on the box slows it. Its idle
reading moves several-fold between sessions on the same code, so no
absolute bound holds: `quiet_ms()` calibrates it inside each run, and an
attempt is admitted when the probes taken BEFORE and AFTER it both stay
within GATE_RATIO of that quiet median — a burst that starts mid-run is
caught by the post probe.
"""

from __future__ import annotations

import statistics
import subprocess
import time

# on a 4-core host, idle probes read up to ~1.25x their median, one busy
# core outside the run lifts them to ~1.2-1.8x and four to ~1.9-2.5x
GATE_RATIO = 1.5


def probe_ms() -> float:
    """Best-of-5 1200x1200 matmul wall time in ms. The quiet reading depends
    on the host and on the caller's BLAS threading; quiet_ms() measures it."""
    import numpy as np

    a = np.random.default_rng(0).random((1200, 1200))
    for _ in range(2):
        a @ a
    best = 1e9
    for _ in range(5):
        t0 = time.perf_counter()
        a @ a
        best = min(best, time.perf_counter() - t0)
    return best * 1000


def quiet_ms() -> float:
    """The run's own calibration: median of 5 probes, taken in the process
    (and under the BLAS pinning) that will probe every attempt."""
    return statistics.median(probe_ms() for _ in range(5))


def admitted(pre: float, post: float, quiet: float) -> bool:
    """An attempt is clean when both bracketing probes stay within
    GATE_RATIO of the run's quiet median."""
    return max(pre, post) <= GATE_RATIO * quiet


def commit_hash() -> str | None:
    """Short commit hash of HEAD — stamps every measurement row so results
    are attributable to the binaries that produced them."""
    try:
        return subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, check=True, timeout=10,
        ).stdout.strip()
    except Exception:  # noqa: BLE001 — not a repo / no git: unstamped
        return None
