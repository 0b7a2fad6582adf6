"""Summary statistics and process measurements shared by the workloads."""

from __future__ import annotations

import os
import statistics


def p50(samples: list[float]) -> float:
    if not samples:
        raise ValueError("p50 of no samples")
    return statistics.median(samples)


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest nearest-rank percentile with at least ten samples above it.

    Returns ``(value, percentile, n)``. Rank ``n - 10`` (1-based) is the
    highest rank that leaves ten samples beyond it, i.e. percentile
    ``100 * (n - 10) / n``. With ten samples or fewer no percentile has ten
    beyond it; the maximum is returned and recorded as percentile 100.
    """
    if not samples:
        raise ValueError("tail of no samples")
    xs = sorted(samples)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_count() -> int:
    """Cores this process may run on (what ``nproc`` prints without
    ``OMP_NUM_THREADS``)."""
    return len(os.sched_getaffinity(0))
