"""Host diagnostics recorded next to every run (never used to adjust one).

``/proc/stat`` busy and steal shares over the timed phase, a fixed
calibration loop timed just before it, and peak resident memory of the
driver Python process plus the Spark JVM.  They explain spread between
runs; the benchmark reports them and changes nothing because of them.
"""

from __future__ import annotations

import statistics
import time


def cpu_times() -> list:
    """Aggregate jiffies from the first line of /proc/stat, or [] when the
    file is missing (non-Linux hosts)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


def cpu_shares(before: list, after: list) -> dict:
    """Busy and steal percentages between two cpu_times() samples."""
    if not before or not after:
        return {"busy_pct": -1.0, "steal_pct": -1.0}
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8]) or 1
    idle = d[3] + d[4]  # idle + iowait
    steal = d[7] if len(d) > 7 else 0
    return {"busy_pct": 100.0 * (total - idle - steal) / total,
            "steal_pct": 100.0 * steal / total}


def calibrate(reps: int = 5, n: int = 200_000) -> float:
    """Median wall time in ms of a fixed pure-Python loop."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(n):
            acc += i * i
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


def peak_rss_mb(pids) -> float:
    """Sum of VmHWM (peak resident set) over the given pids, in MB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0

