"""Sample summaries, and the environment record printed with each
run."""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time


class Samples:
    """Thread-safe sample list with order-statistic summaries."""

    def __init__(self) -> None:
        self._v: list[float] = []
        self._lock = threading.Lock()

    def add(self, x: float) -> None:
        with self._lock:
            self._v.append(float(x))

    def values(self) -> list[float]:
        with self._lock:
            return list(self._v)

    def __len__(self) -> int:
        return len(self._v)

    def quantile(self, q: float) -> float:
        """Nearest-rank quantile: the smallest sample with at least
        ``q`` of the samples at or below it."""
        v = sorted(self.values())
        if not v:
            return float("nan")
        k = max(0, min(len(v) - 1, int(-(-q * len(v) // 1)) - 1))
        return v[k]


def cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate line of /proc/stat."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()[1:]
    except OSError:
        return 0, 0
    vals = [int(x) for x in parts]
    return sum(vals), vals[7] if len(vals) > 7 else 0


def loadavg() -> float:
    try:
        return os.getloadavg()[0]
    except OSError:
        return -1.0


def _git_head(root: str) -> str:
    """The checked-out commit, or "unknown" outside a git checkout."""
    if not os.path.isdir(os.path.join(root, ".git")):
        return "unknown"
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=30,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() or "unknown"


def environment(root: str, java: str) -> dict:
    """What the run ran on; printed, never used as a metric."""
    import duckdb
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "java": java,
        "commit": _git_head(root),
        "time": time.strftime("%Y-%m-%dT%H:%M:%S"),
    }


class EnvWatch:
    """Load average and CPU steal share over the run."""

    def __init__(self) -> None:
        self.load_before = loadavg()
        self._cpu0 = cpu_times()

    def finish(self) -> dict:
        total, steal = cpu_times()
        dt = total - self._cpu0[0]
        return {
            "loadavg_before": self.load_before,
            "loadavg_after": loadavg(),
            "cpu_steal_share": (steal - self._cpu0[1]) / dt if dt else 0.0,
        }
