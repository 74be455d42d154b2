"""Host facts read from ``/proc``: core count, load, CPU steal share, and
the resident memory of Spark's Python worker processes."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_ticks() -> list[int]:
    """Aggregate CPU tick counters from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two readings."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])  # user..steal; guest time is already inside user
    return d[7] / total if total > 0 and len(d) > 7 else 0.0


def facts(before: list[int]) -> dict:
    return {"nproc": nproc(), "loadavg_1m": os.getloadavg()[0],
            "steal_share": steal_share(before, cpu_ticks())}


def _worker_rss_bytes() -> int:
    """Summed RSS of the Python worker processes (``pyspark.daemon`` and
    the workers it forks, which share its command line)."""
    total = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark.daemon" not in f.read():
                    continue
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:  # the process ended between listing and reading
            continue
    return total


class WorkerRss:
    """Samples the workers' summed RSS on a thread; ``peak_mb`` is the
    largest sample since ``start``."""

    INTERVAL_S = 0.05

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.wait(self.INTERVAL_S):
            self.peak = max(self.peak, _worker_rss_bytes())

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, _worker_rss_bytes())

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)
