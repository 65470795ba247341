"""Order statistics and process-tree memory sampling for the benchmark."""

from __future__ import annotations

import math
import os
import statistics
import threading


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def nearest_rank(values: list[float], p: float) -> float:
    """Nearest-rank ``p``-th percentile: the smallest sample with at
    least p% of the samples at or below it."""
    if not values:
        return 0.0
    ordered = sorted(values)
    return ordered[max(1, math.ceil(p / 100 * len(ordered))) - 1]


def tail_percentile(values: list[float], min_beyond: int = 10
                    ) -> tuple[int, float] | None:
    """The highest of the percentiles 50, 75, 90, 95, 99 that still has
    at least ``min_beyond`` samples above it, as (percentile, value);
    None when even the median has fewer samples beyond it.

    The value is the nearest-rank percentile: the smallest sample with
    at least p% of the samples at or below it."""
    n = len(values)
    ordered = sorted(values)
    best = None
    for p in (50, 75, 90, 95, 99):
        rank = max(1, math.ceil(p / 100 * n))
        if n - rank >= min_beyond:
            best = (p, ordered[rank - 1])
    return best


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, stack = [], [pid]
    while stack:
        for c in kids.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def tree_rss_bytes(pid: int) -> int:
    total = 0
    page = os.sysconf("SC_PAGE_SIZE")
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class TreeRSS:
    """Samples the resident memory of this process and all of its
    descendants (the driver JVM and its Python workers) on a background
    thread, every ``interval_s``."""

    def __init__(self, interval_s: float = 0.5):
        self._interval = interval_s
        self._stop = threading.Event()
        self._samples: list[int] = []
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self._samples.append(tree_rss_bytes(pid))
            self._stop.wait(self._interval)

    def reset(self) -> None:
        """Drop the samples so far (set-up is not counted)."""
        self._samples = []

    def start(self) -> "TreeRSS":
        self._thread.start()
        return self

    def stop(self) -> dict:
        """Median and peak of the samples, in MB."""
        self._stop.set()
        self._thread.join(timeout=5)
        mb = [b / 2**20 for b in self._samples] or [
            tree_rss_bytes(os.getpid()) / 2**20]
        return {"median_mb": median(mb), "peak_mb": max(mb),
                "samples": len(mb)}
