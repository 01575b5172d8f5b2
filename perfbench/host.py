"""Host readings: load, CPU steal, process-tree CPU and memory, and the
1-core segmentation canary.  A slow run with a slow canary or high steal
points at the host, not the code."""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
RSS_INTERVAL_S = 0.5
CANARY_DOCS = 300
CANARY_REPS = 3


def loadavg() -> list:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_times() -> list:
    """The aggregate ``cpu`` line of /proc/stat, in ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list, after: list) -> float:
    """Share of all CPU ticks between two ``cpu_times`` readings that the
    hypervisor gave to other guests (field 8 of the cpu line)."""
    d = [a - b for a, b in zip(after, before)]
    total = sum(d[:8])
    return d[7] / total if total > 0 else 0.0


def _tree(root: int) -> dict:
    """pid -> (cpu ticks, rss pages) for ``root`` and every live
    descendant (the JVM and its Python workers)."""
    parent, stats = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                parts = f.read().rsplit(") ", 1)[1].split()
        except (OSError, IndexError):
            continue
        pid = int(name)
        parent[pid] = int(parts[1])
        # utime+stime, plus cutime+cstime of reaped children (Python
        # workers that already exited), and rss
        stats[pid] = (sum(int(x) for x in parts[11:15]), int(parts[21]))
    out = {}
    for pid, st in stats.items():
        p = pid
        for _ in range(64):
            if p == root:
                out[pid] = st
                break
            p = parent.get(p, 0)
            if p <= 1:
                break
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process tree (live processes)."""
    return sum(c for c, _ in _tree(os.getpid()).values()) / _TICK


class RssSampler:
    """Samples the process tree's resident memory in a background thread
    and keeps the peak of each lap (one lap per timed pass)."""

    def __init__(self):
        self.peak_mb = 0.0
        #: peak of every finished lap, MB
        self.laps: list = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        rss = sum(r for _, r in _tree(os.getpid()).values()) * _PAGE
        self.peak_mb = max(self.peak_mb, rss / 2**20)

    def lap(self) -> None:
        self._sample()
        self.laps.append(self.peak_mb)
        self.peak_mb = 0.0

    def _run(self) -> None:
        while not self._stop.wait(RSS_INTERVAL_S):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def segment_canary() -> float:
    """Median single-core docs/s of ``parse_page_arrays`` over a fixed
    synthetic corpus (no Spark, no threads)."""
    import random

    from layout_parser_spark.plans.segment import parse_page_arrays
    from layout_parser_spark.sources.pages import render_page_html

    rng = random.Random(7)
    words = "the quick brown fox jumps over lazy dog spark arrow batch".split()
    docs = [
        render_page_html(i, " ".join(rng.choices(words, k=rng.randint(80, 400))))
        for i in range(CANARY_DOCS)
    ]
    for d in docs:
        parse_page_arrays(d)
    rates = []
    for _ in range(CANARY_REPS):
        t0 = time.perf_counter()
        for d in docs:
            parse_page_arrays(d)
        rates.append(CANARY_DOCS / (time.perf_counter() - t0))
    return sorted(rates)[CANARY_REPS // 2]
