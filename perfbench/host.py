"""Host context around a run, read from /proc and the scheduler, never
from Spark: a per-core spin probe, the share of CPU time the hypervisor
stole, and the peak memory of this process tree (driver, JVM and Python
workers)."""

from __future__ import annotations

import multiprocessing as mp
import os
from multiprocessing import resource_tracker
import threading
import time

_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _spin(cpu: int, secs: float, conn) -> None:
    os.sched_setaffinity(0, {cpu})
    n, x = 0, 1.0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < secs:
        for _ in range(10_000):
            x = x * 1.0000001 + 0.1
        n += 10_000
    conn.send(n / (time.perf_counter() - t0))
    conn.close()


def spin_probe(secs: float = 0.3) -> dict:
    """Loop iterations per second on each core this process may run on
    (`os.sched_getaffinity(0)`), all cores at once.  Context for reading
    a run's timings on a host whose per-core speed drifts; not a metric."""
    ctx = mp.get_context("spawn")
    cpus = sorted(os.sched_getaffinity(0))
    pipes = [ctx.Pipe(duplex=False) for _ in cpus]
    procs = [ctx.Process(target=_spin, args=(c, secs, w)) for c, (_, w) in zip(cpus, pipes)]
    for p in procs:
        p.start()
    rates = sorted(r.recv() for r, _ in pipes)
    for p in procs:
        p.join(timeout=60)
    # spawning started a resource-tracker process; end it too
    resource_tracker._resource_tracker._stop()
    mean = sum(rates) / len(rates)
    return {
        "cores": cpus,
        "mean_rate": round(mean),
        "max_over_min": round(rates[-1] / rates[0], 3),
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(root: int) -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the whole host since boot, from
    /proc/stat; the difference of two readings gives a window's steal share."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def tree_rss_mb(root: int) -> float:
    """Summed resident set size of `root` and all its descendants."""
    total_kb = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total_kb += int(f.read().split()[1]) * _PAGE_KB
        except (OSError, IndexError, ValueError):
            continue
    return total_kb / 1024


class PeakRss:
    """Samples the tree's RSS every `interval` seconds on a daemon thread
    while active; `peak_mb` is the largest sample."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(root))
            self._stop.wait(self.interval)

    def __enter__(self) -> PeakRss:
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
