"""Host context for each run: tenant-noise labels and process-tree RSS.

The labels are context only. They are printed with every run and never
used to drop or re-weight a run.
"""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _cpu_jiffies() -> tuple[int, int, int]:
    """(total, idle+iowait, steal) jiffies since boot, all cores."""
    vals = [int(x) for x in open("/proc/stat").readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals[:8]), vals[3] + vals[4], steal


def _busy(a: tuple[int, int, int], b: tuple[int, int, int]) -> tuple[float, float]:
    """(busy cores, steal share) between two /proc/stat samples."""
    dt = max(b[0] - a[0], 1)
    cores = os.cpu_count() or 1
    return ((dt - (b[1] - a[1])) / dt * cores, (b[2] - a[2]) / dt)


class HostLabels:
    """Busy cores and steal before the run (a 200 ms sample taken while
    the benchmark is idle, so it is other tenants' load) and averaged
    over the whole measured window (own work plus tenants)."""

    def __init__(self) -> None:
        a = _cpu_jiffies()
        time.sleep(0.2)
        b = _cpu_jiffies()
        self.busy_before, self.steal_before = _busy(a, b)
        self.load1_before = float(open("/proc/loadavg").read().split()[0])
        self._start = b

    def labels(self) -> dict:
        busy, steal = _busy(self._start, _cpu_jiffies())
        return {
            "load1_before": round(self.load1_before, 2),
            "busy_cores_before": round(self.busy_before, 2),
            "steal_before": round(self.steal_before, 4),
            "busy_cores_during": round(busy, 2),
            "steal_during": round(steal, 4),
            "cpu_count": os.cpu_count(),
        }


def _tree_rss(root: int) -> dict[tuple[int, int], int]:
    """(pid, start time) -> RSS bytes for ``root`` and its descendants."""
    children: dict[int, list[int]] = {}
    started: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        fields = stat[stat.rindex(")") + 2:].split()
        children.setdefault(int(fields[1]), []).append(int(name))
        started[int(name)] = int(fields[19])
    out: dict[tuple[int, int], int] = {}
    todo = [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as f:
                out[(pid, started.get(pid, 0))] = int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
        todo.extend(children.get(pid, ()))
    return out


def wait_for_exit(procs: set[tuple[int, int]], timeout: float = 60) -> None:
    """Wait until every (pid, start time) in ``procs`` has ended."""
    deadline = time.monotonic() + timeout
    for pid, started in procs:
        while time.monotonic() < deadline:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    stat = f.read()
            except OSError:
                break
            fields = stat[stat.rindex(")") + 2:].split()
            if int(fields[19]) != started or fields[0] == "Z":
                break
            time.sleep(0.05)
        else:
            raise TimeoutError(f"process {pid} still running")


def descendants() -> set[tuple[int, int]]:
    """(pid, start time) of every live descendant of this process."""
    me = os.getpid()
    return {key for key in _tree_rss(me) if key[0] != me}


class PeakRss:
    """Samples the summed RSS of this process and all its descendants
    (driver, JVM, Python daemon and workers) every ``interval`` s on a
    background thread while active.

    A process counts once it is seen in two consecutive samples. That
    leaves out short-lived spawn helpers: a child the JVM starts with
    vfork shares the JVM's address space until it execs, and its RSS
    reads as the JVM's whole heap."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._prev: dict[tuple[int, int], int] = {}

    def _sample(self) -> None:
        cur = _tree_rss(os.getpid())
        total = sum(rss for key, rss in cur.items() if key in self._prev)
        self.peak = max(self.peak, total)
        self._prev = cur

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        assert self._thread is not None
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2 ** 20
