"""CPU time and resident memory of a process tree, read from ``/proc``.

The tree is the benchmark's own process, the Spark JVM it launches and the
Python workers the JVM forks, so ``cpu_s`` counts all three.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_SAMPLE_PERIOD_S = 0.1  # how often the RSS of the tree is summed
_RESCAN_EVERY = 5  # samples between rescans of /proc for new processes


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended while we looked
        return None
    # the command name may hold spaces: fields start after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """User + system time of each process and of its reaped children, so
    a worker that exits mid-run keeps its time in its parent's total."""
    ticks = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None:
            ticks += sum(int(v) for v in fields[11:15])
    return ticks / _TICK


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class TreeMonitor:
    """Samples the summed RSS of the tree in a background thread.

    ``start_interval`` / ``stop_interval`` bracket one timed run and give
    its CPU seconds and peak RSS.
    """

    def __init__(self, root: int):
        self.root = root
        self._lock = threading.Lock()
        self._peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._cpu0 = 0.0

    def __enter__(self) -> "TreeMonitor":
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)

    def _loop(self) -> None:
        pids, n = tree_pids(self.root), 0
        while not self._stop.wait(_SAMPLE_PERIOD_S):
            n += 1
            if n % _RESCAN_EVERY == 0:
                pids = tree_pids(self.root)
            rss = rss_bytes(pids)
            with self._lock:
                self._peak = max(self._peak, rss)

    def start_interval(self) -> None:
        pids = tree_pids(self.root)
        rss = rss_bytes(pids)
        with self._lock:
            self._peak = rss
        self._cpu0 = cpu_seconds(pids)

    def stop_interval(self) -> tuple[float, int]:
        """(CPU seconds, peak RSS bytes) since ``start_interval``."""
        pids = tree_pids(self.root)
        cpu = cpu_seconds(pids) - self._cpu0
        rss = rss_bytes(pids)
        with self._lock:
            peak = max(self._peak, rss)
        return cpu, peak
