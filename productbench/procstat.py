"""Process-tree CPU and resident memory, read from ``/proc``.

The benchmark's process tree is its own Python process, the JVM it launches and
the Python workers the JVM forks. CPU is summed over every live process in
the tree, including the CPU of children it has already reaped
(``cutime``/``cstime``), so a worker that exits mid-op still counts.
Resident memory is summed as PSS (``smaps_rollup``): the forked Python
workers share most of their pages with the process they were forked from,
and summing their RSS would count those pages once per worker.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses: split after the last ')'
    return raw.rsplit(")", 1)[1].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # the process exited between listing and reading
    return 0


def tree_cpu_s(root: int) -> float:
    """CPU seconds summed over the tree rooted at ``root``."""
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # fields[11:15] = utime, stime, cutime, cstime
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def tree_pss_bytes(root: int) -> int:
    """Resident bytes (PSS) summed over the tree rooted at ``root``."""
    return sum(_pss_bytes(pid) for pid in tree_pids(root))


class PeakRss:
    """Samples the tree's resident memory on a background thread while armed.

    ``with sampler.armed(): ...`` records the peak over that block;
    ``peak_bytes`` is the maximum over every armed block so far.
    """

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root = root
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._lock = threading.Lock()
        self._armed = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        rss = tree_pss_bytes(self.root)
        with self._lock:
            self.peak_bytes = max(self.peak_bytes, rss)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._armed.wait(self.interval_s)
            if self._armed.is_set():
                self._sample()
                self._stop.wait(self.interval_s)

    @contextmanager
    def armed(self):
        self._armed.set()
        try:
            yield
        finally:
            self._armed.clear()
            # one last sample so a block shorter than the interval counts
            self._sample()

    def close(self) -> None:
        self._stop.set()
        self._armed.set()
        self._thread.join(timeout=5)
