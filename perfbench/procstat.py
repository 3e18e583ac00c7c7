"""CPU time and resident memory of the benchmark's process set, read
from ``/proc``: the driver Python process, the Spark JVM and every
descendant of the JVM (the Python workers).

CPU of a worker that exits inside a window is not lost: its parent
reaps it, which moves its time into the parent's ``cutime``/``cstime``.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_SAMPLE_S = 0.1


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (field 3 on)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process exited
        return None
    return raw[raw.rindex(")") + 2:].split()


def alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().startswith("python")
    except OSError:
        return False


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


class ProcessSet:
    """Accumulates CPU seconds and the peak summed RSS over the windows
    between :meth:`begin` and :meth:`end`."""

    def __init__(self, jvm_pid: int):
        self.driver = os.getpid()
        self.jvm = jvm_pid
        self.cpu_s = 0.0
        self.peak_rss_mb = 0.0
        self._cpu0 = 0.0
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()

    def _pids(self) -> list[int]:
        return [self.driver, self.jvm] + descendants(self.jvm)

    def _cpu(self) -> float:
        ticks = 0
        for pid in self._pids():
            st = _stat(pid)
            if st is None:
                continue
            # fields 14-17: utime stime cutime cstime. The driver's
            # children are the JVM launcher, counted through the JVM.
            ticks += sum(int(x) for x in st[11:13 if pid == self.driver else 15])
        return ticks / _TICK

    def _rss_mb(self) -> float:
        """Summed RSS of the driver, the JVM and the Python processes
        under it. A child the JVM is spawning shares its address space
        until it execs, so only Python descendants count."""
        pages = 0
        for pid in [self.driver, self.jvm] + [p for p in descendants(self.jvm) if _is_python(p)]:
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    pages += int(fh.read().split()[1])
            except OSError:
                continue
        return pages * _PAGE / 2**20

    def _sample(self) -> None:
        while not self._stop.is_set():
            if self._active.wait(0.5):
                self.peak_rss_mb = max(self.peak_rss_mb, self._rss_mb())
                time.sleep(_SAMPLE_S)

    def begin(self) -> None:
        self._cpu0 = self._cpu()
        self._active.set()

    def end(self) -> None:
        self._active.clear()
        self.peak_rss_mb = max(self.peak_rss_mb, self._rss_mb())
        self.cpu_s += self._cpu() - self._cpu0

    def close(self) -> None:
        self._stop.set()
        self._active.set()
        self._thread.join(timeout=5)
