"""CPU time and resident memory of this process and all its descendants.

Local-mode Spark runs in a JVM child plus a pool of Python worker
grandchildren, so the benchmark reads /proc for the whole tree rather
than its own rusage.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, cpu ticks incl. reaped children, rss pages) of every
    process that has not exited (zombies are left out)."""
    table = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                raw = f.read().decode("latin-1")
        except OSError:
            continue
        # comm may contain spaces and parens: split after the LAST ')'
        rest = raw.rsplit(")", 1)[1].split()
        if rest[0] == "Z":
            continue
        ticks = sum(int(v) for v in rest[11:15])  # utime stime cutime cstime
        table[int(entry)] = (int(rest[1]), ticks, int(rest[21]))
    return table


def _tree(table, root: int) -> set[int]:
    mine = {root}
    grew = True
    while grew:
        grew = False
        for pid, (ppid, _, _) in table.items():
            if ppid in mine and pid not in mine:
                mine.add(pid)
                grew = True
    return mine & table.keys()


def tree_cpu_s() -> float:
    """user+system CPU seconds used so far by the process tree. Children
    that already exited count through their parent's cutime/cstime."""
    table = _proc_table()
    return sum(table[p][1] for p in _tree(table, os.getpid())) / _CLK_TCK


def tree_rss_mb() -> float:
    table = _proc_table()
    return sum(table[p][2] for p in _tree(table, os.getpid())) * _PAGE / 2**20


def descendants() -> set[int]:
    return _tree(_proc_table(), os.getpid()) - {os.getpid()}


def _reap_children() -> None:
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def reap_descendants(timeout: float = 20.0) -> None:
    """Wait for every descendant to exit; SIGKILL what is left after
    ``timeout`` seconds and wait for that too."""
    deadline = time.monotonic() + timeout
    while descendants() and time.monotonic() < deadline:
        _reap_children()
        time.sleep(0.1)
    for pid in descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants():
        _reap_children()
        time.sleep(0.05)
    _reap_children()


class PeakRss:
    """Background sampler of the tree's summed RSS while active. Each
    sample reads /proc for the whole tree, so the interval is kept long
    enough that the sampler takes no noticeable share of a core."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self._peak = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self) -> "PeakRss":
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def take(self) -> float:
        """Peak MB since the previous take (or the start), then reset."""
        with self._lock:
            peak, self._peak = self._peak, 0.0
        return peak

    def _loop(self) -> None:
        while True:
            rss = tree_rss_mb()
            with self._lock:
                self._peak = max(self._peak, rss)
            if self._stop.wait(self.interval):
                return
