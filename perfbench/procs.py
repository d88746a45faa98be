"""Process age, process-tree memory sampling and waiting for a
process tree to exit, from /proc.

``ru_maxrss`` of children misses PySpark's forked Python workers (they
are grandchildren of the JVM, reaped by the worker daemon), so the
peak is taken by summing the resident set of every live descendant of
this process at a fixed interval.
"""

from __future__ import annotations

import os
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICKS = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        raw = f.read()
    # the command name is parenthesised and may contain spaces
    return raw[raw.rindex(")") + 2 :].split()


def process_age_s() -> float:
    """Seconds since this process started.  Both the start tick and
    ``/proc/uptime`` count from boot, so no wall-clock offset (whose
    ``btime`` is truncated to whole seconds) enters the difference."""
    start_ticks = int(_stat_fields(os.getpid())[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / _TICKS


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(name))[1])
        except (OSError, ValueError, IndexError):
            continue  # exited while we looked
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    """Sum of resident bytes of ``root`` and all its live descendants."""
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass  # exited while we looked
    return total


def _alive(pid: int) -> bool:
    try:
        return _stat_fields(pid)[0] != "Z"
    except (OSError, IndexError):
        return False


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until none of ``pids`` runs; return those still running."""
    deadline = time.monotonic() + timeout_s
    left = [p for p in pids if _alive(p)]
    while left and time.monotonic() < deadline:
        time.sleep(0.1)
        left = [p for p in left if _alive(p)]
    return left


class PeakRss:
    """Background sampler of this process tree's summed RSS.

    The peak is the highest level held over two consecutive samples.
    When the JVM starts a program, the new process shares the JVM's
    address space until it replaces its image a few milliseconds later;
    a single sample in that moment counts the JVM's memory twice."""

    interval_s = 0.25

    def __init__(self):
        self.peak = 0
        self._last = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        now = tree_rss_bytes(os.getpid())
        self.peak = max(self.peak, min(self._last, now))
        self._last = now

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
