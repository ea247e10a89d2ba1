"""CPU time and resident memory of this process and everything it started
(the Spark JVM and its Python workers), read from /proc."""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read(pid: int) -> tuple[str, list[str]] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended while we looked
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.index("(") + 1:raw.rindex(")")], raw[raw.rindex(")") + 2:].split()


def _stat(pid: int) -> list[str] | None:
    r = _read(pid)
    return None if r is None else r[1]


def tree() -> dict[int, list[str]]:
    """{pid: stat fields} of this process and all its live descendants.
    Field i here is field i+3 of proc(5): [1] ppid, [11:15] utime, stime,
    cutime, cstime, [19] starttime, [21] rss pages.

    Of the JVM's children only the Python workers' daemon is kept. The
    others are short-lived commands, and one caught between fork and exec
    still shows the whole JVM as resident, so a sample would count the JVM
    twice."""
    stats, comm = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            r = _read(int(name))
            if r is not None and r[1][0] != "Z":
                comm[int(name)], stats[int(name)] = r
    stats = {
        pid: st for pid, st in stats.items()
        if comm.get(int(st[1])) != "java" or comm[pid].startswith("python")
    }
    root = os.getpid()
    children: dict[int, list[int]] = {}
    for pid, st in stats.items():
        children.setdefault(int(st[1]), []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def cpu_seconds() -> float:
    """User+system CPU of the tree, including reaped children's time, so
    a worker that exits between two readings is still counted."""
    return sum(sum(int(x) for x in st[11:15]) for st in tree().values()) / _TICK


def rss_bytes() -> int:
    return sum(int(st[21]) for st in tree().values()) * _PAGE


class PeakRss:
    """Samples the tree's summed RSS on a thread while enabled."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak = 0
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._on.wait(0.2):
                self.peak = max(self.peak, rss_bytes())
                time.sleep(self.interval)

    def __enter__(self) -> "PeakRss":
        self._on.set()
        return self

    def __exit__(self, *exc) -> None:
        self._on.clear()
        self.peak = max(self.peak, rss_bytes())

    def close(self) -> None:
        self._stop.set()
        self._on.set()
        self._thread.join(timeout=5)


def identities(pids) -> set[tuple[int, str]]:
    """(pid, start time) pairs, so a later check cannot mistake a reused
    pid for one of ours."""
    out = set()
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            out.add((pid, st[19]))
    return out


def alive(ids: set[tuple[int, str]]) -> set[tuple[int, str]]:
    out = set()
    for pid, start in ids:
        st = _stat(pid)
        if st is not None and st[19] == start and st[0] != "Z":
            out.add((pid, start))
    return out
