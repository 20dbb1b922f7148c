"""Process-tree helpers read from /proc: summed CPU time and RSS of this
process and its descendants, and waiting for every process the run
started to end."""

from __future__ import annotations

import os
import signal
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")
_HZ = os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(comm, fields after comm) of a /proc stat file; None once ended."""
    try:
        with open(path) as fh:
            head, tail = fh.read().rsplit(")", 1)
    except OSError:
        return None
    return head.split("(", 1)[1], tail.split()


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        st = _stat(f"/proc/{d}/stat") if d.isdigit() else None
        if st is not None:
            children.setdefault(int(st[1][1]), []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(pid: int) -> tuple[float, float]:
    """(CPU seconds of the process tree, the part spent by JIT compiler
    threads): user + system, reaped children included.  Time the host
    steals from this machine is not in it."""
    ticks = jit = 0
    for p in [pid] + descendants(pid):
        st = _stat(f"/proc/{p}/stat")
        if st is None:
            continue
        ticks += sum(int(v) for v in st[1][11:15])  # utime stime cutime cstime
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tids:
            ts = _stat(f"/proc/{p}/task/{t}/stat")
            if ts is not None and "CompilerThre" in ts[0]:
                jit += int(ts[1][11]) + int(ts[1][12])
    return ticks / _HZ, jit / _HZ


def tree_rss(pid: int) -> int:
    total = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class PeakRss:
    """Background sampler of the peak summed RSS of this process tree:
    the Python driver, the JVM and the JVM's Python workers."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss(me))
            self._stop.wait(self.interval)

    def reset(self) -> None:
        self.peak = tree_rss(os.getpid())

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def _running(pid: int) -> bool:
    st = _stat(f"/proc/{pid}/stat")
    return st is not None and st[1][0] != "Z"  # a zombie has ended


def wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until every pid has exited; SIGKILL what is left at the end."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if not any(_running(p) for p in pids):
            return
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
