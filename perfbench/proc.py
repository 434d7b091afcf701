"""Process-tree CPU and resident memory, read from /proc (Linux), and
the clean-up that makes sure no process started by a run outlives it."""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants."""
    kids = _children()
    out, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def cpu_s(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])  # utime, stime
    return total / _TICK


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm", encoding="ascii") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class PeakRss:
    """Samples the tree's total RSS every ``period`` seconds while active."""

    def __init__(self, period: float = 0.25):
        self.period, self.peak = period, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_bytes(tree()))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False


def become_subreaper() -> bool:
    """Make orphaned descendants (Python workers left by the JVM, the
    multiprocessing resource tracker) re-parent to this process, so
    :func:`reap` can see them and wait for them."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        return libc.prctl(36, 1, 0, 0, 0) == 0  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        return False


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return ""


def _reap_children() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def reap(pids: list[int] | None = None, timeout: float = 20.0) -> list[int]:
    """Wait until every process in ``pids`` (default: every descendant of
    this one) has ended, reaping those that are this process's children.
    Past ``timeout`` the survivors get SIGTERM, then SIGKILL.  Returns the
    pids that had to be signalled."""
    me = os.getpid()
    deadline, signalled, sig = time.time() + timeout, [], signal.SIGTERM
    while True:
        _reap_children()
        todo = tree()[1:] if pids is None else pids
        live = [p for p in todo if p != me and _state(p) not in ("", "Z", "X")]
        if not live:
            _reap_children()
            return signalled
        if time.time() >= deadline:
            for p in live:
                try:
                    os.kill(p, sig)
                except OSError:
                    pass
            signalled += [p for p in live if p not in signalled]
            deadline, sig = time.time() + 5, signal.SIGKILL
        time.sleep(0.05)
