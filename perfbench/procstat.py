"""CPU time and resident memory of this process and all its descendants.

In local mode the tree is the Python driver, the JVM it launched, and the
PySpark daemon with its forked workers, so the tree's CPU seconds are the
job's own consumption whatever else runs on the host.
"""

from __future__ import annotations

import os
import signal
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20


def _snapshot() -> dict[int, tuple[int, float, float, int]]:
    """pid -> (ppid, cpu seconds incl. reaped children, rss MB, start time
    in clock ticks)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue                      # exited while listing
        # fields[0] is stat field 3 (state); utime..cstime are 14..17
        cpu = sum(int(x) for x in fields[11:15]) / _CLK
        out[int(name)] = (int(fields[1]), cpu, int(fields[21]) * _PAGE_MB,
                          int(fields[19]))
    return out


def _tree(procs: dict, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out.append(pid)
            todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds of the tree.  A process that exited and was reaped by
    its parent is counted in the parent's cutime/cstime, so summing
    utime+stime+cutime+cstime over the live tree counts every process once.
    """
    procs = _snapshot()
    return sum(procs[p][1] for p in _tree(procs, root or os.getpid()))


def tree_rss_mb(root: int | None = None) -> float:
    procs = _snapshot()
    return sum(procs[p][2] for p in _tree(procs, root or os.getpid()))


class PeakRss:
    """Samples the tree's summed RSS on a thread; `peak_mb` is the maximum."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


def _alive(pending: dict[int, int]) -> dict[int, int]:
    """The processes of `pending` (pid -> start time) that have not ended.
    Reaps those that are this process's children; a process that exited
    but is still being torn down, or waits for its parent to reap it,
    counts as not ended."""
    for pid in pending:
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass                          # not ours, or already reaped
    now = _snapshot()
    return {pid: start for pid, start in pending.items()
            if pid in now and now[pid][3] == start}


def stop_descendants(grace_s: float = 20.0, kill_s: float = 20.0) -> None:
    """Stop every process this one started, directly or not, and wait
    until each has ended: SIGTERM, then SIGKILL to those still running
    after `grace_s`."""
    procs = _snapshot()
    me = os.getpid()
    pending = {p: procs[p][3] for p in _tree(procs, me) if p != me}
    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, kill_s)):
        pending = _alive(pending)
        for pid in pending:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        deadline = time.monotonic() + wait_s
        while pending and time.monotonic() < deadline:
            time.sleep(0.05)
            pending = _alive(pending)
        if not pending:
            break
