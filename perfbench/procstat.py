"""CPU and memory of this process and everything it started, from /proc.

The tree is this Python driver, the JVM that spark-submit launches and the
Python workers the JVM forks. CPU counts user + system time of every live
process plus the children each has already reaped, so worker processes
that exit inside a window are still counted by their parent.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(pids: list[int] | None = None) -> float:
    """User + system CPU seconds of the tree, reaped children included."""
    total = 0
    for pid in pids or tree_pids():
        try:
            with open(f"/proc/{pid}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        f = stat[stat.rindex(b")") + 2 :].split()
        # fields after the comm: state(0) ... utime(11) stime(12) cutime(13) cstime(14)
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def tree_pss_mb(pids: list[int] | None = None) -> float:
    """Resident memory of the tree as proportional set size: a page shared
    by several processes counts once in total. Summed plain RSS counts the
    JVM twice whenever it forks a short-lived helper (which shares all of
    the JVM's pages until it execs), and the Python workers' shared pages
    once per worker."""
    total_kb = 0
    for pid in pids or tree_pids():
        try:
            with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
                for line in fh:
                    if line.startswith(b"Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


class RssSampler:
    """Samples the tree's resident memory (``tree_pss_mb``) every
    ``INTERVAL_S`` on a daemon thread; ``peak_mb`` is the largest value
    seen while running."""

    INTERVAL_S = 0.25

    def __init__(self) -> None:
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_pss_mb())
            if self._stop.wait(self.INTERVAL_S):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_pss_mb())
