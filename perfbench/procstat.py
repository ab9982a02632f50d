"""Process-tree CPU and resident-memory sampler, read from ``/proc``.

The tree is this Python driver, the Spark JVM it launched, the Python
worker daemon the JVM forks and the per-task workers the daemon forks.
CPU counts ``utime + stime + cutime + cstime``: the child terms carry
the task workers that have already exited and been reaped. One
background thread samples the resident memory of the whole tree.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
INTERVAL_S = 0.5  # between memory samples


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name sits in parentheses and may contain spaces
    return raw[raw.rindex(")") + 2:].split()


def _children(pid: int) -> list[int]:
    kids: list[int] = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return kids
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                kids.extend(int(c) for c in fh.read().split())
        except OSError:
            continue
    return kids


def tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def cpu_seconds(root: int) -> float:
    """CPU seconds used so far by the tree under ``root``, including
    reaped children."""
    ticks = 0
    for pid in tree(root):
        f = _stat_fields(pid)
        if f is not None:
            # fields after the name: utime=11 stime=12 cutime=13 cstime=14
            ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / _TICK


def rss_mb(root: int) -> float:
    """Resident memory of the tree under ``root`` in MiB, as the sum of
    proportional set sizes: a page shared by a forked worker and its
    parent counts once, not once per process."""
    kib = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        kib += int(line.split()[1])
                        break
        except (OSError, ValueError):
            continue
    return kib / 1024


class RssSampler:
    """Tracks the peak resident memory of a process tree on one thread.

    Use as a context manager; ``peak_mb`` holds the highest sum seen,
    and ``reset()`` starts a new peak window."""

    def __init__(self, root: int):
        self.root = root
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(
            target=self._loop, name="rss-sampler", daemon=True
        )

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, rss_mb(self.root))
            self._stop.wait(INTERVAL_S)

    def reset(self) -> None:
        self.peak_mb = rss_mb(self.root)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
