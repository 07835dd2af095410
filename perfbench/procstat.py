"""Process-tree CPU and resident-memory sampler, read from ``/proc``.

The benchmark's process is the Spark driver; the JVM it launches, the
PySpark worker daemon and the daemon's forked workers are its descendants.
CPU of the whole tree at one instant is the sum, over every live process in
the tree, of ``utime + stime + cutime + cstime``: a worker that exits and is
reaped by its parent moves its time into the parent's ``cutime``/``cstime``,
so finished workers stay counted and nothing is counted twice.

Resident memory is the sum of the tree's ``statm`` resident pages; a
background thread samples it so the peak between two reads is seen.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm (field 2) may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
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


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by the tree under ``root`` (see module doc)."""
    ticks = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # after the ')' split: utime, stime, cutime, cstime are 11..14
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


class TreeSampler:
    """Samples the tree's resident memory every ``interval`` seconds on a
    daemon thread and keeps the peak. Use as a context manager; ``cpu_s()``
    reads the tree's CPU on demand."""

    def __init__(self, root: int | None = None, interval: float = 0.2):
        self.root = os.getpid() if root is None else root
        self.interval = interval
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def cpu_s(self) -> float:
        return tree_cpu_s(self.root)

    def sample(self) -> int:
        rss = tree_rss_bytes(self.root)
        self.peak_rss = max(self.peak_rss, rss)
        return rss

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "TreeSampler":
        self.sample()
        self._thread = threading.Thread(target=self._loop, name="tree-sampler", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.sample()
