"""Process-tree CPU time and resident memory, read from /proc.

The benchmark's Spark session spans three kinds of process: this Python
driver, the JVM it launches, and the Python workers the JVM forks. CPU and
memory are therefore summed over the whole tree of descendants of one root
pid. Only /proc is read, so no third-party package is needed.

CPU accounting: a process's ``utime + stime`` covers its own threads, and
``cutime + cstime`` covers children it has already reaped. Summing both over
the live tree counts every process exactly once, whether it is still running
or has exited and been waited for.
"""

from __future__ import annotations

import os
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None if gone.

    The command name (field 2) is parenthesised and may hold spaces, so the
    line is split after its last ')'. Index 0 of the result is the state
    (field 3 of proc(5)).
    """
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            line = f.read().decode("ascii", "replace")
    except OSError:  # the process exited between listing and reading
        return None
    return line[line.rfind(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """`root` and every live descendant, found by walking parent links."""
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


def tree_usage(root: int) -> tuple[float, int]:
    """(CPU seconds, resident bytes) summed over the tree under `root`."""
    cpu_ticks = 0
    rss_pages = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is None:
            continue
        # proc(5) fields 14-17 (utime stime cutime cstime) and 24 (rss),
        # shifted by the 3 fields dropped before the state
        cpu_ticks += sum(int(x) for x in fields[11:15])
        rss_pages += int(fields[21])
    return cpu_ticks / _CLK_TCK, rss_pages * _PAGE


class TreeSampler:
    """Background sampler of the tree's resident memory.

    `peak_bytes` is the largest tree-wide RSS seen at any sample; `cpu_s()`
    reads the tree's cumulative CPU time on demand. Use as a context
    manager, or call `start()` and `stop()`.
    """

    def __init__(self, root: int | None = None, interval_s: float = 0.2):
        self.root = os.getpid() if root is None else root
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> tuple[float, int]:
        cpu, rss = tree_usage(self.root)
        self.peak_bytes = max(self.peak_bytes, rss)
        return cpu, rss

    def cpu_s(self) -> float:
        return self.sample()[0]

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> "TreeSampler":
        self.sample()
        self._thread = threading.Thread(
            target=self._loop, name="tree-sampler", daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.sample()

    def __enter__(self) -> "TreeSampler":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()
