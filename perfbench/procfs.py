"""Process-tree CPU and RSS from ``/proc`` (Linux).

The benchmark's process tree is the driver Python process, the JVM that
PySpark launches under it, and the PySpark worker daemon with its forked
workers under the JVM. CPU of a reaped child moves into its parent's
``cutime``/``cstime``, so summing all four fields over the live tree counts
every exited descendant once.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 2**20


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name may hold spaces and parentheses; fields follow the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds of ``pids`` and their reaped children."""
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            total += int(st[21])
    return total * _PAGE_MB


def tree_cpu_s() -> float:
    """CPU seconds of this process's whole tree."""
    return cpu_s(descendants(os.getpid()))


def python_worker_cpu_s() -> float:
    """CPU of the PySpark worker daemons and the workers they forked. A
    forked worker keeps its daemon's command line, so only daemons whose
    parent is not a daemon are summed, each once with its whole subtree;
    a worker that exits moves its CPU into the daemon's ``cutime``."""
    tree = descendants(os.getpid())
    daemons = {pid for pid in tree if "pyspark.daemon" in _cmdline(pid)}
    total = 0.0
    for pid in daemons:
        st = _stat(pid)
        if st is not None and int(st[1]) not in daemons:
            total += cpu_s(descendants(pid))
    return total


class RssSampler:
    """Samples the tree's summed RSS every 0.1 s on a thread and keeps the
    peak seen while not paused. The tree's pids are listed again every
    second."""

    interval = 0.1
    refresh_every = 10

    def __init__(self) -> None:
        self.peak_mb = 0.0
        self.paused = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pids: list[int] = []
        tick = 0
        while not self._stop.wait(self.interval):
            if tick % self.refresh_every == 0:
                pids = descendants(os.getpid())
            tick += 1
            if not self.paused:
                self.peak_mb = max(self.peak_mb, rss_mb(pids))

    def __enter__(self) -> "RssSampler":
        self.peak_mb = rss_mb(descendants(os.getpid()))
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
