"""CPU and resident memory of this process tree (driver, JVM, Python
workers), read from /proc."""
from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stats() -> dict[int, list[str]]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:  # exited while listing
            continue
        # fields after the parenthesised command name
        out[int(name)] = raw[raw.rfind(")") + 2:].split()
    return out


def _tree(stats: dict[int, list[str]], root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, f in stats.items():
        children.setdefault(int(f[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return [p for p in out if p in stats]


def tree_cpu_s(root: int | None = None) -> float:
    """user + sys seconds of the tree, including reaped children."""
    stats = _stats()
    ticks = 0
    for pid in _tree(stats, root or os.getpid()):
        f = stats[pid]
        ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / _TICK


def tree_rss_mb(root: int | None = None) -> float:
    stats = _stats()
    return sum(int(stats[p][21]) for p in _tree(stats, root or os.getpid())
               ) * _PAGE / 2**20


class RssPeak:
    """samples the tree's resident memory every ``period`` seconds while
    active; ``peak_mb`` is the largest sample."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.period)

    def __enter__(self) -> "RssPeak":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb())
