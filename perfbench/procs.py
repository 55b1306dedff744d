"""Resource sampler for the benchmark's process tree (this Python process,
its Spark JVM child and any Python workers the JVM forks), read from
``/proc``: CPU seconds on demand and peak resident memory by sampling.
Resident sizes are summed over the tree; pages a forked worker shares with
its parent count twice, which errs high."""

from __future__ import annotations

import os
import threading
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (index 0 is the
    state, 1 the parent pid, 11/12 utime/stime, 21 rss in pages)."""
    try:
        raw = Path(f"/proc/{pid}/stat").read_text()
    except OSError:  # the process ended between listing and reading
        return None
    return raw[raw.rfind(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for p in Path("/proc").iterdir():
        if p.name.isdigit():
            st = _stat(int(p.name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(p.name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


class ProcTree:
    """Samples the resident memory of ``root``'s process tree every
    ``interval`` seconds on a daemon thread; ``cpu_s()`` reads the tree's
    user+system CPU seconds directly (processes that already exited are
    not counted)."""

    def __init__(self, root: int | None = None, interval: float = 0.5):
        self.root = os.getpid() if root is None else root
        self.interval = interval
        self.peak_rss_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _fields(self) -> list[list[str]]:
        return [st for st in map(_stat, tree_pids(self.root)) if st is not None]

    def cpu_s(self) -> float:
        return sum(int(st[11]) + int(st[12]) for st in self._fields()) / _TICK

    def sample(self) -> None:
        rss = sum(int(st[21]) for st in self._fields()) * _PAGE
        self.peak_rss_bytes = max(self.peak_rss_bytes, rss)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._thread = threading.Thread(target=self._loop, name="proc-sampler", daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.sample()
