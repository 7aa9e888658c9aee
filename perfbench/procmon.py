"""Resident-memory sampler for the benchmark's process tree.

Reads ``/proc`` every ``interval`` seconds and keeps the peak of the summed
RSS of the driver, the JVM it launched and every Python worker below them,
and the peaks of the JVM and of the Python workers on their own.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may contain spaces and parentheses: ppid follows the last ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` (not including it)."""
    kids = _children_map()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def _kind(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            cmd = f.read()
    except OSError:
        return "other"
    if cmd.split(b"\0", 1)[0].endswith(b"java"):
        return "jvm"
    if b"pyspark" in cmd:  # python -m pyspark.daemon and its forked workers
        return "pyworker"
    return "other"


class ProcSampler:
    """Background sampler; ``start()`` / ``stop()`` bracket the run."""

    def __init__(self, root: int, interval: float = 0.1):
        self.root = root
        self.interval = interval
        self.peak_total = 0
        self.peak = {"jvm": 0, "pyworker": 0}
        self.peak_pyworkers = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        by_kind = {"jvm": 0, "pyworker": 0, "driver": _rss(self.root), "other": 0}
        n_py = 0
        for pid in descendants(self.root):
            k = _kind(pid)
            by_kind[k] += _rss(pid)
            n_py += k == "pyworker"
        self.peak_total = max(self.peak_total, sum(by_kind.values()))
        for k in self.peak:
            self.peak[k] = max(self.peak[k], by_kind[k])
        self.peak_pyworkers = max(self.peak_pyworkers, n_py)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> None:
        self.sample()
        self._thread = threading.Thread(target=self._loop, name="procmon", daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.sample()
