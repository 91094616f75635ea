"""The benchmark's process tree, read from /proc: peak resident memory
sampling and the check that every process the run started has ended."""

from __future__ import annotations

import os
import threading
import time


def descendants(root: int) -> list[int]:
    """Every live process under ``root`` (the driver's JVM and the Python
    workers the JVM forks)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        fields = stat[stat.rfind(")") + 2 :].split()
        if fields[0] == "Z":
            continue
        children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_mb(root: int) -> float:
    """Resident memory of the tree, each page shared between processes
    (the forked Python workers share the worker daemon's pages) counted
    once in total: the sum of the processes' ``Pss``."""
    total_kb = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total_kb / 1024


class RssSampler:
    """Samples the RSS of this process and its descendants every
    ``period`` seconds between start() and stop(); keeps the peak."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(pid))
            self._stop.wait(self.period)

    def start(self) -> None:
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))
        return self.peak_mb


def wait_children_gone(timeout: float = 60.0) -> list[int]:
    """Wait until no descendant of this process is alive; return those
    still alive at the deadline."""
    deadline = time.time() + timeout
    left = descendants(os.getpid())
    while left and time.time() < deadline:
        time.sleep(0.2)
        left = descendants(os.getpid())
    return left
