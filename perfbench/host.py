"""Host and process-tree readings from /proc: resident memory and CPU
time of the engine's process tree (this process, the Spark JVM and its
Python workers), load average and hypervisor steal.

Steal and load1 go next to every run's wall times: on a throttled host
wall time rises while CPU time stays flat.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after ')'
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int,
                 exclude: frozenset[int] = frozenset()) -> list[int]:
    """``root`` and all its descendants, minus the ``exclude`` subtrees,
    from one pass over /proc (cheaper than walking per-thread child
    lists of the JVM's hundred threads)."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(int(st[1]), []).append(int(name))
    seen, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        seen.append(pid)
        todo.extend(kids.get(pid, ()))
    return seen


def tree_resident_bytes(root: int,
                        exclude: frozenset[int] = frozenset()) -> int:
    """Resident memory of the tree, with each shared page split among the
    processes sharing it (PSS): Spark's Python workers are forked from one
    daemon, so plain RSS would count its pages once per worker."""
    total = 0
    for pid in process_tree(root, exclude):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass
    return total


def tree_cpu_s(root: int, exclude: frozenset[int] = frozenset()) -> float:
    """User + system CPU seconds of the tree. Descendants count their
    reaped children too (Spark's Python daemon reaps its workers); the
    root counts only itself, so a finished load generator it has reaped
    is not charged to the engine."""
    ticks = 0
    for pid in process_tree(root, exclude):
        st = _stat(pid)
        if st is None:
            continue
        # fields 14-17 (utime, stime, cutime, cstime) are st[11:15]
        ticks += int(st[11]) + int(st[12])
        if pid != root:
            ticks += int(st[13]) + int(st[14])
    return ticks / _TICK


def settle(root: int, max_s: float = 15.0, idle_cores: float = 0.3,
           step_s: float = 0.25) -> float:
    """Wait until the tree uses less than ``idle_cores`` of CPU over two
    consecutive ``step_s`` intervals (the JVM compiles and collects for
    a while after warm-up), at most ``max_s``; returns the time waited."""
    t0 = time.perf_counter()
    quiet, prev = 0, tree_cpu_s(root)
    while quiet < 2 and time.perf_counter() - t0 < max_s:
        time.sleep(step_s)
        cur = tree_cpu_s(root)
        quiet = quiet + 1 if (cur - prev) / step_s < idle_cores else 0
        prev = cur
    return time.perf_counter() - t0


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_times() -> list[int]:
    """Aggregate jiffies from /proc/stat's first line."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    d = [a - b for a, b in zip(after, before)]
    total = sum(d[:8])  # user..steal; guest time is already in user
    return 100.0 * d[7] / total if total else 0.0


class PeakMemory:
    """Samples the tree's resident memory on a background thread and keeps
    the peak. ``exclude`` is a mutable set: the load generator's pid is
    added once it starts."""

    def __init__(self, root: int, interval_s: float = 0.2):
        self.root = root
        self.interval_s = interval_s
        self.exclude: set[int] = set()
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def sample(self) -> None:
        self.peak = max(self.peak,
                        tree_resident_bytes(self.root,
                                            frozenset(self.exclude)))

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()
