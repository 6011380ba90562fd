"""Latency statistics and process-tree sampling from /proc."""

from __future__ import annotations

import os
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")


def tail(xs: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that still has at
    least ten samples beyond it: the 11th-largest sample, at percentile
    (n - 10) / n. Below 20 samples that percentile would fall under the
    median, so the maximum (percentile 1.0) is reported instead."""
    s = sorted(xs)
    n = len(s)
    if n < 20:
        return s[-1], 1.0
    return s[n - 11], (n - 10) / n


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    kids = _children()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * PAGE
    except (OSError, IndexError, ValueError):
        return 0


def _cpu_ticks(pid: int) -> int:
    """utime + stime of ``pid`` and of its exited, reaped children. The
    kernel leaves out the time a virtual CPU was stolen by the host."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            v = f.read().rsplit(")", 1)[1].split()
        return sum(int(x) for x in v[11:15])
    except (OSError, IndexError, ValueError):
        return 0


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


_REF_DATA: list = []


def reference_cpu() -> float:
    """CPU seconds two threads spend sorting the same 2 M doubles. The
    computation is fixed and outside the program, so its cost tracks only
    how fast the shared host runs the virtual CPUs at the moment."""
    import numpy as np
    from concurrent.futures import ThreadPoolExecutor

    if not _REF_DATA:
        _REF_DATA.append(np.random.default_rng(0).random(2_000_000))

    def one(_) -> float:
        t0 = time.thread_time()
        np.sort(_REF_DATA[0])
        return time.thread_time() - t0

    with ThreadPoolExecutor(2) as ex:
        return sum(ex.map(one, range(2)))


class TreeSampler:
    """Background sampler of the driver's process tree (driver, JVM and
    Python workers): peak summed RSS, every Python worker pid seen, so
    spawns per operation can be counted, and the tree's CPU time."""

    def __init__(self, interval: float = 0.05) -> None:
        self.root = os.getpid()
        self.interval = interval
        self.peak = 0
        self.workers: set[int] = set()
        # CPU time of the sampling thread and of cpu() reading /proc, one
        # total per thread, left out of cpu()
        self._sample_cpu = 0.0
        self._read_cpu = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        t0 = time.thread_time()
        pids = tree(self.root)
        self.peak = max(self.peak, sum(_rss(p) for p in pids))
        self.workers.update(p for p in pids[1:] if _is_python(p))
        self._sample_cpu += time.thread_time() - t0

    def cpu(self) -> float:
        """CPU seconds used so far by the whole tree, without the
        sampler's own /proc reads."""
        t0 = time.thread_time()
        ticks = sum(_cpu_ticks(p) for p in tree(self.root))
        self._read_cpu += time.thread_time() - t0
        return ticks / TICK - self._sample_cpu - self._read_cpu

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> None:
        self.peak = 0
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until none of ``pids`` is alive (zombies count as gone);
    returns the survivors."""
    deadline = time.monotonic() + timeout
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _alive(p)]
        if alive:
            time.sleep(0.05)
    return alive
