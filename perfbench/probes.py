"""Measurements taken from outside the program: CPU and resident memory
of the whole process tree (Python driver, JVM, Python workers) from
``/proc``, Spark's own shuffle accounting from the driver's status
store, and the bytes of files a workload persisted."""

from __future__ import annotations

import os
import threading

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            pass
    return out


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    todo, seen = [root or os.getpid()], []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU of the live tree, plus what its members have
    collected from children they already reaped (so Python workers that
    exited mid-window still count)."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[11:15] = utime stime cutime cstime (stat fields 14-17)
        total += sum(int(v) for v in fields[11:15])
    return total / _CLK


def host_steal_s() -> float:
    """CPU time the hypervisor gave other guests while this machine's
    CPUs wanted to run, summed over CPUs (``/proc/stat``). On a shared
    host it explains run-to-run swings in wall time."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _CLK if len(fields) > 8 else 0.0


def _pss_bytes(pid: int) -> int:
    """Proportional set size: each shared page is split among the
    processes that map it. Summed RSS counts a page once per process, so
    a child the JVM has forked but not yet exec'd doubled the tree's
    RSS whenever a sample caught it."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except FileNotFoundError:  # kernel without smaps_rollup: fall back to RSS
        pass
    with open(f"/proc/{pid}/statm") as fh:
        return int(fh.read().split()[1]) * _PAGE


def tree_resident_bytes(root: int | None = None) -> int:
    total = 0
    for pid in tree_pids(root):
        try:
            total += _pss_bytes(pid)
        except OSError:  # the process exited between listing and reading
            continue
    return total


class RssSampler:
    """Background sampler of the tree's summed resident memory (PSS);
    ``peak`` is the largest sum seen since the last :meth:`reset`."""

    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def sample(self) -> None:
        rss = tree_resident_bytes()
        with self._lock:
            self.peak = max(self.peak, rss)

    def reset(self) -> None:
        with self._lock:
            self.peak = 0
        self.sample()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, regular files) under ``path``."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            if os.path.isfile(p) and not os.path.islink(p):
                size += os.path.getsize(p)
                files += 1
    return size, files


class SparkTotals:
    """Cumulative task totals of the session's executors, read from the
    driver's status store after the listener bus has drained."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()

    def persisted_rdds(self) -> int:
        return self._sc.getPersistentRDDs().size()

    def snapshot(self) -> dict:
        self._sc.listenerBus().waitUntilEmpty()
        execs = self._sc.statusStore().executorList(True)
        tot = {"shuffle_write_b": 0, "gc_ms": 0, "task_ms": 0}
        for i in range(execs.length()):
            e = execs.apply(i)
            tot["shuffle_write_b"] += e.totalShuffleWrite()
            tot["gc_ms"] += e.totalGCTime()
            tot["task_ms"] += e.totalDuration()
        return tot
