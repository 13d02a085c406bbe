"""Process-tree resource probes read from /proc (Linux).

The benchmark's driver process starts the Spark JVM, which starts the
Python worker daemon and its workers; every figure here covers that whole
tree. CPU time of a process that has exited is kept: its parent reaps it,
and the kernel adds it to the parent's ``cutime``/``cstime``.
"""

from __future__ import annotations

import os
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # the command name may hold spaces; fields resume after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            kids.setdefault(int(fields[1]), []).append(int(name))
    return kids


def tree_pids() -> list[int]:
    """This process and all of its live descendants."""
    kids = _children_map()
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of the tree, reaped children included."""
    total = 0
    for pid in tree_pids():
        fields = _stat_fields(pid)
        if fields is not None:
            # utime stime cutime cstime (proc(5) fields 14-17)
            total += sum(int(x) for x in fields[11:15])
    return total / _CLK


def tree_mem_mb() -> dict[str, float]:
    """Resident memory of the tree by command name, shared pages split
    between the processes that map them (``Pss``), so forked Python
    workers do not count their common pages once each."""
    out: dict[str, float] = {}
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{pid}/smaps_rollup") as f:
                pss = next(int(line.split()[1]) for line in f
                           if line.startswith("Pss:"))
        except (OSError, StopIteration):  # exited, or a kernel thread
            continue
        out[comm] = out.get(comm, 0.0) + pss / 1024.0
    return out


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def steal_s() -> float:
    """Host-wide CPU steal seconds since boot (/proc/stat ``cpu`` line)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _CLK


class PeakMemory:
    """Samples the tree's memory on a daemon thread and keeps the peak of
    the total and of each command name, and the thread's own CPU seconds
    (``cpu_s``), so that callers can leave them out of the tree's CPU
    time. ``stop()`` joins the thread."""

    interval_s = 0.2

    def __init__(self):
        self.peak_mb = 0.0
        self.cpu_s = 0.0
        self.peak_by_comm: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "PeakMemory":
        self._thread.start()
        return self

    def _sample(self) -> None:
        by_comm = tree_mem_mb()
        self.peak_mb = max(self.peak_mb, sum(by_comm.values()))
        for comm, mb in by_comm.items():
            self.peak_by_comm[comm] = max(self.peak_by_comm.get(comm, 0.0), mb)

    def _loop(self) -> None:
        while not self._stop.is_set():
            t = time.thread_time()
            self._sample()
            self.cpu_s += time.thread_time() - t
            self._stop.wait(self.interval_s)

    def stop(self) -> float:
        self._stop.set()
        if self._thread.ident is not None:  # started
            self._thread.join(timeout=10)
        return self.peak_mb


def jvm_gc_s(spark) -> float:
    """Cumulative collection time of every JVM garbage collector."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(max(b.getCollectionTime(), 0)
               for b in mf.getGarbageCollectorMXBeans()) / 1000.0
