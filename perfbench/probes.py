"""Counters read outside the timed region of an op, with tracing off.

- `GroupStats` asks Spark's status tracker and status store for the jobs
  and storage bytes of one job group (one op).
- `RssSampler` samples the resident memory of the driver JVM plus its
  Python worker processes from /proc, and the JVM's heap in use, and
  keeps the peak of each.
"""

from __future__ import annotations

import os
import threading

from py4j.protocol import Py4JJavaError


class GroupStats:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()

    def drain(self) -> None:
        """Wait until the status listeners have seen every event so far."""
        self._bus.waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def io_bytes(self, job_ids: list[int]) -> int:
        """Bytes the jobs read from data sources, wrote to data sources and
        wrote as shuffle files."""
        total = 0
        seen = set()
        for jid in job_ids:
            it = self._store.job(jid).stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # skipped stage: never attempted
                    continue
                total += st.inputBytes() + st.outputBytes() + st.shuffleWriteBytes()
        return total


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", "rb") as f:
            for line in f:
                if line.startswith(b"VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root_pid: int) -> float:
    kids = _children_map()
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(kids.get(pid, []))
    return total / 1024.0


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def machine_cpu_s() -> float:
    """CPU seconds the machine has spent working so far: user, nice,
    system, irq and softirq time of every CPU in /proc/stat.

    A guest kernel counts the time its vCPUs are descheduled as steal,
    not as work, so the difference across an op is the CPU the op cost
    whatever the load on the host. It is read machine-wide, not per
    process, because the Python workers ignore SIGCHLD: a worker that
    exits takes its CPU time with it, and per-process sums lose it."""
    with open("/proc/stat", "rb") as f:
        user, nice, system, _idle, _iowait, irq, softirq = map(int, f.readline().split()[1:8])
    return (user + nice + system + irq + softirq) * _TICK_S


class RssSampler:
    """Background sampler of the JVM process tree's resident memory and of
    the driver JVM's retained heap; keeps the peak of each.

    The retained heap is the heap in use outside eden (survivor and old
    generation). Eden fills to its size before every young GC, so total
    heap in use peaks near the heap size whatever the program keeps."""

    period_s = 0.2

    def __init__(self, spark):
        sc = spark.sparkContext
        mf = sc._jvm.java.lang.management.ManagementFactory
        self.root_pid = sc._gateway.proc.pid
        self._heap = mf.getMemoryMXBean()
        self._eden = [p for p in mf.getMemoryPoolMXBeans() if "Eden" in p.getName()]
        self.peak_mb = 0.0
        self.heap_retained_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _sample(self) -> None:
        self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root_pid))
        used = self._heap.getHeapMemoryUsage().getUsed()
        used -= sum(p.getUsage().getUsed() for p in self._eden)
        self.heap_retained_mb = max(self.heap_retained_mb, used / 1048576.0)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
