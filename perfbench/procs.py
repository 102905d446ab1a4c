"""Process bookkeeping from /proc: age, load, CPU, peak RSS and shutdown.

The benchmark process is the root of a tree: the Spark JVM it launches and
the Python workers the JVM forks. Memory and CPU figures are summed over
that tree, and ``stop_spark`` waits until every member has exited.
"""

from __future__ import annotations

import os
import threading
import time


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def descendants(root: int) -> list[int]:
    """Pids of every live process below ``root``, from /proc."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:  # exited while listing
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


# Thread names (as /proc truncates them) of the JVM's JIT compiler threads.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_cpu_ticks(path: str, children: bool) -> int:
    with open(path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in fields[11 : 15 if children else 13])


def tree_cpu_s(jit: bool = True) -> float:
    """CPU seconds used so far by this process and its descendants, including
    their reaped children. Time stolen by the hypervisor is not in it.

    ``jit=False`` leaves out the JVM's JIT compiler threads. Their work
    decays over dozens of ops and follows host timing, so per-op figures
    without it are steadier. It takes ``-XX:-UseDynamicNumberOfCompilerThreads``:
    a compiler thread that exits takes its figures out of ``/proc``."""
    ticks = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            ticks += _stat_cpu_ticks(f"/proc/{pid}/stat", children=True)
            if jit:
                continue
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if f.read().startswith(JIT_THREADS):
                        ticks -= _stat_cpu_ticks(f"/proc/{pid}/task/{tid}/stat", children=False)
        except OSError:
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


def alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class TreeRss(threading.Thread):
    """Samples the summed RSS of this process and its descendants (the JVM
    and its Python workers) every ``period`` seconds and keeps the peak."""

    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period = period
        self.peak_mb = 0.0
        self._done = threading.Event()

    def sample(self) -> None:
        pages = 0
        for pid in [os.getpid(), *descendants(os.getpid())]:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    pages += int(f.read().split()[1])
            except OSError:
                continue
        self.peak_mb = max(self.peak_mb, pages * os.sysconf("SC_PAGE_SIZE") / 2**20)

    def run(self) -> None:
        while not self._done.wait(self.period):
            self.sample()

    def stop(self) -> float:
        self._done.set()
        self.join()
        return self.peak_mb


def stop_spark(spark) -> None:
    """Stops the session and the JVM, and waits until the JVM and every
    Python worker it started have exited."""
    from pyspark import SparkContext

    pids = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(alive(p) for p in pids):
        if time.monotonic() > deadline:
            for p in pids:
                if alive(p):
                    os.kill(p, 9)
            deadline = float("inf")
        time.sleep(0.05)
