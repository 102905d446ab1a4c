"""Spans kept in memory, and Spark's event log folded per job group.

A traced run tags every public call with ``setJobGroup(<workload>/<op>/<layer>)``
and records a span around it. After the session stops, the uncompressed,
non-rolling event log is read with stdlib ``json`` and every job, stage and
task is charged to the job group that submitted it.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        # Spark 4 defaults to rolling zstd files, which stdlib json cannot read.
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str


class Tracer:
    """Records spans (epoch seconds, the event log's clock) and sets the
    job group of the calls inside each one. ``sc=None`` records spans only."""

    def __init__(self, sc=None, workload: str = ""):
        self.sc = sc
        self.workload = workload
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), 0.0, parent, op))
        self._stack.append(idx)
        if self.sc is not None:
            self.sc.setJobGroup(f"{self.workload}/{op}/{name}", name)
        try:
            yield
        finally:
            self.spans[idx].end = time.time()
            self._stack.pop()
            if self.sc is not None:
                if parent is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    p = self.spans[parent]
                    self.sc.setJobGroup(f"{self.workload}/{p.op}/{p.name}", p.name)

    def wrap(self, fn, name: str, op: str):
        """``fn``, with each call recorded as a span ``name`` of op ``op``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, op):
                return fn(*args, **kwargs)

        return traced

    def self_time(self, idx: int) -> float:
        """Span duration minus the part its child spans cover."""
        s = self.spans[idx]
        kids = [(c.start, c.end) for c in self.spans if c.parent == idx]
        return (s.end - s.start) - covered(kids, s.start, s.end)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    retries: int = 0
    run_s: float = 0.0
    jvm_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    job_intervals: list = field(default_factory=list)

    @property
    def python_worker_s(self) -> float:
        """Executor run time not spent on JVM CPU: an upper bound on the
        time tasks waited for their Python workers."""
        return max(0.0, self.run_s - self.jvm_cpu_s)


def fold_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Per job group totals from the one application log in ``log_dir``."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                jid = ev["Job ID"]
                job_group[jid] = g
                job_start[jid] = ev["Submission Time"] / 1000
                groups[g].jobs += 1
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = g
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                groups[job_group[jid]].job_intervals.append(
                    (job_start[jid], ev["Completion Time"] / 1000)
                )
            elif kind == "SparkListenerStageCompleted":
                groups[stage_group.get(ev["Stage Info"]["Stage ID"], "")].stages += 1
            elif kind == "SparkListenerTaskEnd":
                st = groups[stage_group.get(ev["Stage ID"], "")]
                st.tasks += 1
                st.retries += ev["Task Info"]["Attempt"] > 0
                m = ev.get("Task Metrics") or {}
                st.run_s += m.get("Executor Run Time", 0) / 1e3
                st.jvm_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                st.gc_s += m.get("JVM GC Time", 0) / 1e3
                sw = m.get("Shuffle Write Metrics") or {}
                st.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / 2**20
                st.spill_mb += m.get("Disk Bytes Spilled", 0) / 2**20
    return groups
