"""Spans, exact Spark counts and host/JVM readings for the traced run.

A span wraps one call into a public engine function. It records its
name, start, end, parent span and op id, runs under its own Spark job
group, and — once the listener bus has drained — the Spark jobs, stages
and tasks that started while it was open, plus the JVM's GC time over it.
Spans stay in memory and are written out when the run ends.

With tracing off every span is a plain call: the untraced run, which
gives the end-to-end numbers, pays nothing for it.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    op: str
    start: float
    parent: int | None
    id: int
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    gc_s: float = 0.0
    attrs: dict = field(default_factory=dict)


class SparkCounts:
    """Exact job/stage/task counts from Spark's status store.

    Job ids are handed out in order, one client issues the calls, and
    streaming micro-batches run inside the span that started the query,
    so the jobs a span caused are exactly the ids first seen while it was
    open — a job-group filter alone would miss the stream thread's jobs.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._tracker = self.sc.statusTracker()
        self._gc_beans = list(
            self.sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )
        self._next_job = 0
        self.sync()

    def sync(self) -> int:
        """Drain the listener bus; return the first job id not yet started."""
        self._bus.waitUntilEmpty(60_000)
        while any(
            self._tracker.getJobInfo(self._next_job + k) is not None for k in range(3)
        ):
            self._next_job += 1
        return self._next_job

    def tally(self, first_job: int, end_job: int) -> tuple[int, int, int]:
        stages: dict[int, int] = {}
        for j in range(first_job, end_job):
            info = self._tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                st = self._tracker.getStageInfo(s)
                if st is not None and st.numCompletedTasks:
                    stages[s] = st.numCompletedTasks
        return end_job - first_job, len(stages), sum(stages.values())

    def gc_seconds(self) -> float:
        return sum(b.getCollectionTime() for b in self._gc_beans) / 1000.0

    def heap_peak_mb(self) -> float:
        jvm = self.sc._jvm
        pools = jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
        heap = jvm.java.lang.management.MemoryType.HEAP
        return sum(
            p.getPeakUsage().getUsed() for p in pools if p.getType().equals(heap)
        ) / 2**20


class Tracer:
    """Span recorder; ``enabled=False`` makes every span a plain call."""

    def __init__(self, spark=None, enabled: bool = False):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op = "setup"
        self.bookkeeping_s = 0.0
        self._stack: list[Span] = []
        self._sc = spark.sparkContext if enabled else None
        self.counts = SparkCounts(spark) if enabled else None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        t0 = time.perf_counter()
        first_job = self.counts.sync()
        gc0 = self.counts.gc_seconds()
        parent = self._stack[-1] if self._stack else None
        s = Span(name, self.op, 0.0, parent.id if parent else None, len(self.spans), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self._sc.setJobGroup(f"{name}#{s.id}", f"{self.op}:{name}")
        s.start = time.perf_counter()
        self.bookkeeping_s += s.start - t0
        try:
            yield s.attrs
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(f"{parent.name}#{parent.id}", f"{self.op}:{parent.name}")
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            s.jobs, s.stages, s.tasks = self.counts.tally(first_job, self.counts.sync())
            s.gc_s = self.counts.gc_seconds() - gc0
            self.bookkeeping_s += time.perf_counter() - s.end

    def self_seconds(self, s: Span) -> float:
        """Duration minus the time its direct children cover."""
        kids = [c for c in self.spans if c.parent == s.id]
        return (s.end - s.start) - sum(c.end - c.start for c in kids)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


# --- host calibration and memory ----------------------------------------------


def probe_python() -> float:
    """Time of a fixed pure-Python loop."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i % 7
    return time.perf_counter() - t0


def probe_spark(spark) -> float:
    """Time of a fixed tiny Spark job, run once untimed first so a fresh
    session's warm-up is not counted."""
    job = spark.range(0, 200_000, numPartitions=4).selectExpr("sum(id % 7)")
    job.collect()
    t0 = time.perf_counter()
    job.collect()
    return time.perf_counter() - t0


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")
