"""Measurement plumbing: in-memory spans, Spark stage metrics read from the
application status store, and peak RSS of the driver process tree.

Everything here observes the engine from outside: spans wrap the benchmark's
calls into each layer, and Spark's own task metrics are read per operation
through the job group the benchmark sets around it.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int | None


class Tracer:
    """Span recorder for one single-threaded client. A disabled tracer keeps
    nothing, so the untraced run pays only a context-manager call per layer."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.op_id: int | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        s = Span(len(self.spans), name, time.perf_counter(), 0.0,
                 self._stack[-1] if self._stack else None, self.op_id)
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: a span's duration minus the time
        its children cover (children never overlap: one client thread)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child[s.id]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans],
                       "self_s": self.self_times()}, f)


@dataclass
class OpStages:
    """Spark task metrics summed over every stage of one operation's jobs."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0  # executor run time (task wall time, incl. Python workers)
    cpu_s: float = 0.0  # executor JVM CPU time (excludes Python worker CPU)
    gc_s: float = 0.0
    input_records: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    job_busy_s: float = 0.0  # union of the jobs' [submission, completion]


class StageReader:
    """Per-operation stage metrics from the live status store, keyed by a job
    group the caller sets around the operation. Read after every operation,
    so the status store's stage retention never evicts them first."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()

    @contextmanager
    def group(self, group_id: str):
        """Tag the jobs started inside with ``group_id``; restores the
        enclosing group on exit, so groups nest."""
        outer = self._sc.getLocalProperty("spark.jobGroup.id")
        self._sc.setJobGroup(group_id, group_id)
        try:
            yield
        finally:
            if outer is None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            else:
                self._sc.setJobGroup(outer, outer)

    def read(self, group_id: str) -> OpStages:
        self._bus.waitUntilEmpty(60_000)
        out = OpStages()
        intervals = []
        stage_ids: set[int] = set()
        for jid in self._sc.statusTracker().getJobIdsForGroup(group_id):
            job = self._store.job(jid)
            out.jobs += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
            ids = job.stageIds()
            stage_ids.update(int(ids.apply(i)) for i in range(ids.size()))
        for sid in stage_ids:
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — a skipped stage may never be recorded
                continue
            out.stages += 1
            out.tasks += st.numCompleteTasks()
            out.run_s += st.executorRunTime() / 1e3
            out.cpu_s += st.executorCpuTime() / 1e9
            out.gc_s += st.jvmGcTime() / 1e3
            out.input_records += st.inputRecords()
            out.shuffle_write_bytes += st.shuffleWriteBytes()
            out.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out.job_busy_s = _union_ms(intervals) / 1e3
        return out


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def tree_peak_rss() -> int:
    """Peak resident bytes of this process and its live descendants (the JVM
    and the Python workers it forks): the sum of each process's own peak
    (VmHWM). Read once, so measuring costs the run nothing; processes peak
    at different times, so the sum bounds the tree's true peak from above."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces: fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as f:
                hwm = next(line for line in f if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
        total += int(hwm.split()[1]) * 1024
    return total


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float], min_beyond: int = 10) -> tuple[float, float]:
    """(percentile, value): the highest of p50/p75/p90/p95/p99 with at least
    ``min_beyond`` samples above it; the maximum (p100) when none has."""
    xs = sorted(xs)
    n = len(xs)
    best = (100.0, xs[-1] if xs else 0.0)
    for p in (50, 75, 90, 95, 99):
        k = int(n * p / 100)
        if n - k - 1 >= min_beyond:
            best = (float(p), xs[k])
    return best
