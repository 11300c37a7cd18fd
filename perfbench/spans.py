"""Spans around the benchmark's calls into the engine's layers.

A span records its name, start, end, parent span and request id.  Each
request runs under its own Spark job group, and every span inside a
request also records the Spark work done inside it, read from Spark's
in-process status store (works with ``spark.ui.enabled`` false): jobs,
stages, tasks, executor run and CPU time, shuffle bytes and the task skew
of the widest stage.

Spans stay in memory; :meth:`Tracer.dump` writes them out at the end of
the run, and :meth:`Tracer.layer_table` reduces them to per-layer self
times (span time minus the time its child spans cover).

:class:`NullTracer` has the same interface and records nothing; the timed
runs use it, so their end-to-end numbers carry no tracing cost.
"""
from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager


class StatusStoreError(RuntimeError):
    """Reading Spark's status store failed or returned impossible data."""


class SparkCounters:
    """Per-job-group counters from the SparkContext's status store."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._bus = self._jsc.listenerBus()
        self.cores = sc.defaultParallelism

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group, interruptOnCancel=False)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def job_ids(self, group: str) -> set[int]:
        # the status store is filled by the listener bus, asynchronously
        # to the action that ran the jobs: drain it before reading
        self._bus.waitUntilEmpty(30_000)
        return set(self.sc.statusTracker().getJobIdsForGroup(group))

    def collect(self, job_ids) -> dict:
        """Sum the counters of the given jobs' executed stages."""
        out = {"jobs": len(job_ids), "stages": 0, "tasks": 0,
               "executor_run_ms": 0.0, "executor_cpu_ms": 0.0,
               "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
               "task_skew": 1.0}
        widest = (0, None)
        for jid in job_ids:
            info = self.sc.statusTracker().getJobInfo(jid)
            if info is None:
                raise StatusStoreError(f"job {jid} missing from the store")
            for sid in info.stageIds:
                for sd in _seq(self._store.stageData(
                        sid, False, _jlist(self.sc), False, _jdoubles(self.sc))):
                    if str(sd.status()) != "COMPLETE":
                        continue        # skipped: its output was reused
                    out["stages"] += 1
                    n = sd.numCompleteTasks()
                    out["tasks"] += n
                    out["executor_run_ms"] += sd.executorRunTime()
                    out["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                    out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    if n > widest[0]:
                        widest = (n, (sid, sd.attemptId()))
        if widest[1] is not None and widest[0] > 1:
            sid, att = widest[1]
            times = sorted(t.taskMetrics().get().executorRunTime()
                           for t in _seq(self._store.taskList(sid, att,
                                                              widest[0]))
                           if t.taskMetrics().isDefined())
            med = statistics.median(times) if times else 0
            if med > 0:
                out["task_skew"] = times[-1] / med
        return out


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


def _jlist(sc):
    return sc._jvm.java.util.ArrayList()


def _jdoubles(sc):
    return sc._gateway.new_array(sc._jvm.double, 0)


class Span:
    __slots__ = ("name", "rid", "parent", "start", "end", "spark", "sid")

    def __init__(self, sid, name, rid, parent, start):
        self.sid, self.name, self.rid = sid, name, rid
        self.parent, self.start = parent, start
        self.end = None
        self.spark = None


class Tracer:
    """Records spans and the Spark counters of each span."""

    enabled = True

    def __init__(self, sc) -> None:
        self.counters = SparkCounters(sc)
        self.spans: list[Span] = []
        self.counts: dict[str, list[float]] = {}
        self.overhead_s = 0.0       # time spent in the tracer itself
        #: tracer time and traced-only work inside measured requests
        self.request_overhead_s = 0.0
        self._stack: list[Span] = []
        self._rid = None
        self._group = None

    @contextmanager
    def request(self, rid: str):
        """Every span opened inside belongs to request ``rid``; its Spark
        jobs run under job group ``rid``."""
        t0 = time.perf_counter()
        self._rid = rid
        self._group = f"perfbench-{rid}"
        self.counters.set_group(self._group)
        before = self.overhead_s
        t1 = time.perf_counter()
        try:
            with self.span("request"):
                yield
        finally:
            t2 = time.perf_counter()
            self.counters.clear_group()
            self._rid = self._group = None
            self.overhead_s += t1 - t0 + time.perf_counter() - t2
            self.request_overhead_s += self.overhead_s - before

    @contextmanager
    def span(self, name: str, traced_only: bool = False):
        """``traced_only``: work the untraced runs do not do (a chain
        compile, a file count); inside a request it counts as overhead."""
        t0 = time.perf_counter()
        before = (self.counters.job_ids(self._group) if self._group
                  else None)
        parent = self._stack[-1].sid if self._stack else None
        sp = Span(len(self.spans), name, self._rid, parent, None)
        self.spans.append(sp)
        self._stack.append(sp)
        t1 = time.perf_counter()
        self.overhead_s += t1 - t0
        sp.start = t1
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            if traced_only and self._rid is not None:
                self.request_overhead_s += sp.end - sp.start
            self._stack.pop()
            if before is not None:
                jobs = self.counters.job_ids(self._group) - before
                sp.spark = self.counters.collect(jobs)
            self.overhead_s += time.perf_counter() - sp.end

    def count(self, name: str, value: float) -> None:
        """A count recorded at the current boundary."""
        self.counts.setdefault(name, []).append(value)

    # ------------------------------------------------------------ reduce
    def self_times(self) -> dict[str, list[float]]:
        """name -> self time (s) of every span with that name."""
        child: dict[int, float] = {}
        for sp in self.spans:
            if sp.parent is not None and sp.end is not None:
                child[sp.parent] = child.get(sp.parent, 0.0) + (
                    sp.end - sp.start)
        out: dict[str, list[float]] = {}
        for sp in self.spans:
            if sp.end is None:
                continue
            out.setdefault(sp.name, []).append(
                sp.end - sp.start - child.get(sp.sid, 0.0))
        return out

    def durations(self, name: str) -> list[float]:
        return [sp.end - sp.start for sp in self.spans
                if sp.name == name and sp.end is not None]

    def requests(self) -> list[Span]:
        return [sp for sp in self.spans if sp.name == "request"]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps({
                    "id": sp.sid, "name": sp.name, "rid": sp.rid,
                    "parent": sp.parent, "start": sp.start, "end": sp.end,
                    "spark": sp.spark}) + "\n")
            fh.write(json.dumps({"counts": self.counts}) + "\n")


class NullTracer:
    """The untraced runs' tracer: spans cost one context-manager entry."""

    enabled = False

    @contextmanager
    def request(self, rid: str):
        yield

    @contextmanager
    def span(self, name: str, traced_only: bool = False):
        yield None

    def count(self, name: str, value: float) -> None:
        pass
