"""Measurement plumbing shared by the workloads: span tracing, Spark engine
counters, process counters and latency summaries.

Tracing is recorded from the benchmark's own files: :meth:`Tracer.wrap`
replaces a public function of an engine module with a wrapper that opens
a span around each call, and restores it afterwards. Spark is lazy, so a
wrapped function that only builds a plan can ask for a *probe*: a child
span that materializes the returned frame, so the layer's real work is
timed (traced runs only).
"""

from __future__ import annotations

import itertools
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing and add
    one attribute test per call."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack, self._local.op = [], None
        return self._local.stack

    @contextmanager
    def operation(self, op_id: str):
        """Spans opened inside share ``op_id`` (one request / query / pass)."""
        self._stack()
        prev, self._local.op = self._local.op, op_id
        try:
            yield
        finally:
            self._local.op = prev

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, self._local.op))

    def probe(self, name: str, df) -> None:
        """Traced runs only: materialize ``df`` fully inside a child span."""
        if self.enabled:
            from legislative_bills_database_spark.session import materialize_fully

            with self.span(name + ".probe"):
                materialize_fully(df)

    def wrap(self, module, fname: str, span_name: str, probe: bool = False,
             before=None, after=None) -> None:
        """Replace ``module.fname`` with a spanned wrapper until :meth:`restore`.
        ``before(args, kwargs)`` and ``after(args, kwargs, result)`` run
        inside the span, around the call."""
        if not self.enabled:
            return
        original = getattr(module, fname)

        def wrapper(*args, **kwargs):
            with self.span(span_name):
                if before is not None:
                    before(args, kwargs)
                out = original(*args, **kwargs)
                if probe:
                    self.probe(span_name, out)
                if after is not None:
                    after(args, kwargs, out)
                return out

        self._patched.append((module, fname, original))
        setattr(module, fname, wrapper)

    def restore(self) -> None:
        for module, fname, original in reversed(self._patched):
            setattr(module, fname, original)
        self._patched.clear()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of it
        that direct children cover."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] = child_time.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child_time.get(s.id, 0.0)
        return out

    def totals(self, name: str) -> list[float]:
        """Durations of every span called ``name``, in start order."""
        return [s.end - s.start for s in sorted(self.spans, key=lambda s: s.start) if s.name == name]

    def dump(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]


class Engine:
    """Per-operation Spark counters read through the status tracker and the
    application status store, one job group per operation."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._jvm = gw.jvm

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def stats(self, name: str) -> dict[str, float]:
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "failed_tasks", "shuffle_bytes", "input_records"), 0
        )
        for job_id in self.tracker.getJobIdsForGroup(name):
            info = self.tracker.getJobInfo(job_id)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue  # skipped: its output was reused
                out["stages"] += 1
                out["tasks"] += st.numCompletedTasks
                out["failed_tasks"] += st.numFailedTasks
                data = self._store.stageData(
                    sid, False, self._jvm.java.util.ArrayList(), False, self._no_quantiles
                )
                if data.nonEmpty():
                    d = data.head()
                    out["shuffle_bytes"] += d.shuffleWriteBytes()
                    out["input_records"] += d.inputRecords()
        return out


def force_plan(df) -> None:
    """Analyze, optimize and physically plan ``df`` (no job runs)."""
    df._jdf.queryExecution().executedPlan()


# ---------------------------------------------------------------------------
# Process counters
# ---------------------------------------------------------------------------

CLK_TCK = os.sysconf("SC_CLK_TCK")


def cpu_s() -> float:
    """Seconds the machine's CPUs have been busy so far, summed over the
    CPUs: user + nice + system + irq + softirq from /proc/stat. Idle time
    and steal (time a hypervisor gave these CPUs to other guests) are left
    out, so the figure does not grow when neighbours load the host."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq = map(int, f.readline().split()[1:8])
    return (user + nice + system + irq + softirq) / CLK_TCK


class Stopwatch:
    """Wall seconds and busy CPU seconds (:func:`cpu_s`) since creation."""

    def __init__(self) -> None:
        self._wall, self._cpu = time.perf_counter(), cpu_s()

    def read(self) -> tuple[float, float]:
        return time.perf_counter() - self._wall, cpu_s() - self._cpu


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def _proc_field(pid: int, fname: str, key: str) -> int:
    try:
        with open(f"/proc/{pid}/{fname}") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM)."""
    return sum(_proc_field(p, "status", "VmHWM:") for p in pids) / 1024.0


def engine_writes(spark) -> dict[tuple[int, int], int]:
    """Bytes each stage attempt's tasks have written so far — output files,
    shuffle files and spills — from the application status store.

    Counted from task metrics rather than /proc/<pid>/io because the
    kernel counts a page again each time it is dirtied after writeback,
    which makes that figure depend on flusher timing."""
    sc = spark.sparkContext
    gw = sc._gateway
    stages = sc._jsc.sc().statusStore().stageList(
        None, False, False, gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList()
    )
    out = {}
    for i in range(stages.size()):
        d = stages.apply(i)
        out[d.stageId(), d.attemptId()] = (
            d.outputBytes() + d.shuffleWriteBytes() + d.diskBytesSpilled()
        )
    return out


def written_since(spark, before: dict[tuple[int, int], int]) -> int:
    return sum(v - before.get(k, 0) for k, v in engine_writes(spark).items())


# ---------------------------------------------------------------------------
# Summaries
# ---------------------------------------------------------------------------

def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it, floored at the median (with fewer than twenty
    samples it is the median)."""
    v = sorted(values)
    n = len(v)
    mid = statistics.median(v)
    if n <= 20 or v[n - 11] <= mid:
        return mid, 50.0, n
    return v[n - 11], 100.0 * (n - 10) / n, n


@dataclass
class Outcome:
    """What a workload measured; run.py turns it into the result line.
    ``*_cpu_s`` figures are busy CPU seconds (:func:`cpu_s`), the others
    wall seconds."""

    cold_pass_s: float
    cold_pass_cpu_s: float
    ops_per_s: float  # per wall second
    ops_per_cpu_s: float
    latencies_s: list[float]  # the measured operations
    write_amp: float
    attempted: int
    failed: int
    layers: dict[str, float] = field(default_factory=dict)  # per-layer report
    notes: dict[str, object] = field(default_factory=dict)
