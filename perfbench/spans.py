"""Spans, Spark stage counters and process-tree resource readings.

Spans are recorded only by the benchmark, around its own calls into the
library's public functions. Each span notes the Spark jobs that ran inside
it, read from the application status store over py4j (works with the UI
disabled), so a layer's cost splits into driver time (no job running),
executor CPU / GC / run time, and bytes moved.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

COUNTER_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "exec_cpu_s",
    "exec_run_s",
    "gc_s",
    "shuffle_bytes",
    "spill_bytes",
    "input_bytes",
    "output_bytes",
)


@dataclass
class Span:
    name: str
    op_id: int
    parent: int | None
    start: float  # perf_counter seconds
    end: float = 0.0
    wall_start: float = 0.0  # epoch seconds, comparable to Spark job times
    counters: dict = field(default_factory=dict)
    job_intervals: list = field(default_factory=list)  # epoch-second pairs

    @property
    def dur(self) -> float:
        return self.end - self.start


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Tracer:
    """In-memory span recorder. ``counters`` (a ``SparkCounters``) is
    optional so the arithmetic can be tested without Spark."""

    def __init__(self, counters=None, clock=time.perf_counter, wall=time.time):
        self.counters = counters
        self.clock = clock
        self.wall = wall
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op_id: int = 0):
        mark = self.counters.mark() if self.counters else None
        parent = self._stack[-1] if self._stack else None
        rec = Span(name, op_id, parent, self.clock(), wall_start=self.wall())
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec.end = self.clock()
            self._stack.pop()
            if self.counters:
                rec.counters, rec.job_intervals = self.counters.since(mark)

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_time(self, idx: int) -> float:
        """Span duration minus the part of it its child spans cover."""
        span = self.spans[idx]
        kids = [(c.start, c.end) for c in self.children(idx)]
        return span.dur - union_length(kids, span.start, span.end)

    def layer_record(self, idx: int, cores: int) -> dict:
        """Every per-layer figure of one span."""
        s = self.spans[idx]
        c = s.counters or dict.fromkeys(COUNTER_KEYS, 0)
        busy = union_length(s.job_intervals, s.wall_start, s.wall_start + s.dur)
        return {
            "s": s.dur,
            "self_s": self.self_time(idx),
            "driver_s": max(s.dur - busy, 0.0),
            **{k: c[k] for k in COUNTER_KEYS if k != "exec_run_s"},
            "exec_busy_share": c["exec_run_s"] / (cores * s.dur) if s.dur > 0 else 0.0,
        }


class SparkCounters:
    """Reads jobs and stages that finished since a mark from Spark's
    application status store (``AppStatusStore``)."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        # stageList(statuses, details, withSummaries, quantiles, taskStatus)
        self._no_quantiles = getattr(self._store, "stageList$default$4")()

    def _stages(self):
        return self._store.stageList(None, False, False, self._no_quantiles, None)

    def _drain(self) -> None:
        self._bus.waitUntilEmpty()

    def _latest(self, items, key) -> int:
        return key(items.apply(0)) if items.size() > 0 else -1

    def mark(self) -> tuple[int, int]:
        self._drain()
        return (
            self._latest(self._store.jobsList(None), lambda j: j.jobId()),
            self._latest(self._stages(), lambda s: s.stageId()),
        )

    def since(self, mark: tuple[int, int]) -> tuple[dict, list]:
        """(summed counters, job [submit, complete] epoch intervals) of the
        jobs and stages newer than ``mark``. The store lists both newest
        first, so each scan stops at the mark."""
        self._drain()
        last_job, last_stage = mark
        out = dict.fromkeys(COUNTER_KEYS, 0)
        intervals = []
        jobs = self._store.jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= last_job:
                break
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1000, done.get().getTime() / 1000))
        stages = self._stages()
        for i in range(stages.size()):
            st = stages.apply(i)
            if st.stageId() <= last_stage:
                break
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["exec_cpu_s"] += st.executorCpuTime() / 1e9
            out["exec_run_s"] += st.executorRunTime() / 1e3
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.diskBytesSpilled()
            out["input_bytes"] += st.inputBytes()
            out["output_bytes"] += st.outputBytes()
        return out, intervals


# ---------------------------------------------------------------------------
# process tree: the driver Python process, the JVM it launched and the
# Python workers the JVM forks
# ---------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces: split after its closing paren
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """utime+stime of every live process in the tree, plus what each has
    collected from its reaped children."""
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields:
            total += sum(int(v) for v in fields[11:15])
    return total / _TICK


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Background high-water mark of the tree's summed resident memory."""

    def __init__(self, root: int | None = None, period: float = 0.5):
        self.root = root or os.getpid()
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.period)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(self.root))
