"""Spans and counts recorded around the benchmark's calls into the engine.

Trace mode only. A span is (name, start, end, parent, op id) plus the Spark
jobs, stages and tasks launched while it was open and any counts the caller
attaches (scan rows, bytes, hits). Spans are kept in memory and written out
as JSON lines when the run ends. End-to-end metrics come from untraced runs;
``overhead_s`` is the time the tracer itself spent (status-tracker calls,
plan walks), so the cost of tracing is reported next to what it measured.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    op: int | None
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    counts: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class JobCounter:
    """Jobs, stages and tasks launched between two points, by job-id range.

    Job groups are thread-local and the build launches jobs from its own
    threads, so calls are attributed by the range of job ids they created:
    one client thread issues one call at a time. The status store is fed
    asynchronously by the listener bus, which is drained before each read
    so a job submitted just before a span ends is not counted in the next.
    """

    def __init__(self, sc):
        self._tracker = sc.statusTracker()
        self._bus = sc._jsc.sc().listenerBus()

    def last_job_id(self) -> int:
        self._bus.waitUntilEmpty()
        return max(self._tracker.getJobIdsForGroup(None), default=-1)

    def stages_and_tasks(self, first: int, last: int) -> tuple[int, int]:
        stages = tasks = 0
        for jid in range(first + 1, last + 1):
            job = self._tracker.getJobInfo(jid)
            if job is None:
                continue
            for sid in job.stageIds:
                st = self._tracker.getStageInfo(sid)
                # a stage skipped because its shuffle output was reused runs
                # no tasks; count only stages that ran some
                if st is not None and st.numCompletedTasks + st.numFailedTasks:
                    stages += 1
                    tasks += st.numCompletedTasks + st.numFailedTasks
        return stages, tasks


class Tracer:
    """Records spans when constructed with a SparkContext; a no-op otherwise."""

    def __init__(self, sc=None):
        self.enabled = sc is not None
        self._jobs = JobCounter(sc) if self.enabled else None
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        j0 = self._jobs.last_job_id()
        sp = Span(name, op, self._stack[-1] if self._stack else None, 0.0)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        sp.start = time.perf_counter()
        self.overhead_s += sp.start - t
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            j1 = self._jobs.last_job_id()
            sp.jobs = j1 - j0
            sp.stages, sp.tasks = self._jobs.stages_and_tasks(j0, j1)
            self.overhead_s += time.perf_counter() - sp.end

    def current_op(self) -> int | None:
        return self.spans[self._stack[-1]].op if self._stack else None

    def add_counts(self, sp: Span | None, fn) -> None:
        """Attach counts computed by ``fn()`` to ``sp``, charged as overhead."""
        if sp is None:
            return
        t = time.perf_counter()
        sp.counts.update(fn())
        self.overhead_s += time.perf_counter() - t

    def named(self, name: str, ops: set[int] | None = None) -> list[Span]:
        return [
            s for s in self.spans
            if s.name == name and (ops is None or s.op in ops)
        ]

    def median_s(self, name: str) -> float:
        spans = self.named(name)
        return statistics.median(s.seconds for s in spans) if spans else 0.0

    def mean_count(self, name: str, key: str, ops: set[int] | None) -> float:
        """Per-call mean of a count over the spans of ``ops``: a fixed set of
        calls, so the value repeats exactly between runs of one seed."""
        spans = self.named(name, ops)
        if not spans:
            return 0.0
        vals = [getattr(s, key) if key in ("jobs", "stages", "tasks")
                else s.counts.get(key, 0) for s in spans]
        return sum(vals) / len(vals)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **asdict(s)}) + "\n")


def scan_metrics(df) -> dict:
    """Rows and bytes read by the file scans of an executed DataFrame.

    Walks the executed physical plan, through adaptive query stages, reused
    exchanges and subqueries, and sums the scan nodes' SQL metrics."""
    rows = nbytes = 0
    seen: set[int] = set()
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        if node.id() in seen:
            continue
        seen.add(node.id())
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if cls.startswith("Reused"):
            todo.append(node.child())
            continue
        if node.nodeName().startswith("Scan"):
            m = node.metrics()
            for key, acc in (("numOutputRows", "rows"), ("filesSize", "bytes")):
                opt = m.get(key)
                if opt.isDefined():
                    v = int(opt.get().value())
                    if acc == "rows":
                        rows += v
                    else:
                        nbytes += v
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
        subs = node.subqueries()
        todo.extend(subs.apply(i) for i in range(subs.size()))
    return {"scan_rows": rows, "scan_bytes": nbytes}
