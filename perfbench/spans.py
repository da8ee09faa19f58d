"""Span tracer and Spark status-store reader for the traced runs.

``Tracer.wrap(owner, attr, name)`` replaces ``owner.attr`` with a
wrapper that records one span per call: name, start, end, parent span
and run id. The engine resolves these attributes at call time, so the
wrappers see every call without any change to the engine. ``restore``
puts the originals back.

``SparkStore.read()`` returns the Spark work finished since its last
call: jobs, stages, tasks and the summed stage metrics of Spark's
status store. Spark keeps only the last ``spark.ui.retainedJobs`` jobs,
so it is read after every table task and every query, never once per
run; ``lost_jobs`` counts jobs that were evicted before they could be
read.
"""

from __future__ import annotations

import contextlib
import functools
import time
from dataclasses import dataclass, field, fields

_DONE_STAGE = ("COMPLETE", "FAILED")


@dataclass
class Work:
    """Spark work of one operation, summed over its stages."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    jvm_gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    max_task_skew: float = 0.0  # slowest task / median task, worst stage
    lost_jobs: int = 0

    def add(self, other: Work) -> None:
        for f in fields(self):
            a, b = getattr(self, f.name), getattr(other, f.name)
            setattr(self, f.name, max(a, b) if f.name == "max_task_skew" else a + b)


class SparkStore:
    """Incremental reader of the JVM ``AppStatusStore``."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        q = sc._gateway.new_array(sc._gateway.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        self._quantiles = q
        self._seen = self._last_job_id()

    def _drain(self) -> None:
        # job and stage ends reach the store through the listener bus,
        # which lags the action that caused them
        self._jsc.listenerBus().waitUntilEmpty()

    def _last_job_id(self) -> int:
        self._drain()
        jobs = self._store.jobsList(None)  # newest first
        return jobs.head().jobId() if jobs.nonEmpty() else -1

    def read(self) -> Work:
        self._drain()
        w = Work()
        jobs = self._store.jobsList(None)
        it = jobs.iterator()
        stage_ids: set[int] = set()
        newest = self._seen
        oldest_read = None
        while it.hasNext():
            job = it.next()
            jid = job.jobId()
            if jid <= self._seen:
                break
            newest = max(newest, jid)
            oldest_read = jid
            w.jobs += 1
            sids = job.stageIds().iterator()
            while sids.hasNext():
                stage_ids.add(sids.next())
        if oldest_read is not None:
            w.lost_jobs = oldest_read - self._seen - 1
        self._seen = newest
        for sid in sorted(stage_ids):
            self._add_stage(w, sid)
        return w

    def _add_stage(self, w: Work, sid: int) -> None:
        try:
            st = self._store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 — skipped or evicted stage
            return
        if st.status().toString() not in _DONE_STAGE:
            return  # skipped: its output came from an earlier stage
        w.stages += 1
        n = st.numTasks()
        w.tasks += n
        w.executor_run_s += st.executorRunTime() / 1e3
        w.executor_cpu_s += st.executorCpuTime() / 1e9
        w.jvm_gc_s += st.jvmGcTime() / 1e3
        w.shuffle_write_bytes += st.shuffleWriteBytes()
        w.shuffle_read_bytes += st.shuffleReadBytes()
        w.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
        if n > 1:
            dist = self._store.taskSummary(sid, st.attemptId(), self._quantiles)
            if dist.isDefined():
                run = dist.get().executorRunTime()
                med, top = run.apply(0), run.apply(1)
                w.max_task_skew = max(w.max_task_skew, top / med if med > 0 else 1.0)
        else:
            w.max_task_skew = max(w.max_task_skew, 1.0)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    own: Work = field(default_factory=Work)  # work between its child spans
    work: Work = field(default_factory=Work)  # own + children, set at end
    extra: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder; spans are written out once, at the end.

    With a ``SparkStore`` the tracer reads Spark's work at every span
    boundary, so each span's ``own`` work is exactly what ran between
    its boundaries and those of its children, and ``work`` adds the
    children back. Work outside any span lands in ``outside``.
    """

    def __init__(self, run_id: str, store: SparkStore | None = None):
        self.run_id = run_id
        self.store = store
        self.spans: list[Span] = []
        self.outside = Work()
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping

    def _collect(self) -> None:
        """Credit the work since the last boundary to the open span."""
        if self.store is None:
            return
        t = time.perf_counter()
        w = self.store.read()
        (self.spans[self._stack[-1]].own if self._stack else self.outside).add(w)
        self.overhead_s += time.perf_counter() - t

    def begin(self, name: str) -> int:
        self._collect()
        parent = self._stack[-1] if self._stack else None
        t = time.perf_counter()
        self.spans.append(Span(name, t, t, parent, self.run_id))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def end(self, idx: int) -> Span:
        span = self.spans[idx]
        span.end = time.perf_counter()
        self._collect()
        self._stack.pop()
        span.work.add(span.own)
        for child in self.spans[idx + 1:]:
            if child.parent == idx:
                span.work.add(child.work)
        return span

    @contextlib.contextmanager
    def span(self, name: str, **extra):
        idx = self.begin(name)
        self.spans[idx].extra.update(extra)
        try:
            yield self.spans[idx]
        finally:
            self.end(idx)

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Trace every call of ``owner.attr``. ``after(span, args,
        result)`` may add measurements to the span; its time counts as
        tracer overhead."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name) as span:
                result = orig(*args, **kwargs)
            if after is not None:
                t = time.perf_counter()
                after(span, args, result)
                self.overhead_s += time.perf_counter() - t
            return result

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def seconds(self, name: str) -> float:
        return sum(s.end - s.start for s in self.named(name))

    def work(self, name: str) -> Work:
        w = Work()
        for s in self.named(name):
            w.add(s.work)
        return w

    def as_json(self) -> list[dict]:
        return [
            {
                "name": s.name, "start": s.start, "end": s.end,
                "parent": s.parent, "run_id": s.run_id,
                "work": s.work.__dict__, **s.extra,
            }
            for s in self.spans
        ]
