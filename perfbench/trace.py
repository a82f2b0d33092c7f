"""Spans and Spark counters, recorded from outside the engine.

A span wraps one call into a layer's public function.  It records its
name, start, end, parent span, iteration id and thread, and tags the
Spark jobs the call launches with a job group (``sc.setJobGroup``, which
is thread-local, so concurrent clients never share a group).

Job counts come from the scheduler's job-id counter: a span that runs
alone on the engine owns every job id issued between its start and end,
including jobs the engine launches from its own threads and streaming
jobs (which run under the stream's own group).  Under concurrent clients
the id ranges overlap, so each span counts the jobs of its own group
instead.  Stage and task counts are read from ``statusTracker()`` once
the listener bus has drained.

With tracing off, ``span`` still measures wall time but touches nothing
in Spark, so the untraced run pays only a clock read per call.  With it
on, the tracer times its own calls into Spark per iteration
(``overhead``): how much longer a traced iteration runs than an
untraced one.  Plan profiles are taken after the iteration, untimed.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    iteration: int
    thread: str
    start: float
    end: float = 0.0
    group: str = ""
    first_job: int = 0
    end_job: int = 0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, concurrent: bool = False):
        self.enabled = False
        self.concurrent = concurrent
        self.spans: list[Span] = []
        self.iteration = -1
        self._sc = None
        self._lock = threading.Lock()
        self._local = threading.local()
        self._t0 = time.perf_counter()
        self._overhead: dict[tuple[int, str], float] = {}

    def _charge(self, t0: float) -> None:
        key = (self.iteration, threading.current_thread().name)
        with self._lock:
            self._overhead[key] = self._overhead.get(key, 0.0) + time.perf_counter() - t0

    def overhead(self, iteration: int) -> float:
        """Seconds the tracer's own calls added to ``iteration``: the
        largest total of any one thread, since threads trace in parallel."""
        return max(
            (v for (it, _), v in self._overhead.items() if it == iteration), default=0.0
        )

    def attach(self, sc) -> None:
        self._sc = sc

    def next_job_id(self) -> int:
        return int(self._sc._jsc.sc().dagScheduler().nextJobId())

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str):
        """Time one call; with tracing on, also tag and count its jobs."""
        stack = self._stack()
        with self._lock:
            sid = len(self.spans)
            sp = Span(
                id=sid,
                name=name,
                parent=stack[-1].id if stack else None,
                iteration=self.iteration,
                thread=threading.current_thread().name,
                start=time.perf_counter() - self._t0,
            )
            self.spans.append(sp)
        tagged = self.enabled and self._sc is not None
        if tagged:
            t0 = time.perf_counter()
            sp.group = f"perfbench-{sid}"
            self._sc.setJobGroup(sp.group, name)
            sp.first_job = self.next_job_id()
            self._charge(t0)
        stack.append(sp)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.perf_counter() - self._t0
            if tagged:
                t0 = time.perf_counter()
                sp.end_job = self.next_job_id()
                if stack:
                    self._sc.setJobGroup(stack[-1].group, stack[-1].name)
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
                    self._sc.setLocalProperty("spark.job.description", None)
                self._charge(t0)

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def job_ids(self, sp: Span, by_range: bool = False) -> list[int]:
        """Jobs launched during ``sp``, its child spans included.

        ``by_range`` counts every job issued while the span ran, whoever
        launched it; use it for a span that has the engine to itself."""
        if by_range or not self.concurrent:
            return list(range(sp.first_job, sp.end_job))
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids = [int(j) for j in self._sc.statusTracker().getJobIdsForGroup(sp.group)]
        for child in self.children(sp):
            ids.extend(self.job_ids(child))
        return ids

    def spark_counts(self, job_ids: list[int]) -> dict[str, int]:
        """Jobs, executed stages and completed tasks for ``job_ids``."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        stages: set[int] = set()
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stages.update(int(s) for s in info.stageIds)
        n_stages = n_tasks = 0
        for sid in stages:
            st = tracker.getStageInfo(sid)
            if st is not None and st.numCompletedTasks > 0:
                n_stages += 1
                n_tasks += st.numCompletedTasks
        return {"jobs": len(job_ids), "stages": n_stages, "tasks": n_tasks}

    def busy(self, name: str, iteration: int) -> float:
        """Summed seconds of the spans named ``name`` in ``iteration``."""
        return sum(s.seconds for s in self.named(name, iteration))

    def named(self, name: str, iteration: int) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.iteration == iteration]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)
