"""Spans recorded from outside the program, for the traced run.

A span times one call and runs it under its own Spark job group, so
``statusTracker`` yields the jobs, stages, tasks and failed tasks that
call launched. ``wrap`` replaces a function that a module imported by
name (``plans.etl.merge_version``, ...) with a spanned one, so the
program itself is not edited. Spans are kept in memory and summarised
when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    gid: str  # the Spark job group its calls run under
    start: float = 0.0
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    children: list[Span] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def self_seconds(self) -> float:
        return self.seconds - sum(c.seconds for c in self.children)

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()

    def total(self, attr: str) -> int:
        """A count over this span and every span below it."""
        return sum(getattr(s, attr) for s in self.walk())


class Tracer:
    """Records nested spans; ``overhead_s`` is the time the tracer spent
    on its own bookkeeping (job-group switches and status queries)."""

    def __init__(self, sc):
        self.sc = sc
        self.roots: list[Span] = []
        self.overhead_s = 0.0
        self._stack: list[Span] = []
        self._ids = itertools.count()

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.gid, span.name)

    def _count(self, span: Span) -> None:
        st = self.sc.statusTracker()
        for jid in st.getJobIdsForGroup(span.gid):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            span.jobs += 1
            for sid in info.stageIds:
                s = st.getStageInfo(sid)
                if s is None or s.numCompletedTasks + s.numFailedTasks == 0:
                    continue  # skipped: its output was reused
                span.stages += 1
                span.tasks += s.numCompletedTasks + s.numFailedTasks
                span.failed_tasks += s.numFailedTasks

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, f"perfbench-{next(self._ids)}")
        self._set_group(sp)
        (parent.children if parent else self.roots).append(sp)
        self._stack.append(sp)
        t1 = time.perf_counter()
        sp.start = t1
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._count(sp)
            self._set_group(parent)
            self.overhead_s += (t1 - t0) + (time.perf_counter() - sp.end)

    def wrap(self, module, attr: str, name: str) -> None:
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, spanned)

    def find(self, name: str) -> list[Span]:
        return [s for r in self.roots for s in r.walk() if s.name == name]
