"""Span recorder for the traced benchmark run.

Timing wrappers are monkeypatched onto the public entry points of the
``etl_spark`` modules. Each call opens a span: a name, a parent, a
``perf_counter`` start and end, and the Spark jobs it launched. Spans live
in memory and are written to the run's detail file at the end.

Job attribution. On entry a span gives the calling thread a job group of
its own (``sc.setJobGroup``) and restores the parent's group on exit, so
``statusTracker().getJobIdsForGroup`` returns the span's *self* jobs. A
job launched from a thread that did not inherit the group (a driver
thread pool) carries no group; those jobs are assigned by job id to the
innermost span that was open when the id was issued. The run checks that
the per-span counts add up to the number of job ids the scheduler issued
while tracing was on.

While the recorder is switched off, each wrapper is one attribute test
and a direct call, so a traced run can interleave traced and untraced
operations and report the difference as the tracing overhead.
"""

from __future__ import annotations

import functools
import time
from dataclasses import dataclass, field
from typing import Any, Callable

@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    job_lo: int = 0
    job_hi: int = 0
    jobs: int = 0
    children_s: float = 0.0
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return (self.end or self.start) - self.start

    @property
    def self_seconds(self) -> float:
        return self.seconds - self.children_s

    def as_dict(self) -> dict[str, Any]:
        return {
            "id": self.id, "name": self.name, "parent": self.parent,
            "start": self.start, "end": self.end, "s": self.seconds,
            "self_s": self.self_seconds, "jobs": self.jobs,
            "job_ids": [self.job_lo, self.job_hi], **self.attrs,
        }


class SpanRecorder:
    """Nested spans with self time and per-span Spark job counts."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.active = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._groups: dict[int, str] = {}
        self._intervals: list[list[int]] = []
        self._patches: list[tuple[Any, str, Any]] = []

    # -- Spark job ids -------------------------------------------------
    def next_job_id(self) -> int:
        """The id the scheduler will give the next job (a counter on the
        JVM side, exact across all driver threads)."""
        return int(self.sc._jsc.sc().dagScheduler().nextJobId())

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(self._groups[span.id], span.name)

    # -- span lifecycle ------------------------------------------------
    def start(self) -> None:
        """Switch recording on; job ids issued until :meth:`stop` count
        towards the run's total."""
        self._intervals.append([self.next_job_id(), -1])
        self.active = True

    def stop(self) -> None:
        self.active = False
        self._intervals[-1][1] = self.next_job_id()

    def open(self, name: str, **attrs) -> Span:
        parent = self._stack[-1] if self._stack else None
        span = Span(
            id=len(self.spans), name=name,
            parent=parent.id if parent else None,
            start=time.perf_counter(), job_lo=self.next_job_id(),
            attrs=attrs,
        )
        self.spans.append(span)
        self._groups[span.id] = f"perfbench-span-{id(self)}-{span.id}"
        self._stack.append(span)
        self._set_group(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        span.job_hi = self.next_job_id()
        popped = self._stack.pop()
        if popped is not span:
            raise RuntimeError(f"span {span.name} closed out of order")
        parent = self._stack[-1] if self._stack else None
        if parent is not None:
            parent.children_s += span.seconds
        self._set_group(parent)

    def span(self, name: str, **attrs):
        """Context manager form, for the benchmark's own operations."""
        rec = self

        class _Ctx:
            def __enter__(self_inner):
                self_inner.span = rec.open(name, **attrs) if rec.active else None
                return self_inner.span

            def __exit__(self_inner, *exc):
                if self_inner.span is not None:
                    if exc[0] is not None:
                        self_inner.span.attrs["error"] = exc[0].__name__
                    rec.close(self_inner.span)
                return False

        return _Ctx()

    # -- monkeypatching -------------------------------------------------
    def wrap(self, owner: Any, attr: str, name: str | Callable[..., str]) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span named
        ``name`` (or ``name(*args)`` when a callable) while recording is on.
        A call made while a span of the same name is innermost is not
        split again: the benchmark opens that span itself around a lazy
        entry point plus the action that runs it."""
        orig = getattr(owner, attr)
        rec = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not rec.active:
                return orig(*args, **kwargs)
            span_name = name(*args) if callable(name) else name
            if span_name is None or (
                rec._stack and rec._stack[-1].name == span_name
            ):
                return orig(*args, **kwargs)
            span = rec.open(span_name)
            try:
                return orig(*args, **kwargs)
            except BaseException as err:
                span.attrs["error"] = type(err).__name__
                raise
            finally:
                rec.close(span)

        self._patches.append((owner, attr, owner.__dict__.get(attr, orig)))
        setattr(owner, attr, wrapper)

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- results ---------------------------------------------------------
    def attribute_jobs(self) -> dict[str, int]:
        """Fill each span's self job count; return the totals check."""
        tracker = self.sc.statusTracker()
        for span in self.spans:
            span.jobs = len(tracker.getJobIdsForGroup(self._groups[span.id]))
        ungrouped = sorted(
            j for j in tracker.getJobIdsForGroup(None)
            if any(lo <= j < hi for lo, hi in self._intervals)
        )
        for j in ungrouped:
            owner = None
            for span in self.spans:
                if span.job_lo <= j < span.job_hi and (
                    owner is None or span.job_lo >= owner.job_lo
                ):
                    owner = span
            if owner is not None:
                owner.jobs += 1
                owner.attrs["thread_jobs"] = owner.attrs.get("thread_jobs", 0) + 1
        attributed = sum(s.jobs for s in self.spans)
        return {
            "jobs_total": sum(hi - lo for lo, hi in self._intervals),
            "jobs_attributed": attributed,
            "jobs_from_other_threads": len(ungrouped),
        }
