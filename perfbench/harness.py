"""Timed, failure-isolated calls into the library, with optional spans.

Every public call a workload times goes through ``Harness.query`` (a
call that returns a DataFrame) or ``Harness.action`` (a verb that runs
its own Spark jobs). A call is split into phases:

- ``build``: until the call returns its DataFrame (jobs started here
  are the call's hidden driver-side actions);
- ``plan``: forcing ``queryExecution().executedPlan()`` (Catalyst);
- ``exec``: the action that consumes the result (collect or write).

A verb has one ``exec`` phase. An exception or a failed output check
counts the call as failed; the run goes on.

With tracing on, each call is a span (name, start, end, parent,
request id) kept in memory, and each phase runs under its own Spark
job group ``pb<span>.<phase>`` so the event log attributes every job,
stage and task to a span. With tracing off no job group is set.
"""

from __future__ import annotations

import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

UNTIMED_GROUP = "pb.untimed"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    request: int
    start: float
    end: float = 0.0
    phases: dict = field(default_factory=dict)  # phase -> seconds
    attrs: dict = field(default_factory=dict)
    ok: bool = True

    @property
    def seconds(self) -> float:
        """Time inside the call's phases."""
        return sum(self.phases.values())


class Harness:
    def __init__(self, sc, traced: bool):
        self.sc = sc
        self.traced = traced
        self.attempted = 0
        self.failed = 0
        self.spans: list[Span] = []
        self.instrument_s = 0.0  # time spent setting job groups
        self._parents: list[Span] = []
        self._requests = 0
        self._timed = True
        if traced:
            sc.setJobGroup(UNTIMED_GROUP, "perfbench untimed work")

    # -- spans -------------------------------------------------------
    def _open(self, name: str, attrs: dict) -> Span:
        parent = self._parents[-1] if self._parents else None
        if parent is None:
            self._requests += 1
        span = Span(len(self.spans) + 1, name, parent.id if parent else None,
                    parent.request if parent else self._requests, time.perf_counter(),
                    attrs=dict(attrs))
        self.spans.append(span)
        return span

    @contextmanager
    def request(self, name: str, **attrs):
        """A parent span grouping the calls of one request (a pipeline
        pass, a maintenance cycle, a setup)."""
        span = self._open(name, attrs)
        self._parents.append(span)
        try:
            yield span
        finally:
            self._parents.pop()
            span.end = time.perf_counter()

    @contextmanager
    def untimed(self):
        """Calls inside are set-up or warm-up: still checked and counted
        in attempted/failed, but left out of the latency statistics."""
        self._timed = False
        try:
            yield
        finally:
            self._timed = True

    def _phase(self, span: Span, phase: str, fn):
        if self.traced:
            t = time.perf_counter()
            self.sc.setJobGroup(f"pb{span.id}.{phase}", f"{span.name} {phase}")
            self.instrument_s += time.perf_counter() - t
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            span.phases[phase] = time.perf_counter() - t0
            if self.traced:
                t = time.perf_counter()
                self.sc.setJobGroup(UNTIMED_GROUP, "perfbench untimed work")
                self.instrument_s += time.perf_counter() - t

    # -- calls -------------------------------------------------------
    def query(self, name: str, build, finish=None, check=None, **attrs):
        """Time a DataFrame-returning call: build, plan, then
        ``finish(df)`` (default: collect). Returns finish's result,
        or None when the call failed."""
        finish = finish or (lambda df: df.collect())

        def steps(span):
            df = self._phase(span, "build", build)
            self._phase(span, "plan", lambda: df._jdf.queryExecution().executedPlan())
            return self._phase(span, "exec", lambda: finish(df))

        return self._run(name, steps, check, attrs)

    def action(self, name: str, run, check=None, **attrs):
        """Time a verb that runs its own jobs. Returns its result, or
        None when the call failed."""
        return self._run(name, lambda span: self._phase(span, "exec", run), check, attrs)

    def _run(self, name, steps, check, attrs):
        span = self._open(name, attrs)
        span.attrs["timed"] = self._timed
        self.attempted += 1
        try:
            out = steps(span)
            span.end = time.perf_counter()
            if check is not None and not check(out):
                raise AssertionError(f"{name}: output check failed")
            return out
        except Exception:
            span.end = span.end or time.perf_counter()
            span.ok = False
            self.failed += 1
            print(f"perfbench: {name} failed", file=sys.stderr)
            traceback.print_exc(limit=3, file=sys.stderr)
            return None

    # -- results -----------------------------------------------------
    def timed_spans(self, prefix: str = "") -> list[Span]:
        """Successful timed call spans whose name starts with ``prefix``."""
        return [s for s in self.spans if s.ok and s.attrs.get("timed") and s.phases
                and s.name.startswith(prefix)]

    def request_seconds(self, request: Span) -> float:
        """Latency of one request: the summed latency of the successful
        timed calls under it."""
        return sum(s.seconds for s in self.timed_spans() if s.parent == request.id)
