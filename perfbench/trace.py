"""Timing and tagging of the benchmark's own calls into the package.

Untraced passes time each call and nothing else. A traced pass also
tags each call with a Spark job group, records a span for it (a child of
the pass's span), and reads its jobs' stage counters from the status
store right after it returns. Spans stay in memory and are written out
when the run ends.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from .probes import JobSummary, StatusStore, covered_ms


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    pass_id: int
    jobs: int = 0


@dataclass
class Call:
    """One finished call: its wall seconds and, when traced, its jobs."""

    name: str
    start: float
    seconds: float
    jobs: JobSummary | None = None

    @property
    def end(self) -> float:
        return self.start + self.seconds


@dataclass
class PassRecord:
    pass_id: int
    traced: bool
    calls: list = field(default_factory=list)
    seconds: float = 0.0

    def wall(self, name: str) -> float:
        return sum(c.seconds for c in self.calls if c.name == name)


class Recorder:
    """Runs the calls of one pass, closed-loop, one after another."""

    def __init__(self, spark, status: StatusStore, spans: list):
        self._sc = spark.sparkContext
        self._status = status
        self._spans = spans
        self._pass: PassRecord | None = None
        self._pass_span: int | None = None

    def begin(self, pass_id: int, traced: bool) -> PassRecord:
        self._pass = PassRecord(pass_id, traced)
        if traced:
            self._spans.append(Span(f"pass.{pass_id}", time.time(), 0.0, None, pass_id))
            self._pass_span = len(self._spans) - 1
        return self._pass

    def end(self) -> PassRecord:
        rec, self._pass = self._pass, None
        if rec.traced:
            self._spans[self._pass_span].end = time.time()
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        return rec

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn``, which must materialise its result, as call
        ``name`` of the current pass."""
        rec = self._pass
        if rec.traced:
            group = f"p{rec.pass_id}.{len(rec.calls)}.{name}"
            self._sc.setJobGroup(group, name)
        start = time.time()
        p0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            call = Call(name, start, time.perf_counter() - p0)
            if rec.traced:
                call.jobs = self._status.summarize(
                    self._status.group_job_ids(group)
                )
                self._spans.append(
                    Span(name, start, call.end, self._pass_span, rec.pass_id,
                         call.jobs.counts["jobs"])
                )
            rec.calls.append(call)


def driver_gap_share(calls) -> float:
    """Share of the traced calls' wall time that no job's
    submission-to-completion interval covers."""
    wall = gap = 0.0
    for c in calls:
        ms = c.seconds * 1000.0
        wall += ms
        gap += ms - covered_ms(c.jobs.intervals, c.start * 1000.0, c.end * 1000.0)
    return gap / wall if wall > 0 else 0.0


def busy_ms(calls) -> float:
    """Wall milliseconds during which at least one job of the calls ran."""
    return sum(
        covered_ms(c.jobs.intervals, c.start * 1000.0, c.end * 1000.0)
        for c in calls
    )
