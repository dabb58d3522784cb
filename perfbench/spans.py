"""In-memory span recorder for the traced mode.

Spans are recorded only here, around the engine's public calls: each
wrapper records name, start, end, parent, the cycle id the span belongs to,
the Spark jobs launched inside it and the CPU the process set consumed.
Spans stay in memory and are written out once, when the run ends.

Spark jobs are counted from the scheduler's job-id counter, which every
action, AQE stage and collect advances whatever thread submits it. The
benchmark's driver issues one operation at a time, so the counter's
advance inside a span is the number of jobs the span launched — including
the foreachBatch callback thread, where job-group properties set on the
driver thread would not reach. ``check_job_counter`` verifies the counter
against actions with a known job count.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    cycle: int | None = None
    phase: str = ""
    jobs: int = 0
    cpu_s: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class JobCounter:
    """Jobs submitted so far by the SparkContext."""

    def __init__(self, spark) -> None:
        self._sched = spark.sparkContext._jsc.sc().dagScheduler()

    def __call__(self) -> int:
        return int(self._sched.nextJobId())


def check_job_counter(spark, jobs: JobCounter) -> None:
    """A collect of a one-partition range is exactly one job. Raises if
    the counter disagrees."""
    j0 = jobs()
    spark.range(0, 10, 1, 1).collect()
    j1 = jobs()
    if j1 - j0 != 1:
        raise RuntimeError(f"job counter: expected 1 job for a collect, saw {j1 - j0}")


class Tracer:
    """Records spans when enabled; a disabled tracer records nothing and
    wraps nothing, so the untraced mode runs the engine's own methods."""

    def __init__(self, enabled: bool, jobs: JobCounter | None, cpu) -> None:
        self.enabled = enabled
        self.jobs = jobs
        self.cpu = cpu  # () -> cumulative engine CPU seconds (procstat)
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.cycle: int | None = None
        #: "warmup", "setup", "timed" or "check", stamped on each span
        self.phase = ""

    # ---- spans -------------------------------------------------------
    def begin(self, name: str) -> int | None:
        if not self.enabled:
            return None
        s = Span(
            name=name,
            start=time.perf_counter(),
            parent=self._stack[-1] if self._stack else None,
            cycle=self.cycle,
            phase=self.phase,
            jobs=self.jobs(),
            cpu_s=self.cpu(),
        )
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def finish(self, idx: int | None) -> None:
        if idx is None:
            return
        s = self.spans[idx]
        s.end = time.perf_counter()
        s.jobs = self.jobs() - s.jobs
        s.cpu_s = self.cpu() - s.cpu_s
        # a span is closed by the frame that opened it; pop through any
        # child left open by an exception
        while self._stack and self._stack.pop() != idx:
            pass

    def span(self, name: str):
        return _SpanCtx(self, name)

    # ---- wrapping public engine calls --------------------------------
    def wrap(self, owner, attr: str, name: str, before=None, after=None) -> None:
        """Replace ``owner.attr`` by a wrapper recording a span named
        ``name``. ``before(args, kwargs)`` runs outside the span and
        returns a state (it may add keyword arguments);
        ``after(span_attrs, args, kwargs, result, state)`` runs after the
        span closes and may add attributes."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            state = before(args, kwargs) if before is not None else None
            idx = tracer.begin(name)
            try:
                res = orig(*args, **kwargs)
            finally:
                tracer.finish(idx)
            if after is not None:
                after(tracer.spans[idx].attrs, args, kwargs, res, state)
            return res

        setattr(owner, attr, wrapper)

    # ---- derived numbers ----------------------------------------------
    def named(self, name: str, phase: str = "timed") -> list[tuple[int, Span]]:
        return [(i, s) for i, s in enumerate(self.spans) if s.name == name and s.phase == phase]

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_ms(self, idx: int) -> float:
        """Span duration minus the union of its children's intervals."""
        s = self.spans[idx]
        iv = sorted((c.start, c.end) for c in self.children(idx))
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in iv:
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return s.ms - covered * 1000.0

    def self_jobs(self, idx: int) -> int:
        return self.spans[idx].jobs - sum(c.jobs for c in self.children(idx))

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = self.spans[0].start if self.spans else 0.0
        rows = []
        for i, s in enumerate(self.spans):
            d = asdict(s)
            d["id"] = i
            d["start"] = s.start - t0
            d["end"] = s.end - t0
            d["self_ms"] = self.self_ms(i)
            d["self_jobs"] = self.self_jobs(i)
            rows.append(d)
        with open(path, "w") as f:
            json.dump({**extra, "spans": rows}, f, indent=1, default=str)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer, self.name = tracer, name
        self.idx = None

    def __enter__(self):
        self.idx = self.tracer.begin(self.name)
        return self

    def set(self, **attrs) -> None:
        if self.idx is not None:
            self.tracer.spans[self.idx].attrs.update(attrs)

    def __exit__(self, *exc) -> None:
        self.tracer.finish(self.idx)


def p50(xs) -> float:
    xs = [float(x) for x in xs]
    return statistics.median(xs) if xs else 0.0
