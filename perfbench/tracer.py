"""Outside-in tracing for the benchmark: spans around package calls, with
Spark job/stage/SQL data attributed to each call by job-id interval.

Everything here runs in the benchmark process and reads Spark's own status
stores; nothing is hooked inside the package. The harness is single
threaded, so the jobs a call ran are exactly the job ids handed out between
entering and leaving its span (``DAGScheduler.nextJobId``). Job groups are
not used: the package is free to set its own.
"""

from __future__ import annotations

import math
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# The measures every traced call site reports, in output order.
# ``python_s`` is Python-worker time; of the current call paths only the
# streaming stack's crosses into Python workers.
MEASURES = (
    "calls",
    "wall_s",
    "build_s",
    "jobs",
    "tasks",
    "driver_gap_s",
    "exec_run_s",
    "exec_cpu_s",
    "python_s",
    "shuffle_mb",
    "slots_busy",
)

PYTHON_TIME_METRIC = "time to run Python workers"


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``intervals`` ((start, end) pairs), optionally
    clipped to [lo, hi]. Overlaps count once."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total = 0.0
    end = -math.inf
    for a, b in sorted(clipped):
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def driver_gap(wall_start: float, wall_end: float, stage_intervals) -> float:
    """Wall time of a call not covered by any of its stages: planning, job
    scheduling, py4j and driver-side Python."""
    busy = union_length(stage_intervals, wall_start, wall_end)
    return max(wall_end - wall_start - busy, 0.0)


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank ``q`` quantile."""
    return n - math.ceil(q * n)


def percentile(values, q: float, min_beyond: int = 0) -> float:
    """Quantile ``q`` by linear interpolation between order statistics
    (numpy's default). Raises ValueError when fewer than ``min_beyond``
    samples lie beyond it, so a tail percentile is never reported from too
    few samples."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    if samples_beyond(len(xs), q) < min_beyond:
        raise ValueError(
            f"p{q * 100:g} needs {min_beyond} samples beyond it; "
            f"{len(xs)} samples leave {samples_beyond(len(xs), q)}"
        )
    h = (len(xs) - 1) * q
    lo = math.floor(h)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (h - lo)


_DURATION_RE = re.compile(r"([0-9]+(?:\.[0-9]+)?)\s*(ms|s|min|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0}


def parse_duration(text: str) -> float:
    """Seconds from a SQL timing metric as the SQL status store renders it:
    either ``"5.5 s"`` or ``"total (min, med, max ...)\\n5.5 s (...)"``."""
    m = _DURATION_RE.search(text)
    return float(m.group(1)) * _UNIT_S[m.group(2)] if m else 0.0


@dataclass
class Span:
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    # measured only for call-site spans
    site: bool = False
    built: float | None = None
    jobs: tuple[int, int] = (0, 0)
    stats: dict = field(default_factory=dict)


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        (s.end - s.start) - union_length(children.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]


class SiteHandle:
    """Yielded by ``Tracer.site``; ``built()`` marks the moment the package
    function returned, before its result is materialized."""

    def __init__(self, span: Span | None):
        self._span = span

    def built(self) -> None:
        if self._span is not None:
            self._span.built = time.perf_counter()


class NullTracer:
    """The untraced run: same interface, no status-store reads."""

    enabled = False
    collect_s = 0.0

    @contextmanager
    def span(self, name: str):
        yield

    @contextmanager
    def site(self, name: str):
        yield SiteHandle(None)


class Tracer:
    """Records spans in memory; call-site spans also collect the Spark work
    they caused. ``collect_s`` is the tracer's own bookkeeping time."""

    enabled = True

    def __init__(self, spark):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.collect_s = 0.0
        self.sites: dict[str, dict] = {}
        jsc = spark.sparkContext._jsc.sc()
        self._jsc = jsc
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    # -- spans ---------------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        with self._open(name, site=False) as _:
            yield

    @contextmanager
    def site(self, name: str):
        with self._open(name, site=True) as span:
            yield SiteHandle(span)

    @contextmanager
    def _open(self, name: str, site: bool):
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        j0 = x0 = 0
        if site:
            j0 = self._next_job_id()
            x0 = self._sql.executionsCount()
        self.collect_s += time.perf_counter() - t_in
        span = Span(name, parent, start=time.perf_counter(), site=site)
        self.spans.append(span)
        self._stack.append(len(self.spans) - 1)
        wall0 = time.time()
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            wall1 = time.time()
            self._stack.pop()
            if site:
                t_out = time.perf_counter()
                span.jobs = (j0, self._next_job_id())
                span.stats = self._collect(span, j0, x0, wall0, wall1)
                self._accumulate(span)
                self.collect_s += time.perf_counter() - t_out

    # -- Spark status stores ------------------------------------------------

    def _next_job_id(self) -> int:
        return int(self._jsc.dagScheduler().nextJobId())

    def _collect(self, span: Span, j0: int, x0: int, wall0: float, wall1: float) -> dict:
        # job/stage end events reach the status store through the listener
        # bus; drain it so the call's last stage is visible
        self._jsc.listenerBus().waitUntilEmpty()
        j1 = span.jobs[1]
        intervals, tasks, run_ms, cpu_ns, shuffle_b = [], 0, 0, 0, 0
        for jid in range(j0, j1):
            job = self._store.job(jid)
            it = job.stageIds().iterator()
            while it.hasNext():
                stage = self._store.lastStageAttempt(it.next())
                sub, done = stage.submissionTime(), stage.completionTime()
                if not (sub.isDefined() and done.isDefined()):
                    continue  # skipped (reused shuffle output) or never ran
                intervals.append(
                    (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
                )
                tasks += stage.numCompleteTasks()
                run_ms += stage.executorRunTime()
                cpu_ns += stage.executorCpuTime()
                shuffle_b += stage.shuffleReadBytes() + stage.shuffleWriteBytes()
        python_s = 0.0
        n_exec = int(self._sql.executionsCount()) - int(x0)
        if n_exec > 0:
            execs = self._sql.executionsList(int(x0), n_exec).iterator()
            while execs.hasNext():
                ex = execs.next()
                values = self._sql.executionMetrics(ex.executionId())
                metrics = ex.metrics().iterator()
                while metrics.hasNext():
                    m = metrics.next()
                    if m.name() == PYTHON_TIME_METRIC and values.contains(m.accumulatorId()):
                        python_s += parse_duration(values.apply(m.accumulatorId()))
        busy = union_length(intervals, wall0, wall1)
        end = span.built if span.built is not None else span.end
        return {
            "calls": 1,
            "wall_s": span.end - span.start,
            "build_s": end - span.start,
            "jobs": j1 - j0,
            "tasks": tasks,
            "driver_gap_s": driver_gap(wall0, wall1, intervals),
            "exec_run_s": run_ms / 1000.0,
            "exec_cpu_s": cpu_ns / 1e9,
            "python_s": python_s,
            "shuffle_mb": shuffle_b / 1e6,
            "busy_s": busy,
        }

    def _accumulate(self, span: Span) -> None:
        acc = self.sites.setdefault(span.name, {})
        for k, v in span.stats.items():
            acc[k] = acc.get(k, 0) + v

    # -- reporting ----------------------------------------------------------

    def site_metrics(self, site_names) -> dict[str, float]:
        """``<site>.<measure>`` for every name in ``site_names``; a site with
        no calls reports zeros."""
        out = {}
        for name in site_names:
            acc = self.sites.get(name, {})
            for m in MEASURES:
                if m == "slots_busy":
                    busy = acc.get("busy_s", 0.0)
                    out[f"{name}.{m}"] = acc.get("exec_run_s", 0.0) / busy if busy else 0.0
                else:
                    out[f"{name}.{m}"] = acc.get(m, 0)
        return out

    def site_cover(self, lo: float, hi: float) -> float:
        """Share of [lo, hi] covered by call-site spans."""
        spans = [(s.start, s.end) for s in self.spans if s.site]
        return union_length(spans, lo, hi) / (hi - lo) if hi > lo else 0.0

    def dump(self) -> list[dict]:
        selfs = self_times(self.spans)
        return [
            {
                "name": s.name,
                "parent": s.parent,
                "start": s.start,
                "end": s.end,
                "self_s": st,
                "jobs": list(s.jobs) if s.site else None,
                **s.stats,
            }
            for s, st in zip(self.spans, selfs)
        ]
