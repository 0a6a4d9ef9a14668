"""In-memory spans recorded around calls into the program's layers.

A span has a name, start and end (epoch seconds), its own id, the id of the
span that caused it and the id of the request it belongs to. The current
span travels in a context variable, so it follows a request from the client
thread into the worker thread that ``asyncio.to_thread`` starts for
``GraphQLService.run``. Spark jobs are not spans the benchmark records:
:func:`spark_jobs` reads them from Spark's status store afterwards, keyed by
the job group set while the request ran.
"""

from __future__ import annotations

import contextlib
import contextvars
import itertools
import json
import threading
import time
from dataclasses import dataclass, field

_current: contextvars.ContextVar["Span | None"] = contextvars.ContextVar("span", default=None)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    request: int
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """Collects spans. A span opens only under a traced parent or when the
    caller asks for a new root, so untraced work pays one context-variable
    read per call site."""

    def __init__(self):
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, root: bool = False, **attrs):
        """A child of the current span, else a new root when ``root`` is
        true, else nothing (yields None)."""
        parent = _current.get()
        if parent is None and not root:
            yield None
            return
        sid = next(self._ids)
        span = Span(sid, name, parent.id if parent else None,
                    parent.request if parent else sid, time.time(), attrs=dict(attrs))
        token = _current.set(span)
        try:
            yield span
        finally:
            span.end = time.time()
            _current.reset(token)
            with self._lock:
                self.spans.append(span)

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({**extra, "spans": [s.__dict__ for s in self.spans]}, fh)


def trace_service_run(tracer: Tracer, service, spark) -> None:
    """Wrap ``service.run`` on this instance: a traced request gets a
    ``service.run`` span and a Spark job group named after its request id.
    The group is set here, on the thread that runs the jobs."""
    run = service.run

    def traced_run(*args, **kwargs):
        if _current.get() is None:
            return run(*args, **kwargs)
        with tracer.span("service.run") as span, job_group(spark, span):
            return run(*args, **kwargs)

    service.run = traced_run


@contextlib.contextmanager
def job_group(spark, span: Span | None):
    """Run the body's Spark jobs under the job group of ``span``'s request."""
    if span is None:
        yield
        return
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", group_name(span.request))
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def group_name(request: int) -> str:
    return f"perfbench-{request}"


@dataclass
class Job:
    id: int
    start: float
    end: float
    tasks: int
    failed_tasks: int

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


def spark_jobs(spark) -> dict[str, list[Job]]:
    """Every finished job in Spark's status store, by job group."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    out: dict[str, list[Job]] = {}
    listed = jsc.statusStore().jobsList(None).iterator()  # a Scala Seq
    while listed.hasNext():
        jd = listed.next()
        group = jd.jobGroup()
        done = jd.completionTime()
        if group.isEmpty() or done.isEmpty() or jd.submissionTime().isEmpty():
            continue
        out.setdefault(group.get(), []).append(Job(
            jd.jobId(),
            jd.submissionTime().get().getTime() / 1000.0,
            done.get().getTime() / 1000.0,
            jd.numTasks() - jd.numSkippedTasks(),
            jd.numFailedTasks(),
        ))
    return out


def covered_ms(span: Span, jobs: list[Job]) -> float:
    """Milliseconds of ``span`` during which at least one of ``jobs`` ran."""
    pieces = sorted((max(j.start, span.start), min(j.end, span.end)) for j in jobs)
    total, reach = 0.0, span.start
    for lo, hi in pieces:
        lo = max(lo, reach)
        if hi > lo:
            total += hi - lo
            reach = hi
    return total * 1000.0
