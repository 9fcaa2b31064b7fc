"""In-memory spans around calls into the package, with Spark job counts.

A span records name, layer, start, end and its parent span. While a
span is open its Spark jobs run under a job group named after the span,
so every job, stage and task the call launched can be attributed after
the run from the application status store (job group -> stage ids ->
run time, input, shuffle and GC figures). Nothing is written until the
benchmark asks for the aggregate at the end.

``Tracer.wrap`` replaces an attribute (a module function or a class
method) with a span-recording wrapper and remembers the original, so a
traced run patches only the benchmark's view of the program and
``restore`` puts every attribute back.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class JobStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    gc_ms: float = 0.0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0

    def add(self, other: "JobStats") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


class Tracer:
    def __init__(self, spark, prefix: str = "perfbench"):
        self.sc = spark.sparkContext
        self.prefix = prefix
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._patched: list[tuple[object, str, object]] = []
        self._stats: dict[int, JobStats] | None = None
        self._by_id: dict[int, Span] = {}

    # -- spans ---------------------------------------------------------
    def _group(self, sid: int) -> str:
        return f"{self.prefix}-{sid}"

    def open(self, name: str, layer: str) -> Span:
        parent = self._stack[-1].sid if self._stack else None
        span = Span(next(self._ids), name, layer, parent, 0.0)
        self.spans.append(span)
        self._by_id[span.sid] = span
        self._stack.append(span)
        self.sc.setJobGroup(self._group(span.sid), name, False)
        span.start = time.perf_counter()
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack.pop()
        if self._stack:
            self.sc.setJobGroup(self._group(self._stack[-1].sid), self._stack[-1].name, False)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        span = self.open(name, layer)
        try:
            yield span
        finally:
            self.close(span)

    def wrap(self, owner, attr: str, layer: str, after=None) -> None:
        """Record a span around every call of ``owner.attr``.

        ``after(span, result, args, kwargs)`` runs once the span has
        closed, for bookkeeping that must stay outside the timed call.
        """
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            span = self.open(attr, layer)
            try:
                result = orig(*args, **kwargs)
            finally:
                self.close(span)
            if after is not None:
                after(span, result, args, kwargs)
            return result

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- Spark attribution ------------------------------------------------
    def _collect_stats(self) -> dict[int, JobStats]:
        """Per-span job statistics from the status store (own jobs only)."""
        if self._stats is not None:
            return self._stats
        store = self.sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        stats: dict[int, JobStats] = {}
        head = f"{self.prefix}-"
        for i in range(jobs.size()):
            job = jobs.apply(i)
            group = job.jobGroup()
            if not group.isDefined() or not str(group.get()).startswith(head):
                continue
            sid = int(str(group.get())[len(head):])
            js = stats.setdefault(sid, JobStats())
            js.jobs += 1
            ids = job.stageIds()
            for k in range(ids.size()):
                try:
                    st = store.lastStageAttempt(int(ids.apply(k)))
                except Exception:  # noqa: BLE001 — a stage evicted from the store
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                js.stages += 1
                js.tasks += int(st.numCompleteTasks())
                js.run_ms += float(st.executorRunTime())
                js.gc_ms += float(st.jvmGcTime())
                js.input_bytes += int(st.inputBytes())
                js.shuffle_write_bytes += int(st.shuffleWriteBytes())
        self._stats = stats
        return stats

    def stats(self, span: Span) -> JobStats:
        """Job statistics of ``span`` and its descendants."""
        per = self._collect_stats()
        out = JobStats()
        for s in [span] + self.find(within=span):
            if s.sid in per:
                out.add(per[s.sid])
        return out

    def find(self, layer: str | None = None, within: Span | None = None) -> list[Span]:
        """Spans of ``layer`` (any layer if None) among the descendants of ``within``."""
        return [s for s in self.spans
                if (layer is None or s.layer == layer)
                and (within is None or self.is_descendant(s, within))]

    def is_descendant(self, span: Span, ancestor: Span) -> bool:
        p = span.parent
        while p is not None:
            if p == ancestor.sid:
                return True
            p = self._by_id[p].parent
        return False


class NoTracer:
    """Stands in for ``Tracer`` in untraced runs: spans are ``None`` and cost nothing."""

    def span(self, name: str, layer: str):
        return contextlib.nullcontext()


def catalyst_phases_ms(df) -> dict[str, float]:
    """analysis/optimization/planning ms of ``df``'s executed plan."""
    out = {}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[str(kv._1())] = float(kv._2().durationMs())
    return out
