"""Out-of-package tracing for the benchmark's traced runs.

Spans are recorded around calls into each layer's public functions by
rebinding those names in the namespace of the module that calls them
(``Tracer.wrap``), so the engine itself is untouched.  Each span runs
under its own Spark job group, which attributes every job the call
launches.  Spans live in memory and are written out once, at the end of
the run.  Job counts are resolved after the Spark listener bus has
drained, because the status store is filled asynchronously.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import re
import time
from dataclasses import dataclass, field
from pathlib import Path

_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description",
               "spark.job.interruptOnCancel")


@dataclass
class Span:
    span_id: int
    name: str
    trace_id: int
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict[str, float] = field(default_factory=dict)
    saved: dict[str, str | None] = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.span_id}"


class Tracer:
    """Span recorder.  ``enabled`` gates recording: a disabled tracer's
    wrappers call straight through."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._trace_id = 0
        self.cost_s = 0.0  # time spent inside open/close

    # -- spans --------------------------------------------------------
    def new_trace(self) -> None:
        self._trace_id += 1

    def open(self, name: str) -> Span | None:
        if not self.enabled:
            return None
        t = time.perf_counter()
        parent = self._stack[-1].span_id if self._stack else None
        span = Span(next(self._ids), name, self._trace_id, parent, t)
        span.saved = {k: self.sc.getLocalProperty(k) for k in _GROUP_KEYS}
        self.sc.setJobGroup(span.group, name)
        self._stack.append(span)
        self.spans.append(span)
        span.start = time.perf_counter()
        self.cost_s += span.start - t
        return span

    def close(self, span: Span | None) -> None:
        if span is None:
            return
        span.end = time.perf_counter()
        self._stack.pop()
        for k, v in span.saved.items():
            self.sc.setLocalProperty(k, v)
        self.cost_s += time.perf_counter() - span.end

    @contextlib.contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    def wrap(self, module, attr: str, name: str, count=None) -> None:
        """Rebind ``module.attr`` to a traced wrapper.  ``count()`` is
        called before the wrapped call and returns a function of its
        result giving extra counts for the span."""
        fn = getattr(module, attr)
        tracer = self

        def traced(*args, **kwargs):
            span = tracer.open(name)
            finish = count() if span is not None and count else None
            try:
                result = fn(*args, **kwargs)
            finally:
                tracer.close(span)
            if finish is not None:
                t = time.perf_counter()
                span.counts.update(finish(result))
                tracer.cost_s += time.perf_counter() - t
            return result

        traced.__wrapped__ = fn  # type: ignore[attr-defined]
        setattr(module, attr, traced)

    # -- resolution ---------------------------------------------------
    def resolve_jobs(self) -> None:
        """Attach each span's own job count (jobs run under its group)."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        for s in self.spans:
            s.counts["jobs"] = len(tracker.getJobIdsForGroup(s.group))

    def self_times(self) -> dict[int, float]:
        child: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + (s.end - s.start)
        return {s.span_id: (s.end - s.start) - child.get(s.span_id, 0.0)
                for s in self.spans}

    def summary(self, cycles: int) -> dict[str, float]:
        """Per-cycle means by span name: wall_s, self_s and each count;
        ``jobs`` is inclusive of child spans."""
        own = self.self_times()
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)

        def inclusive_jobs(s: Span) -> float:
            return s.counts.get("jobs", 0) + sum(
                inclusive_jobs(c) for c in kids.get(s.span_id, []))

        out: dict[str, float] = {}
        for s in self.spans:
            vals = {"wall_s": s.end - s.start, "self_s": own[s.span_id],
                    **{k: v for k, v in s.counts.items() if k != "jobs"},
                    "jobs": inclusive_jobs(s)}
            for k, v in vals.items():
                key = f"{s.name}.{k}"
                out[key] = out.get(key, 0.0) + float(v)
        return {k: v / max(cycles, 1) for k, v in out.items()}

    def write(self, path: Path) -> None:
        own = self.self_times()
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "trace_id": s.trace_id, "span_id": s.span_id,
                    "parent": s.parent, "name": s.name,
                    "start": s.start, "end": s.end,
                    "self_s": own[s.span_id], **s.counts,
                }) + "\n")


def _stages(spark):
    """Every stage attempt in the JVM status store, once the listener
    bus has delivered all pending events."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    seq = store.stageList(
        None, False, False,
        getattr(store, "stageList$default$4")(),
        getattr(store, "stageList$default$5")(),
    )
    return sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)


def next_stage_id(spark) -> int:
    """One past the highest stage id the status store has seen."""
    return max((sd.stageId() for sd in _stages(spark)), default=-1) + 1


def stage_metrics(spark, first_stage: int) -> dict[str, float]:
    """Task CPU, shuffle write and failed tasks summed over every stage
    attempt with id >= ``first_stage``."""
    cpu_ns = shuffle = failed = stages = 0
    for sd in _stages(spark):
        if sd.stageId() < first_stage:
            continue
        stages += 1
        cpu_ns += sd.executorCpuTime()
        shuffle += sd.shuffleWriteBytes()
        failed += sd.numFailedTasks()
    return {
        "spark.task_cpu_s": cpu_ns / 1e9,
        "spark.shuffle_write_bytes": float(shuffle),
        "spark.stages": float(stages),
        "spark.failed_tasks": float(failed),
    }


_JANINO = re.compile(r"janino|failed to compile", re.IGNORECASE)
_LOG_RECORD = re.compile(r"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d ")


def codegen_fallbacks(stderr_text: str) -> int:
    """Log records in the JVM's stderr reporting a janino compile
    failure (the stage then runs interpreted)."""
    return sum(
        1 for line in stderr_text.splitlines()
        if _LOG_RECORD.match(line) and _JANINO.search(line)
    )
