"""In-memory tracing for the traced benchmark run.

Spans are recorded from the benchmark's own files, around calls into the
engine's public functions (and, where a layer boundary sits behind one,
by wrapping the attribute on the instance or module the benchmark holds).
Spark work is counted per operation through job groups read back from the
status tracker. Nothing here is active in an untraced run: ``Tracer(...,
enabled=False)`` makes every method a no-op, so the end-to-end figures
carry no tracing cost.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    parent_id: int | None
    trace_id: int | None
    name: str
    start: float
    end: float
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.samples: list[tuple[float, int]] = []  # (time, active stages)
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._sampler: threading.Thread | None = None
        self._stop = threading.Event()

    # ------------------------------------------------------------ spans

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, trace_id: int | None = None, **attrs):
        """Record ``name`` around the block. A ``trace_id`` starts a new
        operation in this thread; nested spans inherit it."""
        if not self.enabled:
            yield
            return
        stack = self._stack()
        with self._lock:
            span_id = next(self._ids)
        parent = stack[-1] if stack else None
        if trace_id is None:
            trace_id = getattr(self._local, "trace_id", None)
        else:
            self._local.trace_id = trace_id
        stack.append(span_id)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(span_id, parent, trace_id, name, start, end, attrs))

    @contextmanager
    def paused(self):
        """Record nothing inside the block (the correctness checks)."""
        enabled, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = enabled

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a spanned call-through."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent_id == span.span_id]

    def self_ms(self, span: Span) -> float:
        """Duration minus the part covered by direct children (which run
        sequentially in the parent's thread, so they never overlap)."""
        return span.ms - sum(c.ms for c in self.children(span))

    # ------------------------------------------------------------ spark counts

    def set_job_group(self, group: str) -> None:
        if self.enabled:
            self.spark.sparkContext.setJobGroup(group, group)

    def spark_counts(self, group: str) -> tuple[int, int]:
        """(jobs, tasks) the status tracker saw under ``group``. Stages a
        job skipped (shuffle output reused) have no info and count 0. Read
        after the measured loop: the py4j round trips would otherwise sit
        inside it."""
        if not self.enabled:
            return 0, 0
        tracker = self.spark.sparkContext.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        tasks = 0
        for job_id in jobs:
            job = tracker.getJobInfo(job_id)
            for stage_id in job.stageIds if job else ():
                stage = tracker.getStageInfo(stage_id)
                if stage is not None:
                    tasks += stage.numTasks
        return len(jobs), tasks

    # ------------------------------------------------------------ idle sampler

    def start_sampler(self, period_s: float = 0.1) -> None:
        """Poll the active-stage count; a sample with none inside an
        operation's span is time the Spark driver spent outside jobs."""
        if not self.enabled:
            return
        tracker = self.spark.sparkContext.statusTracker()

        def run() -> None:
            while not self._stop.is_set():
                active = len(tracker.getActiveStageIds())
                self.samples.append((time.perf_counter(), active))
                self._stop.wait(period_s)

        self._sampler = threading.Thread(target=run, name="trace-sampler", daemon=True)
        self._sampler.start()

    def stop_sampler(self) -> None:
        if self._sampler is not None:
            self._stop.set()
            self._sampler.join(timeout=10)
            self._sampler = None

    def idle_frac(self, spans: list[Span]) -> float:
        inside = [
            active
            for t, active in self.samples
            if any(s.start <= t <= s.end for s in spans)
        ]
        return sum(1 for a in inside if a == 0) / len(inside) if inside else 0.0

    # ------------------------------------------------------------ output

    def dump(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for span in self.spans:
                fh.write(json.dumps(asdict(span), default=str) + "\n")
