"""Spans around calls into the package's layers, with Spark's own
counters per span.

A span records wall-clock start and end and sets a Spark job group for
its duration, so every job started inside it (including the jobs a
"lazy" call runs, such as AQE materializing ``localCheckpoint``
stages) is attributed to it. Spans nest: a child's jobs belong to the
child's group, so a span's counters are its self counters.

Nothing is read from Spark while the timed work runs. Spans stay in
memory; :meth:`Tracer.collect` reads the status store once, after the
work, through ``statusTracker().getJobIdsForGroup`` and
``statusStore().lastStageAttempt`` (both answer with the UI off).
"""

from __future__ import annotations

import functools
import itertools
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    layer: str
    op: int
    group: str
    parent: Span | None
    start: float = 0.0
    end: float = 0.0
    children: list[Span] = field(default_factory=list)
    # Filled by Tracer.collect:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    exec_run_s: float = 0.0
    exec_cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    intervals: list[tuple[float, float]] = field(default_factory=list)
    output_mb: float = 0.0
    files: int = 0

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        """Wall time not covered by child spans."""
        return self.wall_s - sum(c.wall_s for c in self.children)

    def subtree(self):
        yield self
        for c in self.children:
            yield from c.subtree()


def _uncovered(start: float, end: float, intervals) -> float:
    """Length of [start, end] not covered by any interval."""
    covered, cursor = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, end)
        if b > a:
            covered += b - a
            cursor = b
    return (end - start) - covered


def driver_s(span: Span, inclusive: bool = False) -> float:
    """Span wall time during which none of its stages was running:
    planning, scheduling, result handling and Python-side work.
    ``inclusive`` counts the stages of child spans as the span's own."""
    spans = list(span.subtree()) if inclusive else [span]
    intervals = [iv for s in spans for iv in s.intervals]
    if inclusive:
        return _uncovered(span.start, span.end, intervals)
    # Self: child spans' intervals count as covered, not as driver time.
    own = intervals + [(c.start, c.end) for c in span.children]
    return _uncovered(span.start, span.end, own)


class Tracer:
    """Opens spans on the calling thread and keeps them in memory."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.op = 0
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._patched: list[tuple[object, str, object]] = []

    def span(self, name: str, layer: str):
        return _SpanContext(self, name, layer)

    def wrap(self, module, attr: str, layer, writes: bool = False) -> None:
        """Replace ``module.attr`` with a traced wrapper until
        :meth:`unpatch`. ``layer`` is a layer name or a function of the
        call's arguments returning one. ``writes`` marks a sink whose
        second argument is the output directory: the span then records
        the size and count of the files the call wrote."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            lyr = layer(*args, **kwargs) if callable(layer) else layer
            with self.span(attr, lyr) as sp:
                out = fn(*args, **kwargs)
                if writes:
                    sp.output_mb, sp.files = _written_since(args[1], sp.start)
                return out

        setattr(module, attr, traced)
        self._patched.append((module, attr, fn))

    def unpatch(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    def collect(self) -> None:
        """Read each span's jobs and stages from Spark's status store."""
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for sp in self.spans:
            for job_id in tracker.getJobIdsForGroup(sp.group):
                info = tracker.getJobInfo(job_id)
                if info is None:
                    continue
                sp.jobs += 1
                for stage_id in info.stageIds:
                    try:
                        st = store.lastStageAttempt(stage_id)
                    except Exception:  # noqa: BLE001 - evicted or never attempted
                        continue
                    if str(st.status()) == "SKIPPED":
                        continue
                    sp.stages += 1
                    sp.tasks += st.numTasks()
                    sp.failed_tasks += st.numFailedTasks()
                    sp.exec_run_s += st.executorRunTime() / 1e3
                    sp.exec_cpu_s += st.executorCpuTime() / 1e9
                    sp.shuffle_write_mb += st.shuffleWriteBytes() / 1e6
                    sp.spill_mb += st.diskBytesSpilled() / 1e6
                    sub, done = st.submissionTime(), st.completionTime()
                    if sub.isDefined() and done.isDefined():
                        sp.intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str, layer: str):
        self.tracer = tracer
        parent = tracer._stack[-1] if tracer._stack else None
        self.span = Span(name, layer, tracer.op, f"perfbench-{next(tracer._ids)}", parent)

    def __enter__(self) -> Span:
        t = self.tracer
        if self.span.parent is not None:
            self.span.parent.children.append(self.span)
        t._stack.append(self.span)
        t.spans.append(self.span)
        t.sc.setJobGroup(self.span.group, self.span.name)
        self.span.start = time.time()
        return self.span

    def __exit__(self, *exc) -> None:
        self.span.end = time.time()
        t = self.tracer
        t._stack.pop()
        parent = self.span.parent
        if parent is not None:
            t.sc.setJobGroup(parent.group, parent.name)
        else:
            t.sc.setLocalProperty("spark.jobGroup.id", None)
            t.sc.setLocalProperty("spark.job.description", None)


def _written_since(path: str, since: float) -> tuple[float, int]:
    """Megabytes and count of the data files under ``path`` modified
    after ``since``: what one overwrite or partition append wrote."""
    total, files = 0, 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            st = os.stat(os.path.join(root, n))
            if st.st_mtime >= since:
                total += st.st_size
                files += 1
    return total / 1e6, files
