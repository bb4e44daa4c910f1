"""Tracing for the lake benchmark: spans around the package's public
calls, plus Spark counters per op read from the session's status store.

Spans are installed by wrapping module attributes from outside the
package (nothing in the package changes) and are kept in memory until
the run ends. Spark is lazy, so a span around ``read_lake`` or a query
builder measures plan construction only; the data work of an op is
attributed through its job group's counters (:class:`JobCounters`).
"""

from __future__ import annotations

import functools
import json
import time
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None  # index into Tracer.spans
    op: str | None = None
    children_s: float = 0.0  # time covered by direct children

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.duration - self.children_s


class Tracer:
    """Nested spans on one thread. ``enabled`` gates recording, so the
    wrappers stay installed during untraced passes at the cost of one
    attribute check per call."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.op: str | None = None
        self._stack: list[int] = []

    def begin(self, name: str) -> int | None:
        if not self.enabled:
            return None
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), parent=parent, op=self.op))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def end(self, idx: int | None) -> None:
        if idx is None:
            return
        span = self.spans[idx]
        span.end = time.perf_counter()
        self._stack.pop()
        if span.parent is not None:
            self.spans[span.parent].children_s += span.duration

    def call(self, name: str, fn, *args, **kwargs):
        idx = self.begin(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.end(idx)

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            return self.call(name, original, *args, **kwargs)

        setattr(owner, attr, traced)

    def self_seconds(self, spans: list[Span] | None = None) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for s in self.spans if spans is None else spans:
            out[s.name] += s.self_s
        return dict(out)

    def dump(self, path: str) -> None:
        rows = [
            {
                "id": i,
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "op": s.op,
                "self_s": s.self_s,
            }
            for i, s in enumerate(self.spans)
        ]
        with open(path, "w") as fh:
            json.dump(rows, fh)


@dataclass
class OpCounters:
    """Spark work of one op, summed over the jobs of its job group."""

    jobs: int = 0
    tasks: int = 0
    exec_s: float = 0.0  # union of the jobs' [submission, completion] wall intervals
    task_busy_s: float = 0.0  # summed executor run time of the op's tasks
    input_bytes: int = 0
    input_rows: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    stages: set = field(default_factory=set, repr=False)


class JobCounters:
    """Per-op counters from ``statusTracker`` (job ids of a job group) and
    the JVM ``AppStatusStore`` (``job`` and ``lastStageAttempt``). Works
    with the UI disabled: the status store is fed by the listener bus."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()

    def start(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def stop(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def collect(self, group: str) -> OpCounters:
        # the status store is fed asynchronously: let the listener bus
        # deliver the op's last task and stage events first
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        out = OpCounters()
        intervals = []
        for job_id in self.sc.statusTracker().getJobIdsForGroup(group):
            job = self.store.job(int(job_id))
            out.jobs += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            ids = job.stageIds()
            for i in range(ids.size()):
                out.stages.add(int(ids.apply(i)))
        for stage_id in sorted(out.stages):
            try:
                st = self.store.lastStageAttempt(stage_id)
            except Exception:  # a stage skipped by shuffle reuse never ran
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out.tasks += st.numCompleteTasks()
            out.task_busy_s += st.executorRunTime() / 1e3
            out.input_bytes += st.inputBytes()
            out.input_rows += st.inputRecords()
            out.shuffle_write_bytes += st.shuffleWriteBytes()
            out.spill_bytes += st.diskBytesSpilled()
        out.exec_s = _union_length(intervals)
        return out


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
