"""In-memory span tracer for the benchmark's traced runs.

Spans are recorded from the benchmark's own files: :meth:`Tracer.wrap`
replaces a module attribute (for example the ``read_raw_json`` name that
``plans.runner`` imported) with a wrapper that opens a span around each
call. Nothing in the program is edited.

Every span gets its own Spark job group, so the jobs an action fires are
attributed to the innermost open span. After an op, :meth:`collect`
reads the job -> stage mapping from Spark's status tracker and each
stage's task count, executor run time and bytes from the status store,
then rolls the counters up into every enclosing span. Spark is lazy:
a span that only builds a plan shows no jobs, and the work lands in the
span where an action fires (``latest_assets`` is paid inside the first
Gold ``write_history``).
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import time
from dataclasses import dataclass, field

SPARK_COUNTERS = (
    "jobs",
    "tasks",
    "executor_run_s",
    "input_bytes",
    "shuffle_bytes",
    "output_bytes",
)


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    op: int
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    spark: dict = field(default_factory=dict)
    children_s: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.duration - self.children_s

    def as_dict(self) -> dict:
        return {
            "id": self.id,
            "parent": self.parent,
            "name": self.name,
            "op": self.op,
            "start": self.start,
            "end": self.end,
            "self_s": self.self_s,
            "attrs": self.attrs,
            "spark": self.spark,
        }


class Tracer:
    """Spans for one benchmark process; a disabled tracer records nothing
    and never touches Spark's job groups."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._uncollected: list[Span] = []
        self.op = -1  # -1: set-up; ops count from 0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), parent.id if parent else None, name, self.op, time.perf_counter(), attrs=attrs)
        self._stack.append(s)
        sc = self.spark.sparkContext
        sc.setJobGroup(f"perfbench-{s.id}", name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.children_s += s.duration
                sc.setJobGroup(f"perfbench-{parent.id}", parent.name)
            else:
                sc._jsc.clearJobGroup()
            self.spans.append(s)
            self._uncollected.append(s)

    def wrap(self, module, attr: str, name: str | None = None, on_call=None) -> None:
        """Trace every call of ``module.attr``; ``on_call(span, args,
        kwargs, result)`` may add attributes (file counts, bytes)."""
        if not self.enabled:
            return
        fn = getattr(module, attr)
        label = name or attr

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(label) as s:
                result = fn(*args, **kwargs)
                if on_call is not None:
                    on_call(s, args, kwargs, result)
                return result

        setattr(module, attr, traced)  # for the life of this process

    def collect(self) -> None:
        """Attribute Spark jobs to the spans closed since the last call
        (outside any timed region)."""
        if not self.enabled or not self._uncollected:
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker, store = sc.statusTracker(), jsc.statusStore()
        by_id = {s.id: s for s in self._uncollected}
        for s in self._uncollected:
            own = dict.fromkeys(SPARK_COUNTERS, 0)
            for job_id in tracker.getJobIdsForGroup(f"perfbench-{s.id}"):
                info = tracker.getJobInfo(job_id)
                if info is None:
                    continue
                own["jobs"] += 1
                for stage_id in info.stageIds:
                    st = store.lastStageAttempt(stage_id)
                    if str(st.status()) != "COMPLETE":
                        continue  # skipped: reused shuffle output
                    own["tasks"] += st.numCompleteTasks()
                    own["executor_run_s"] += st.executorRunTime() / 1000.0
                    own["input_bytes"] += st.inputBytes()
                    own["shuffle_bytes"] += st.shuffleReadBytes()
                    own["output_bytes"] += st.outputBytes()
            s.attrs["spark_own"] = own
        # roll up: a span's counters include its descendants' (spans close
        # child-first, so one pass in close order sums bottom-up)
        for s in self._uncollected:
            for k, v in s.attrs["spark_own"].items():
                s.spark[k] = s.spark.get(k, 0) + v
            parent = by_id.get(s.parent)
            if parent is not None:
                for k, v in s.spark.items():
                    parent.spark[k] = parent.spark.get(k, 0) + v
        self._uncollected.clear()

    def of(self, name: str, op: int | None = None) -> list[Span]:
        return [s for s in self.spans if s.name == name and (op is None or s.op == op)]
