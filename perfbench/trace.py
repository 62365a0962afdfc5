"""In-memory spans with per-span Spark executor metrics.

A span records name, start, end, parent span and run id. While a span is
open the benchmark's Spark jobs run under a job group named after the
span, so after the run every job in the application's status store
(``sc._jsc.sc().statusStore()``, populated with the UI disabled) can be
attributed to the innermost span that submitted it. Nothing is read from
Spark while spans are open: the status store is walked once, at the end.

A traced run traces its own measurement; the wall time spent inside the
tracer while spans are open is reported as its overhead (the run
record's end-to-end values, against an untraced run's, give the rest). A
disabled tracer hands out inert spans and sets no job groups, so
untraced runs pay nothing.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

EXECUTOR_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "input_bytes",
    "output_bytes",
)


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None = None
    parent: int | None = None
    run_id: str = ""
    attrs: dict = field(default_factory=dict)
    # executor metrics of the jobs submitted directly under this span
    # (children's jobs are attributed to the children)
    own: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the summed durations of its direct
    children (clamped at 0: clock reads of overlapping children)."""
    child_total: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_total[s.parent] = child_total.get(s.parent, 0.0) + s.duration
    return {s.id: max(0.0, s.duration - child_total.get(s.id, 0.0)) for s in spans}


def subtree_ids(spans: list[Span], root_id: int) -> set[int]:
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.id)
    out, todo = set(), [root_id]
    while todo:
        i = todo.pop()
        out.add(i)
        todo.extend(kids.get(i, []))
    return out


def inclusive(spans: list[Span], root_id: int) -> dict:
    """Executor metrics of a span including every descendant's jobs."""
    ids = subtree_ids(spans, root_id)
    tot = dict.fromkeys(EXECUTOR_KEYS, 0)
    for s in spans:
        if s.id in ids:
            for k in EXECUTOR_KEYS:
                tot[k] += s.own.get(k, 0)
    return tot


class Tracer:
    GROUP_PREFIX = "perfbench-span-"

    def __init__(self, enabled: bool, run_id: str, spark=None):
        self.enabled = enabled
        self.run_id = run_id
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        # wall time spent inside the tracer while spans were open (its
        # bookkeeping and job-group calls): the cost tracing adds to the
        # timed windows
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans),
            name=name,
            start=t0,
            parent=parent.id if parent else None,
            run_id=self.run_id,
            attrs=dict(attrs),
        )
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield s
        finally:
            t1 = time.perf_counter()
            s.end = t1
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.overhead_s += time.perf_counter() - t1

    def _set_group(self, s: Span | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if s is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"{self.GROUP_PREFIX}{s.id}", s.name)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def attach_executor_metrics(self, settle_s: float = 5.0) -> None:
        """Walk the status store once and fill ``Span.own`` for every
        span. Waits (up to ``settle_s``) for the listener bus to deliver
        the last jobs' end events."""
        if not self.enabled or self.spark is None:
            return
        store = self.spark.sparkContext._jsc.sc().statusStore()
        deadline = time.time() + settle_s
        while True:
            jobs = _iter(store.jobsList(None))
            running = [j for j in jobs if j.status().toString() == "RUNNING"]
            if not running or time.time() > deadline:
                break
            time.sleep(0.2)
        stage_list = getattr(store, "stageList")
        stages = _iter(
            stage_list(
                None,
                False,
                False,
                getattr(store, "stageList$default$4")(),
                getattr(store, "stageList$default$5")(),
            )
        )
        by_stage: dict[int, dict] = {}
        for st in stages:
            m = by_stage.setdefault(st.stageId(), dict.fromkeys(EXECUTOR_KEYS, 0))
            # every attempt's work happened; sum attempts
            m["tasks"] += st.numTasks()
            m["executor_run_s"] += st.executorRunTime() / 1000.0
            m["shuffle_write_bytes"] += st.shuffleWriteBytes()
            m["shuffle_read_bytes"] += st.shuffleReadBytes()
            m["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            m["input_bytes"] += st.inputBytes()
            m["output_bytes"] += st.outputBytes()
        spans = {s.id: s for s in self.spans}
        seen_stages: set[int] = set()
        for j in jobs:
            g = j.jobGroup()
            if not g.isDefined() or not g.get().startswith(self.GROUP_PREFIX):
                continue
            s = spans.get(int(g.get()[len(self.GROUP_PREFIX):]))
            if s is None:
                continue
            own = s.own or dict.fromkeys(EXECUTOR_KEYS, 0)
            own["jobs"] += 1
            ids = j.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                # a stage reused by a later job (skipped shuffle map
                # stage) did its work once: count it once
                if sid in seen_stages or sid not in by_stage:
                    continue
                seen_stages.add(sid)
                own["stages"] += 1
                for k, v in by_stage[sid].items():
                    own[k] += v
            s.own = own

    def to_json(self) -> list[dict]:
        selft = self_times(self.spans)
        out = []
        for s in self.spans:
            d = asdict(s)
            d["duration_s"] = s.duration
            d["self_s"] = selft[s.id]
            out.append(d)
        return out


def _iter(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out
