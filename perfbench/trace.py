"""Spans around calls into the engine's layers, and the Spark work each
call launched, read back from Spark's status store.

A span records name, start, end, parent and pass id. It also records the
range of Spark job and stage ids created while it was open: with one
caller and no concurrent work, that range is exactly the call's jobs and
stages, including the micro-batch jobs a stream runs under its own job
group. Each call also runs in its own Spark job group, named after the
span, so the jobs can be told apart in Spark's logs. Stage metrics are
read after the pass ends, so tracing adds only a few py4j calls per span
inside the timed pass.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    layer: str | None
    parent: int | None
    pass_id: int
    start: float
    end: float = 0.0
    jobs: tuple[int, int] = (0, 0)
    stages: tuple[int, int] = (0, 0)
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of its interval that its child
    spans cover (overlapping children counted once)."""
    covered, reach = 0.0, span.start
    for c in sorted(children, key=lambda c: c.start):
        lo, hi = max(c.start, reach), min(c.end, span.end)
        if hi > lo:
            covered += hi - lo
            reach = hi
    return span.duration - covered


class Tracer:
    """Records spans in memory. With ``spark`` None it records nothing,
    which is how untraced passes run the same code."""

    def __init__(self, spark=None):
        self.spans: list[Span] = []
        self.stage_metrics: dict[int, dict] = {}
        self._stack: list[int] = []
        self.pass_id = -1
        self._sc = spark.sparkContext if spark is not None else None
        self._dag = self._sc._jsc.sc().dagScheduler() if self._sc is not None else None

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        if self._sc is None:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, layer, parent, self.pass_id, 0.0)
        self.spans.append(s)
        self._stack.append(s.id)
        self._sc.setJobGroup(f"pass{self.pass_id}:{name}", name)
        job0, stage0 = self._dag.nextJobId(), self._dag.nextStageId()
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.jobs = (job0, self._dag.nextJobId())
            s.stages = (stage0, self._dag.nextStageId())
            self._stack.pop()

    def children(self, span: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == span.id]


# Stage fields summed into the exec.* metrics; times in the status store
# are ms, except executorCpuTime (ns).
_STAGE_FIELDS = {
    "tasks": lambda s: s.numTasks(),
    "task_run_s": lambda s: s.executorRunTime() / 1e3,
    "jvm_cpu_s": lambda s: s.executorCpuTime() / 1e9,
    "gc_s": lambda s: s.jvmGcTime() / 1e3,
    "input_bytes": lambda s: s.inputBytes(),
    "shuffle_read_bytes": lambda s: s.shuffleReadBytes(),
    "shuffle_write_bytes": lambda s: s.shuffleWriteBytes(),
    "spill_bytes": lambda s: s.diskBytesSpilled(),
    "failed_tasks": lambda s: s.numFailedTasks(),
}


def read_stages(spark, first: int, end: int) -> dict[int, dict]:
    """Metrics of stages ``first``..``end``-1 from the status store, after
    waiting for the listener bus to deliver their completion events.
    Skipped stages (their shuffle output was reused) ran no tasks and are
    left out."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    gw = sc._gateway
    quantiles = gw.new_array(gw.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    out = {}
    for sid in range(first, end):
        try:
            s = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - py4j error: stage evicted or never created
            continue
        if s.status().toString() == "SKIPPED":
            continue
        row = {k: f(s) for k, f in _STAGE_FIELDS.items()}
        summary = store.taskSummary(sid, s.attemptId(), quantiles)
        if summary.isDefined():
            run = summary.get().executorRunTime()
            row["median_task_s"], row["max_task_s"] = run.apply(0) / 1e3, run.apply(1) / 1e3
        else:
            row["median_task_s"] = row["max_task_s"] = 0.0
        out[sid] = row
    return out


def exec_totals(stages: list[dict]) -> dict[str, float]:
    """Sum stage metrics into the exec.* figures of one span or pass.
    task_skew is the summed slowest-task time over the summed median-task
    time: how much longer stages wait for their last task than a typical
    task runs."""
    tot = {k: sum(s[k] for s in stages) for k in _STAGE_FIELDS}
    tot["stages"] = len(stages)
    med = sum(s["median_task_s"] for s in stages)
    tot["task_skew"] = sum(s["max_task_s"] for s in stages) / med if med > 0 else 1.0
    return tot

