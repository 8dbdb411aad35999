"""In-memory spans around the benchmark's calls into the engine, plus the
Spark job/stage metrics of each Spark-executed span.

A span has a name, start, end, parent and op id. A span opened with
``spark=True`` runs its Spark jobs under its own job group, so after the
run the JVM status store maps it to its jobs and stages
(``statusStore().jobsList``), and ``statusStore().lastStageAttempt``
gives each stage's task metrics. Spans stay in memory; ``resolve`` and ``dump`` run once the
timed work is over.

With tracing off every call is a no-op context manager, so untraced runs
time the engine alone.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Stage:
    stage_id: int
    tasks: int
    submit_ms: float
    complete_ms: float
    run_ms: float
    cpu_ms: float
    deser_ms: float
    gc_ms: float
    input_bytes: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    output_bytes: int
    task_ms: list[float]

    @property
    def skew(self) -> float:
        """Longest task over the median task (1.0 = even)."""
        med = statistics.median(self.task_ms) if self.task_ms else 0.0
        return max(self.task_ms) / med if med > 0 else 1.0


@dataclass
class Span:
    span_id: int
    name: str
    op_id: str
    parent: int | None
    start: float                  # wall clock, seconds
    end: float = 0.0
    group: str | None = None      # Spark job group, when Spark-executed
    attrs: dict = field(default_factory=dict)
    jobs: list[int] = field(default_factory=list)
    stages: list[Stage] = field(default_factory=list)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None

    def bind(self, sc) -> None:
        self._sc = sc

    @contextmanager
    def span(self, name: str, op_id: str = "", spark: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, op_id or (parent.op_id if parent else ""),
                  parent.span_id if parent else None, time.time(), attrs=attrs)
        self.spans.append(sp)
        if spark:
            # Spark spans do not nest: a job belongs to one group
            sp.group = f"perfbench-{sp.span_id}"
            self._sc.setJobGroup(sp.group, name)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if spark:
                self._sc._jsc.clearJobGroup()

    # -- after the timed work ----------------------------------------------

    def resolve(self) -> None:
        """Attach job ids and completed-stage metrics to Spark spans.

        A span owns the jobs of its job group. The engine also runs some
        jobs from its own threads (the build's concurrent sinks), which do
        not inherit the group; as the benchmark is Spark's only client, a
        job without a group belongs to the Spark span open when it was
        submitted."""
        if not self.enabled or self._sc is None:
            return
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = store.jobsList(None)
        by_group: dict[str | None, list] = {}
        for i in range(jobs.size()):
            j = jobs.apply(i)
            g = j.jobGroup()
            sids = j.stageIds()
            by_group.setdefault(g.get() if g.isDefined() else None, []).append(
                (int(j.jobId()), j.submissionTime().get().getTime() / 1000.0,
                 [int(sids.apply(k)) for k in range(sids.size())]))
        ungrouped = by_group.get(None, [])
        for sp in self.spans:
            if not sp.group:
                continue
            mine = by_group.get(sp.group, []) + [
                j for j in ungrouped if sp.start <= j[1] <= sp.end]
            for job_id, _, stage_ids in sorted(mine):
                sp.jobs.append(job_id)
                for sid in stage_ids:
                    st = _stage(store, sid)
                    if st is not None:
                        sp.stages.append(st)

    def self_ms(self, sp: Span) -> float:
        """Span time minus the part its direct children cover."""
        return sp.ms - covered((c.start, c.end) for c in self.spans
                               if c.parent == sp.span_id) * 1000.0

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                d = asdict(sp)
                d["self_ms"] = self.self_ms(sp)
                f.write(json.dumps(d) + "\n")


def covered(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals; empty ones count 0."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _stage(store, sid: int) -> Stage | None:
    """Completed-stage metrics from the JVM status store; None for a
    stage that was skipped (its output was reused) or is unknown."""
    from py4j.protocol import Py4JJavaError

    try:
        st = store.lastStageAttempt(sid)
    except Py4JJavaError:  # NoSuchElementException: the id is unknown
        return None
    if str(st.status()) != "COMPLETE":
        return None
    tl = store.taskList(sid, st.attemptId(), 1 << 20)
    task_ms = []
    for i in range(tl.size()):
        d = tl.apply(i).duration()
        if d.isDefined():
            task_ms.append(float(d.get()))
    sub, comp = st.submissionTime(), st.completionTime()
    return Stage(
        stage_id=sid,
        tasks=int(st.numCompleteTasks()),
        submit_ms=float(sub.get().getTime()) if sub.isDefined() else 0.0,
        complete_ms=float(comp.get().getTime()) if comp.isDefined() else 0.0,
        run_ms=float(st.executorRunTime()),
        cpu_ms=st.executorCpuTime() / 1e6,
        deser_ms=float(st.executorDeserializeTime()),
        gc_ms=float(st.jvmGcTime()),
        input_bytes=int(st.inputBytes()),
        shuffle_read_bytes=int(st.shuffleReadBytes()),
        shuffle_write_bytes=int(st.shuffleWriteBytes()),
        output_bytes=int(st.outputBytes()),
        task_ms=task_ms,
    )
