"""In-memory spans with Spark job attribution.

A span is one timed call at a layer boundary: a run, an operation (one
query or one publish batch), or a layer call inside it (build, compile,
execute, or a wrapped ``sources``/``operators``/``sync``/``governance``
call). Each span sets its own Spark job group while it is open, so every
job it launches, including eager jobs during a query's build, is
attributed to the innermost open span. Stage metrics are read from
Spark's status store, which works with the UI off. Query planning
(analysis, optimization, physical planning) is read from each SQL
execution's own ``QueryPlanningTracker`` and recorded as an
``engine``/``compile`` child of the ``engine``/``execute`` span that ran it.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field

#: Parts of the names of the exec nodes that run Python code
#: (ArrowEvalPython, BatchEvalPythonUDTF, MapInPandas, MapInArrow, ...).
PYTHON_NODE_MARKERS = ("EvalPython", "InPandas", "InArrow", "PythonUDTF")

#: Totals a span carries for the jobs it launched: counts, then the
#: stage task metrics summed over the stages that ran.
SPAN_TOTALS = (
    "jobs", "stages", "python_stages", "python_gap_s", "tasks",
    "failed_tasks", "run_s", "cpu_s", "gc_s", "input_mb", "output_mb",
    "output_rows", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
)


@dataclass
class Span:
    sid: int
    layer: str
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str = ""
    metrics: dict = field(default_factory=lambda: dict.fromkeys(SPAN_TOTALS, 0.0))

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(span: Span, children: list[Span]) -> float:
    """``span``'s duration minus the part of its interval covered by
    ``children`` (overlapping children are counted once)."""
    covered = 0.0
    cur_start = cur_end = None
    for c in sorted(children, key=lambda s: s.start):
        s, e = max(c.start, span.start), min(c.end, span.end)
        if e <= s:
            continue
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                covered += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        covered += cur_end - cur_start
    return span.duration - covered


class StageReader:
    """Reads per-stage task metrics from the status store, once per
    stage id; a stage reused by a later job is counted once."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.seen: set[int] = set()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_ids(self, job_id: int) -> list[int]:
        info = self.sc.statusTracker().getJobInfo(job_id)
        return list(info.stageIds) if info is not None else []

    def _is_python(self, stage_id: int) -> bool:
        graph = self.store.operationGraphForStage(stage_id)
        todo = [graph.rootCluster()]
        while todo:
            cluster = todo.pop()
            if any(m in cluster.name() for m in PYTHON_NODE_MARKERS):
                return True
            kids = cluster.childClusters()
            todo.extend(kids.apply(i) for i in range(kids.size()))
        return False

    def read(self, stage_id: int, python: bool):
        """Metrics of a stage that ran, or None for a skipped stage or
        one already counted."""
        if stage_id in self.seen:
            return None
        self.seen.add(stage_id)
        sd = self.store.lastStageAttempt(stage_id)
        if sd.status().toString() not in ("COMPLETE", "FAILED"):
            return None
        mb = 2.0**20
        m = {
            "tasks": sd.numCompleteTasks() + sd.numFailedTasks(),
            "failed_tasks": sd.numFailedTasks(),
            "run_s": sd.executorRunTime() / 1e3,
            "cpu_s": sd.executorCpuTime() / 1e9,
            "gc_s": sd.jvmGcTime() / 1e3,
            "input_mb": sd.inputBytes() / mb,
            "output_mb": sd.outputBytes() / mb,
            "output_rows": sd.outputRecords(),
            "shuffle_read_mb": sd.shuffleReadBytes() / mb,
            "shuffle_write_mb": sd.shuffleWriteBytes() / mb,
            "spill_mb": (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / mb,
        }
        return m, (python and self._is_python(stage_id))

    def harvest(self, span: Span, python: bool = True) -> None:
        """Attach the stage totals of ``span``'s own jobs to it."""
        total = span.metrics
        for job in self.job_ids(span.group):
            total["jobs"] += 1
            for stage in self.stage_ids(job):
                got = self.read(stage, python)
                if got is None:
                    continue
                m, is_py = got
                total["stages"] += 1
                for k, v in m.items():
                    total[k] += v
                if is_py:
                    total["python_stages"] += 1
                    total["python_gap_s"] += max(0.0, m["run_s"] - m["cpu_s"])


def group_totals(spark, group: str) -> dict:
    """Stage totals of every job run under the job group ``group``."""
    sp = Span(0, "run", group, None, 0.0, group=group)
    StageReader(spark).harvest(sp, python=False)
    return sp.metrics


class PlanTimes:
    """A ``QueryExecutionListener`` (called from the JVM through the Py4J
    callback server) that records, for every SQL execution of the
    session, the wall-clock start of its first planning phase and the
    summed time of its analysis, optimization and planning phases. The
    listener bus delivers these asynchronously."""

    PHASES = ("analysis", "optimization", "planning")

    def __init__(self):
        self.records: list[tuple[float, float]] = []  # (start epoch s, seconds)

    def onSuccess(self, func_name, qe, duration_ns):
        phases = qe.tracker().phases()
        got = [phases.apply(p) for p in self.PHASES if phases.contains(p)]
        if got:
            self.records.append((
                min(g.startTimeMs() for g in got) / 1e3,
                sum(g.durationMs() for g in got) / 1e3,
            ))

    def onFailure(self, func_name, qe, exception):
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    """Records spans; disabled, it only runs the body.

    ``span()`` opens a span under the innermost open one and makes its
    job group current; the enclosing group is restored on exit, so jobs
    always land on the innermost span. ``harvest()`` reads the stage
    metrics of every span not yet harvested and adds the compile span of
    each new ``engine``/``execute`` span; call it between operations,
    outside any timing, so the status store still holds their stages.
    """

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._harvested = 0
        if enabled:
            from pyspark.java_gateway import ensure_callback_server_started

            self.sc = spark.sparkContext
            self.reader = StageReader(spark)
            self.plans = PlanTimes()
            ensure_callback_server_started(self.sc._gateway)
            spark._jsparkSession.listenerManager().register(self.plans)
            self._bus = self.sc._jsc.sc().listenerBus()
            self._epoch = time.time() - time.perf_counter()

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        sp = Span(sid, layer, name, parent.sid if parent else None,
                  time.perf_counter(), group=f"perfbench-{sid}")
        self.spans.append(sp)
        self._stack.append(sp)
        outer = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(sp.group, f"{layer}:{name}")
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", outer)

    def inside(self, layer: str) -> bool:
        """Whether a span of ``layer`` is open."""
        return any(s.layer == layer for s in self._stack)

    def harvest(self) -> None:
        if not self.enabled:
            return
        self._bus.waitUntilEmpty()  # stage and planning events are in
        new = self.spans[self._harvested:]
        records, self.plans.records = self.plans.records, []
        for sp in new:
            self.reader.harvest(sp)
            if sp.layer == "engine" and sp.name == "execute":
                self._add_compile(sp, records)
        self._harvested = len(self.spans)

    def _add_compile(self, execute: Span, records) -> None:
        """A compile span under ``execute`` for the planning of the SQL
        executions that started inside it, laid end to end from the
        first phase's start (the tracker keeps whole milliseconds)."""
        starts = [(start - self._epoch, s) for start, s in records]
        mine = [(t, s) for t, s in starts
                if execute.start - 1e-3 <= t <= execute.end]
        if not mine:
            return
        start = max(min(t for t, _ in mine), execute.start)
        end = min(start + sum(s for _, s in mine), execute.end)
        self.spans.append(Span(len(self.spans), "engine", "compile",
                               execute.sid, start, end))

    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.sid]

    def descendants(self, sp: Span) -> list[Span]:
        out, todo = [], [sp.sid]
        while todo:
            sid = todo.pop()
            kids = [c for c in self.spans if c.parent == sid]
            out.extend(kids)
            todo.extend(c.sid for c in kids)
        return out

    def records(self) -> list[dict]:
        """Every span as a plain dict, with its self time."""
        return [
            {
                "sid": s.sid, "parent": s.parent, "layer": s.layer,
                "name": s.name, "start": s.start, "end": s.end,
                "self_s": self_time(s, self.children(s)), **s.metrics,
            }
            for s in self.spans
        ]
