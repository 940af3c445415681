"""Spans and Spark status-store counters, recorded from the benchmark's
side of the library boundary.

A span is (name, start, end, parent, op): the benchmark opens one around
each public library call and around each whole operation. Spans stay in
memory until the run ends. Values recorded with ``Tracer.record`` become
the per-layer metrics (the median over the operations that measured
them). Spark's own counters come from the application status store,
grouped per operation by the job group the tracer sets while the
operation runs, so host stalls do not move them. A span opened with
``group=True`` runs its jobs under the sub-group ``<op>/<name>``, so what
that one library call wrote (stage output records and bytes) and what its
plan nodes counted (SQL metrics) can be read back for it alone.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    op: str


class Tracer:
    """Records spans and per-operation counters. With ``enabled=False``
    ``op`` only sets the job group and every other recording method is a
    cheap no-op, so the untraced run executes the same code path; it
    reads the status store only for ``jobs``, after each operation."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self.spans: list[Span] = []
        self.ops: dict[str, dict] = {}
        self.values: dict[str, list[float]] = {}
        self._stack: list[str] = []
        self.current_op: str | None = None
        self._kind = ""

    @contextmanager
    def op(self, op_id: str, kind: str):
        """One benchmark operation; its Spark jobs share the job group
        ``op_id``, traced or not, so their stages can be attributed and
        counted afterwards."""
        if not self.enabled:
            self.sc.setJobGroup(op_id, kind)
            try:
                yield
            finally:
                self.sc.setJobGroup("idle", "idle")
            return
        self.current_op = op_id
        self._kind = kind
        self.sc.setJobGroup(op_id, kind)
        start_ms = time.time() * 1000
        t0 = time.perf_counter()
        try:
            with self.span(kind):
                yield
        finally:
            wall = time.perf_counter() - t0
            self.sc.setJobGroup("idle", "idle")
            self.current_op = None
            self.ops[op_id] = {
                "kind": kind,
                "wall_s": wall,
                "start_ms": start_ms,
                "end_ms": start_ms + wall * 1000,
            }

    @contextmanager
    def span(self, name: str, group: bool = False):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sub = group and self.current_op is not None
        if sub:
            self.sc.setJobGroup(f"{self.current_op}/{name}", name)
        self._stack.append(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._stack.pop()
            self.spans.append(
                Span(name, t0, time.perf_counter(), parent, self.current_op or "")
            )
            if sub:
                self.sc.setJobGroup(self.current_op, self._kind)

    def record(self, name: str, value: float) -> None:
        if self.enabled:
            self.values.setdefault(name, []).append(float(value))

    def last_span_s(self, name: str) -> float:
        for s in reversed(self.spans):
            if s.name == name:
                return s.end - s.start
        return 0.0

    # --- Spark status store ----------------------------------------------

    def _jobs(self, group: str):
        """Jobs run under job group ``group`` or one of its sub-groups."""
        # the status store is fed by the listener bus; drain it first so
        # the operation that just ended is complete in it
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = self.sc._jsc.sc().statusStore().jobsList(None)
        out = []
        for i in range(jobs.size()):
            job = jobs.apply(i)
            g = job.jobGroup()
            if g.isDefined() and (g.get() == group or g.get().startswith(group + "/")):
                out.append(job)
        return out

    def _stages(self, jobs) -> list:
        ids = set()
        for job in jobs:
            s = job.stageIds()
            ids.update(s.apply(j) for j in range(s.size()))
        stages = self.sc._jsc.sc().statusStore().stageList(
            None, False, False, self.sc._gateway.new_array(self.sc._jvm.double, 0), None
        )
        out = []
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() in ids:
                out.append(s)
        return out

    def jobs(self, group: str) -> float:
        """Spark jobs run under job group ``group``. In this pipeline
        and its queries each job runs one stage (the others it lists are
        skipped, their shuffle output reused), so this also counts the
        stages run."""
        return float(len(self._jobs(group)))

    def written(self, group: str) -> tuple[float, float]:
        """(records, bytes) the stages of job group ``group`` wrote."""
        stages = self._stages(self._jobs(group))
        return (
            float(sum(s.outputRecords() for s in stages)),
            float(sum(s.outputBytes() for s in stages)),
        )

    def node_rows(self, group: str, suffix: str) -> float:
        """Sum of the "number of output rows" SQL metric of every plan
        node whose name ends with ``suffix``, over the SQL executions that
        ran jobs of job group ``group``."""
        job_ids = {job.jobId() for job in self._jobs(group)}
        store = self._sql_store
        execs = store.executionsList()
        total = 0.0
        for i in range(execs.size()):
            e = execs.apply(i)
            it = e.jobs().keys().iterator()
            ran = set()
            while it.hasNext():
                ran.add(it.next())
            if not ran & job_ids:
                continue
            values = store.executionMetrics(e.executionId())
            nodes = store.planGraph(e.executionId()).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                if not node.name().endswith(suffix):
                    continue
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    v = values.get(m.accumulatorId())
                    if m.name() == "number of output rows" and v.isDefined():
                        total += float(v.get().replace(",", ""))
        return total

    def spark_counters(self, op_id: str, cores: int) -> dict[str, float]:
        """Counters of every stage run under job group ``op_id``."""
        info = self.ops[op_id]
        jobs = self._jobs(op_id)
        c = dict.fromkeys(
            (
                "stages", "tasks", "executor_run_s", "executor_cpu_s",
                "jvm_gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
                "spill_bytes", "input_bytes", "output_bytes", "failed_tasks",
            ),
            0.0,
        )
        intervals = []
        for s in self._stages(jobs):
            c["stages"] += 1
            c["tasks"] += s.numTasks()
            c["failed_tasks"] += s.numFailedTasks()
            c["executor_run_s"] += s.executorRunTime() / 1e3
            c["executor_cpu_s"] += s.executorCpuTime() / 1e9
            c["jvm_gc_s"] += s.jvmGcTime() / 1e3
            c["shuffle_read_bytes"] += s.shuffleReadBytes()
            c["shuffle_write_bytes"] += s.shuffleWriteBytes()
            c["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            c["input_bytes"] += s.inputBytes()
            c["output_bytes"] += s.outputBytes()
            sub, done = s.submissionTime(), s.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
        c["jobs"] = float(len(jobs))
        wall = info["wall_s"]
        busy_ms = _covered(intervals, info["start_ms"], info["end_ms"])
        c["driver_gap_s"] = max(0.0, wall - busy_ms / 1e3)
        c["utilisation"] = c["executor_run_s"] / (wall * cores) if wall > 0 else 0.0
        return {f"spark.{k}": v for k, v in c.items()}


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_a = cur_b = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def plan_metrics(df) -> dict[str, float]:
    """Catalyst phase time and scan metrics of an executed DataFrame:
    ``plan_ms`` sums the QueryPlanningTracker's analysis, optimization and
    planning phases; ``files_read``/``rows_scanned`` sum the file scans of
    the final adaptive plan; ``exchanges`` counts its shuffle exchanges."""
    qe = df._jdf.queryExecution()
    phases = qe.tracker().phases()
    plan_ms = 0.0
    for phase in ("analysis", "optimization", "planning"):
        p = phases.get(phase)
        if p.isDefined():
            plan_ms += p.get().durationMs()
    out = {"plan_ms": plan_ms, "files_read": 0.0, "rows_scanned": 0.0, "exchanges": 0.0}
    _walk(qe.executedPlan(), out)
    return out


def _walk(node, out: dict) -> None:
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        _walk(node.executedPlan(), out)
        return
    if name.endswith("QueryStageExec"):
        _walk(node.plan(), out)
        return
    if name == "ShuffleExchangeExec":
        out["exchanges"] += 1
    if name == "FileSourceScanExec":
        metrics = node.metrics()
        for key, field in (("numFiles", "files_read"), ("numOutputRows", "rows_scanned")):
            m = metrics.get(key)
            if m.isDefined():
                out[field] += m.get().value()
    children = node.children()
    for i in range(children.size()):
        _walk(children.apply(i), out)
