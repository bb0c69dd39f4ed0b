"""Spans around calls into the program's layers, read from outside.

Every span runs its Spark jobs under a job group of its own, so the
status tracker attributes each job to the innermost span that launched
it (a group id is never reused: ``getJobIdsForGroup`` keeps accumulating
when one is).  Stage figures are read from the driver's status store
once the op is over, outside the timed region.  Spans stay in memory and
are written out at the end of the run.

With tracing off, ``span`` is a no-op and nothing here calls into Spark.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import sys
import time

from metrics import Span, interval_union

JOB_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spark = None
        self.spans: list[Span] = []
        self.op = -1
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._prefix = f"perfbench-{os.getpid()}-"

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        s = Span(name, 0.0, 0.0, self._stack[-1].id if self._stack else None,
                 self.op, next(self._ids))
        s.groups.append(self._prefix + str(s.id))
        prev = sc.getLocalProperty(JOB_GROUP)
        sc.setLocalProperty(JOB_GROUP, s.groups[0])
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            sc.setLocalProperty(JOB_GROUP, prev)
            self.spans.append(s)

    def op_spans(self, op: int) -> list[Span]:
        return [s for s in self.spans if s.op == op]

    def resolve(self, op: int) -> dict:
        """Attach job ids to the op's spans and return the op's engine
        figures: jobs, stages, tasks, shuffle, spill, GC, worst task and
        the wall time during which at least one of its jobs ran."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        job_ids: list[int] = []
        for s in self.op_spans(op):
            s.jobs = sorted(j for g in s.groups for j in tracker.getJobIdsForGroup(g))
            job_ids += s.jobs
        return engine_figures(sc, sorted(set(job_ids)))

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s.id, "op": s.op, "name": s.name, "parent": s.parent,
                    "start": s.start, "end": s.end,
                    "jobs": s.jobs,
                }) + "\n")


def engine_figures(sc, job_ids: list[int]) -> dict:
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    max_q = gw.new_array(gw.jvm.double, 1)
    max_q[0] = 1.0
    out = dict(jobs=len(job_ids), stages=0, tasks=0, failed_tasks=0,
               shuffle_read_bytes=0, shuffle_write_bytes=0, spill_bytes=0,
               gc_s=0.0, max_task_input_records=0, execute_s=0.0)
    intervals = []
    seen = set()
    for j in job_ids:
        job = store.job(j)
        if job.submissionTime().isDefined() and job.completionTime().isDefined():
            intervals.append((job.submissionTime().get().getTime() / 1000.0,
                          job.completionTime().get().getTime() / 1000.0))
        stage_ids = job.stageIds()
        for k in range(stage_ids.size()):
            sid = stage_ids.apply(k)
            if sid in seen:
                continue
            seen.add(sid)
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["failed_tasks"] += st.numFailedTasks()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["gc_s"] += st.jvmGcTime() / 1000.0
            summary = store.taskSummary(sid, st.attemptId(), max_q)
            if summary.isDefined():
                worst = summary.get().inputMetrics().recordsRead().apply(0)
                out["max_task_input_records"] = max(
                    out["max_task_input_records"], int(worst))
    out["execute_s"] = interval_union(intervals)
    return out


def wrap_load_table(tracer: Tracer) -> None:
    """Time every call into ``catalog.load_table``.

    Must run before the query registry is imported: the registry modules
    bind ``load_table`` by name at import time.
    """
    if any(m.startswith("data_lakehouse_platform_spark.queries") for m in sys.modules):
        raise RuntimeError("wrap catalog.load_table before importing the registry")
    from data_lakehouse_platform_spark import catalog

    inner = catalog.load_table

    @functools.wraps(inner)
    def load_table(spark, sf_dir, name):
        with tracer.span("catalog.load_table"):
            return inner(spark, sf_dir, name)

    catalog.load_table = load_table
