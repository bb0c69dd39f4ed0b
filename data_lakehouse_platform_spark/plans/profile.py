"""Stage metrics of a block of Spark work, read from the driver's
status store.

``profile`` is the engine's one reader of these numbers: the scale and
stress lanes and ``Lakehouse.profile`` all go through it.  It needs no UI (the status store is kept with
``spark.ui.enabled=false``) and waits for the listener bus before it
reads, so the last stage of the block is never missing.

Attribution is by watermark, not by job group: every job that started,
and every stage that completed, after entry is counted.  Jobs that a
helper thread or a streaming micro-batch launches under a job group of
its own are therefore counted too; so is any concurrent work from
another thread, so profile one block of work at a time.
"""

from __future__ import annotations

import contextlib
import time

from pyspark.sql import SparkSession


def _job_id(job) -> int:
    return job.jobId()


def _stage_id(stage) -> int:
    return stage.stageId()


def _top(seq, key) -> int:
    """Highest id in a status-store list, which is ordered newest first."""
    return -1 if seq.isEmpty() else key(seq.head())


def _above(seq, mark: int, key):
    """Items of a status-store list (newest first) with ids above ``mark``."""
    it = seq.iterator()
    while it.hasNext():
        item = it.next()
        if key(item) <= mark:
            return
        yield item


@contextlib.contextmanager
def profile(spark: SparkSession):
    """Profile the body of a ``with`` block.

    Yields a dict that is filled in when the block exits normally:

    * ``wall_s`` — seconds spent in the block;
    * ``jobs``, ``stages``, ``tasks`` — jobs started, and completed
      stages and their tasks;
    * ``shuffle_read_bytes``, ``shuffle_write_bytes``, ``spill_bytes``
      (memory plus disk);
    * ``input_records`` — records read by scans, summed;
    * ``max_task_records`` — the worst task's records: the largest of
      any stage's quantile-1.0 scan ``recordsRead`` and shuffle
      ``readRecords``.

    If the block raises, the exception propagates and the dict stays
    empty.
    """
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    store = jsc.statusStore()
    gw = sc._gateway
    empty = gw.new_array(gw.jvm.double, 0)
    jsc.listenerBus().waitUntilEmpty()
    job_mark = _top(store.jobsList(None), _job_id)
    stage_mark = _top(store.stageList(None, False, False, empty, None), _stage_id)
    record: dict = {}
    t0 = time.perf_counter()
    yield record
    wall = time.perf_counter() - t0
    jsc.listenerBus().waitUntilEmpty()

    worst_q = gw.new_array(gw.jvm.double, 1)
    worst_q[0] = 1.0
    record.update(
        wall_s=wall,
        jobs=sum(1 for _ in _above(store.jobsList(None), job_mark, _job_id)),
        stages=0, tasks=0, shuffle_read_bytes=0, shuffle_write_bytes=0,
        spill_bytes=0, input_records=0, max_task_records=0,
    )
    stages = store.stageList(None, False, False, empty, None)
    for st in _above(stages, stage_mark, _stage_id):
        if st.status().toString() != "COMPLETE":
            continue
        record["stages"] += 1
        record["tasks"] += st.numTasks()
        record["shuffle_read_bytes"] += st.shuffleReadBytes()
        record["shuffle_write_bytes"] += st.shuffleWriteBytes()
        record["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        record["input_records"] += st.inputRecords()
        summary = store.taskSummary(st.stageId(), st.attemptId(), worst_q)
        if summary.isDefined():
            dist = summary.get()
            record["max_task_records"] = max(
                record["max_task_records"],
                int(dist.inputMetrics().recordsRead().apply(0)),
                int(dist.shuffleReadMetrics().readRecords().apply(0)),
            )
