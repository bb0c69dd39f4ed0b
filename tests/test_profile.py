"""The in-package stage-metrics reader (``plans.profile``) on the shared
test session, which runs with the UI disabled."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from data_lakehouse_platform_spark.plans.profile import profile

ROWS_PER_FILE, FILES = 250, 4


def _one_job(spark):
    # one job, one stage, two tasks: an RDD count has no shuffle
    return spark.sparkContext.parallelize(range(10), 2).count()


def test_exact_counts_for_a_known_shuffle(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.range(0, ROWS_PER_FILE * FILES, 1, FILES).write.parquet(path)
    # reading the footer for the schema is a job of its own: keep it
    # outside the window
    df = spark.read.parquet(path).groupBy((F.col("id") % 10).alias("k")).count()
    with profile(spark) as rec:
        rows = df.collect()
    assert sorted(r["count"] for r in rows) == [FILES * ROWS_PER_FILE // 10] * 10
    # AQE runs the map stage as a job of its own; the result job skips
    # it and reads the partial aggregates through one coalesced task.
    assert rec["jobs"] == 2
    assert rec["stages"] == 2
    assert rec["tasks"] == FILES + 1
    assert rec["input_records"] == ROWS_PER_FILE * FILES
    # the worst task is a scan task reading one whole file; the reduce
    # task reads FILES x 10 partial counts
    assert rec["max_task_records"] == ROWS_PER_FILE
    assert rec["shuffle_read_bytes"] > 0 and rec["shuffle_write_bytes"] > 0
    assert rec["spill_bytes"] == 0
    assert rec["wall_s"] > 0


def test_job_from_a_second_thread_is_counted(spark):
    def worker():
        spark.sparkContext.setJobGroup("profile-helper", "helper thread")
        _one_job(spark)

    with profile(spark) as rec:
        t = threading.Thread(target=worker)
        t.start()
        t.join(120)
    assert not t.is_alive()
    assert (rec["jobs"], rec["stages"], rec["tasks"]) == (1, 1, 2)


def test_jobs_before_entry_are_not_counted(spark):
    _one_job(spark)
    with profile(spark) as rec:
        pass
    assert (rec["jobs"], rec["stages"], rec["tasks"]) == (0, 0, 0)
    assert rec["max_task_records"] == 0 and rec["input_records"] == 0


def test_raising_block_propagates_and_leaves_no_state(spark):
    sc = spark.sparkContext
    group = sc.getLocalProperty("spark.jobGroup.id")
    with pytest.raises(ZeroDivisionError):
        with profile(spark) as failed:
            _one_job(spark)
            1 / 0
    assert failed == {}
    assert sc.getLocalProperty("spark.jobGroup.id") == group
    # the failed window's job does not leak into the next one
    with profile(spark) as rec:
        _one_job(spark)
    assert (rec["jobs"], rec["stages"], rec["tasks"]) == (1, 1, 2)
