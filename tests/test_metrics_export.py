"""Observability surface: Prometheus textfile export, Observation /
DQ / streaming-progress adapters, and the parquet metrics history —
the engine-scope analog of the reference's Grafana/JMX monitoring
(reference volumes/grafana + docker-compose metrics sinks)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from data_lakehouse_platform_spark.operators.metrics_export import (
    MetricsHistory,
    dq_check_metrics,
    executor_metrics,
    export_prometheus,
    observation_metrics,
    prometheus_lines,
    streaming_progress_metrics,
)


def test_prometheus_lines_format():
    lines = prometheus_lines(
        {"rows": 42, "rate": 1.5, "bad name!": 1, "skipme": "str",
         "flag": True},
        labels={"table": 'or"ders', "env": "x\ny"},
        help_text={"rows": "row count"},
    )
    # numbers only, sorted, sanitized names, escaped labels
    assert '# HELP dlp_rows row count' in lines
    body = [ln for ln in lines if not ln.startswith("#")]
    assert body == [
        'dlp_bad_name_{env="x\\ny",table="or\\"ders"} 1',
        'dlp_flag{env="x\\ny",table="or\\"ders"} 1',
        'dlp_rate{env="x\\ny",table="or\\"ders"} 1.5',
        'dlp_rows{env="x\\ny",table="or\\"ders"} 42',
    ]


def test_export_prometheus_atomic_and_append(tmp_path):
    p = str(tmp_path / "dlp.prom")
    export_prometheus(p, {"a": 1})
    export_prometheus(p, {"b": 2.5}, append=True)
    text = open(p).read()
    assert "dlp_a 1\n" in text and "dlp_b 2.5\n" in text
    # no temp debris left behind
    assert [f for f in os.listdir(tmp_path) if ".tmp-" in f] == []
    # overwrite replaces
    export_prometheus(p, {"c": 3})
    assert open(p).read() == "dlp_c 3\n"


def test_observation_and_dq_adapters(spark):
    from data_lakehouse_platform_spark.operators.quality import (
        DQCheck,
        observe_metrics,
        run_checks,
    )

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0)], "id int, v double"
    )
    inst, obs = observe_metrics(df, "m")
    inst.write.format("noop").mode("overwrite").save()
    m = observation_metrics(obs)
    assert m["n_rows"] == 3 and m["nulls_v"] == 1

    dq = run_checks(
        {"t": df},
        [DQCheck(table="t", check="null_count", column="v",
                 max_null_rate=0.05)],
    )
    dm = dq_check_metrics(dq)
    key = "t__null_count__v"
    assert dm[key] == 1.0
    assert dm[f"{key}_passed"] == 0  # 33% nulls > 5% threshold
    # the adapters compose into one exposition file
    lines = prometheus_lines({**m, **dm}, labels={"run": "r1"})
    assert any("dlp_n_rows" in ln for ln in lines)


def test_streaming_progress_metrics_shape():
    prog = {
        "batchId": 7,
        "numInputRows": 120,
        "inputRowsPerSecond": 60.0,
        "processedRowsPerSecond": 240.0,
        "durationMs": {"triggerExecution": 500},
        "stateOperators": [
            {"numRowsTotal": 1001, "numRowsUpdated": 17},
            {"numRowsTotal": 9, "numRowsUpdated": 1},
        ],
        "eventTime": {
            "watermark": "2024-03-01T00:00:00.000Z",
            "max": "2024-03-01T00:00:30.000Z",
        },
    }
    m = streaming_progress_metrics(prog)
    assert m["state_rows_total"] == 1010
    assert m["state_rows_updated"] == 18
    assert m["batch_duration_ms"] == 500
    assert m["watermark_age_ms"] == 30_000
    assert streaming_progress_metrics(None) == {}


def test_streaming_progress_from_live_query(spark, tmp_path):
    """End-to-end: a real rate-source micro-batch's lastProgress feeds
    the adapter (field names match the live shape, not just the
    fixture's)."""
    q = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "100")
        .load()
        .groupBy()
        .count()
        .writeStream.format("memory")
        .queryName("me_rate")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    m = streaming_progress_metrics(q.lastProgress)
    assert m and m["num_input_rows"] >= 0 and "state_rows_total" in m


def test_executor_metrics(spark):
    m = executor_metrics(spark)
    assert m["default_parallelism"] >= 1
    assert m["active_jobs"] >= 0


def test_metrics_history_roundtrip(spark, tmp_path):
    h = MetricsHistory(str(tmp_path / "hist"))
    n = h.append(spark, {"rows": 10, "rate": 1.5, "skip": "x"},
                 labels={"t": "orders"}, ts_ms=1_700_000_000_000)
    assert n == 2
    h.append(spark, {"rows": 12}, labels={"t": "orders"},
             ts_ms=1_700_000_060_000)
    all_rows = h.read(spark)
    assert all_rows.count() == 3
    # day partition directory exists (retention = directory drops)
    assert any(
        d.startswith("day=2023-11-14") for d in os.listdir(tmp_path / "hist")
    )
    latest = {
        r.name: r.value
        for r in h.latest(spark).filter("name = 'rows'").collect()
    }
    assert latest == {"rows": 12.0}
    # partition pruning: a day filter reads one directory
    pruned = h.read(spark).filter(F.col("day") == "2023-11-14")
    assert pruned.count() == 3


def test_progress_listener_end_to_end(spark, tmp_path):
    """A live micro-batch drives the StreamingQueryListener: the .prom
    exposition file appears (scrape surface) and flush_to_history lands
    the buffered points in the parquet history — the streaming half of
    the reference's Grafana loop, with no Spark job on the listener
    thread."""
    import time as _time

    from data_lakehouse_platform_spark.streaming.monitor import (
        ProgressMetricsListener,
    )

    prom = str(tmp_path / "stream.prom")
    lst = ProgressMetricsListener(prom_path=prom, labels={"env": "test"})
    spark.streams.addListener(lst)
    try:
        q = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", "50")
            .load()
            .groupBy()
            .count()
            .writeStream.format("memory")
            .queryName("mon_rate")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        # listener events are delivered asynchronously
        deadline = _time.time() + 30
        while _time.time() < deadline and not lst.snapshot():
            _time.sleep(0.2)
    finally:
        spark.streams.removeListener(lst)
    pts = lst.snapshot()
    assert pts, "listener saw no progress events"
    _ts, m, labels = pts[-1]
    assert labels["query"] == "mon_rate" and labels["env"] == "test"
    assert "state_rows_total" in m
    assert os.path.exists(prom)
    assert "dlp_stream_" in open(prom).read()
    h = MetricsHistory(str(tmp_path / "hist"))
    n = lst.flush_to_history(spark, h)
    assert n > 0
    assert lst.snapshot() == []  # buffer drained
    got = h.read(spark).filter("name = 'num_input_rows'")
    assert got.count() >= 1


def test_lakehouse_profile_feeds_metrics_history(spark, tmp_path):
    """``Lakehouse.profile`` gives one flat numeric record, build and
    action windows apart, that the parquet history takes as it is."""
    from data_lakehouse_platform_spark.engine import Lakehouse
    from tests.conftest import SF_DIR

    rec = Lakehouse(spark=spark, sf_dir=SF_DIR).profile("q1_pricing_summary")
    # resolving the lineitem table is an eager job of the builder; the
    # noop write runs the plan
    assert rec["build_jobs"] >= 1 and rec["action_jobs"] >= 1
    assert rec["action_stages"] >= 1 and rec["action_input_records"] > 0
    assert set(rec) == {f"{w}_{k}" for w in ("build", "action") for k in (
        "wall_s", "jobs", "stages", "tasks", "shuffle_read_bytes",
        "shuffle_write_bytes", "spill_bytes", "input_records",
        "max_task_records")}
    h = MetricsHistory(str(tmp_path / "hist"))
    assert h.append(spark, rec, labels={"query": "q1_pricing_summary"}) == len(rec)
    back = {r.name: r.value for r in h.read(spark).collect()}
    assert back == {k: float(v) for k, v in rec.items()}
