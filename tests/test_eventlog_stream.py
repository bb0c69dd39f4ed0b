"""Custom streaming Python Data Source: offset semantics, parallel
per-segment partitions, and checkpoint-restart exactly-once — the
Kafka-shaped contract, proven end to end without a broker."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from data_lakehouse_platform_spark.sources.eventlog_stream import (
    EventLogStreamDataSource,
    append_segment,
    sealed_segments,
)


def _rows(seg: int, n: int):
    return [
        {
            "event_id": seg * 1000 + i,
            "user_id": i % 5,
            "event_type": "view" if i % 2 else "purchase",
            "ts": f"2024-01-0{seg + 1} 00:00:{i:02d}",
            "value": float(i),
        }
        for i in range(n)
    ]


def _run_until(q, pred, timeout_s=60):
    t0 = time.time()
    while time.time() - t0 < timeout_s:
        q.processAllAvailable()
        if pred():
            return
        time.sleep(0.3)
    raise AssertionError("stream did not reach expected state in time")


def test_eventlog_stream_exactly_once_across_restart(spark, tmp_path):
    spark.dataSource.register(EventLogStreamDataSource)
    log = str(tmp_path / "log")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    append_segment(log, _rows(0, 10))
    append_segment(log, _rows(1, 10))
    assert sealed_segments(log) == 2

    def start():
        return (
            spark.readStream.format("eventlog")
            .option("path", log)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 20

    # while the stream is DOWN, two more segments land
    append_segment(log, _rows(2, 7))
    append_segment(log, _rows(3, 3))

    q = start()
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    # exactly-once: 30 rows total, no re-serve of segments 0-1,
    # every event_id exactly once
    assert got.count() == 30
    ids = [r.event_id for r in got.select("event_id").collect()]
    assert len(ids) == len(set(ids)) == 30
    assert got.where(F.col("event_id") >= 2000).count() == 10


def test_eventlog_stream_aggregates_and_schema(spark, tmp_path):
    spark.dataSource.register(EventLogStreamDataSource)
    log = str(tmp_path / "log")
    append_segment(log, _rows(0, 20))
    append_segment(log, _rows(1, 20))

    agg_out = []

    def sink(batch_df, batch_id):
        agg_out.append(
            {
                r.event_type: r.n
                for r in batch_df.groupBy("event_type")
                .agg(F.count("*").alias("n"))
                .collect()
            }
        )

    q = (
        spark.readStream.format("eventlog")
        .option("path", log)
        .load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    total = {}
    for b in agg_out:
        for k, v in b.items():
            total[k] = total.get(k, 0) + v
    assert total == {"view": 20, "purchase": 20}


def test_eventlog_batch_write_read_roundtrip(spark, tmp_path):
    spark.dataSource.register(EventLogStreamDataSource)
    log = str(tmp_path / "blog")
    df = spark.createDataFrame(
        [tuple(r[k] for k in ("event_id", "user_id", "event_type", "ts", "value"))
         for r in _rows(0, 12)],
        "event_id bigint, user_id bigint, event_type string, ts string, value double",
    ).repartition(5)  # includes the empty-partition path
    df.write.format("eventlog").mode("append").option("path", log).save()
    assert sealed_segments(log) >= 1
    back = spark.read.format("eventlog").option("path", log).load()
    assert back.count() == 12
    assert {r.event_id for r in back.collect()} == {r["event_id"] for r in _rows(0, 12)}

    # append adds, overwrite replaces
    df.write.format("eventlog").mode("append").option("path", log).save()
    assert spark.read.format("eventlog").option("path", log).load().count() == 24
    df.limit(3).write.format("eventlog").mode("overwrite").option("path", log).save()
    assert spark.read.format("eventlog").option("path", log).load().count() == 3


def test_eventlog_sink_relay_exactly_once(spark, tmp_path):
    """Source log -> stream -> sink log: the topic-to-topic relay, with a
    stop/append/restart in the middle — every event lands in the sink
    exactly once."""
    spark.dataSource.register(EventLogStreamDataSource)
    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    ckpt = str(tmp_path / "ck")
    append_segment(src, _rows(0, 8))
    append_segment(src, _rows(1, 8))

    def relay():
        return (
            spark.readStream.format("eventlog").option("path", src).load()
            .writeStream.format("eventlog").option("path", dst)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = relay(); q.awaitTermination(120)
    append_segment(src, _rows(2, 5))
    q = relay(); q.awaitTermination(120)

    out = spark.read.format("eventlog").option("path", dst).load()
    ids = [r.event_id for r in out.select("event_id").collect()]
    assert len(ids) == len(set(ids)) == 21


def test_eventlog_sink_replayed_batch_commits_once(tmp_path):
    """Driver-side idempotence: a micro-batch whose commit already
    landed (marker present) publishes nothing when replayed."""
    from pyspark.sql import Row
    from data_lakehouse_platform_spark.sources.eventlog_stream import (
        EventLogStreamWriter,
        _write_tmp,
        _FIELDS,
    )
    import os

    log = str(tmp_path / "sink")
    w = EventLogStreamWriter({"path": log})
    rows = [Row(**r) for r in _rows(0, 4)]

    m1 = _write_tmp(log, iter(rows), _FIELDS)
    w.commit([m1], batchId=7)
    assert sealed_segments(log) == 1

    # replay of batch 7: fresh tmp, same batch id -> dropped, not sealed
    m2 = _write_tmp(log, iter(rows), _FIELDS)
    w.commit([m2], batchId=7)
    assert sealed_segments(log) == 1
    assert not [f for f in os.listdir(log) if f.startswith(".tmp-")]

    # next batch id seals normally
    m3 = _write_tmp(log, iter(rows), _FIELDS)
    w.commit([m3], batchId=8)
    assert sealed_segments(log) == 2


def test_eventlog_abort_drops_tmps(tmp_path):
    from pyspark.sql import Row
    from data_lakehouse_platform_spark.sources.eventlog_stream import (
        EventLogBatchWriter,
        _write_tmp,
        _FIELDS,
    )
    import os

    log = str(tmp_path / "ab")
    w = EventLogBatchWriter({"path": log}, overwrite=False)
    m = _write_tmp(log, iter([Row(**r) for r in _rows(0, 3)]), _FIELDS)
    w.abort([m])
    assert sealed_segments(log) == 0
    assert not [f for f in os.listdir(log) if f.startswith(".tmp-")]


def test_eventlog_custom_schema_roundtrip(spark, tmp_path):
    """The transport is schema-generic: any flat JSON-representable
    schema rides the same sealed-segment protocol."""
    spark.dataSource.register(EventLogStreamDataSource)
    log = str(tmp_path / "generic")
    df = spark.createDataFrame(
        [(1, "alpha", True, 1.5), (2, "beta", False, -2.25)],
        "k bigint, name string, flag boolean, score double",
    )
    df.write.format("eventlog").mode("append").option("path", log).save()
    back = (
        spark.read.format("eventlog")
        .schema("k bigint, name string, flag boolean, score double")
        .option("path", log)
        .load()
    )
    assert sorted(back.collect(), key=lambda r: r.k) == sorted(
        df.collect(), key=lambda r: r.k
    )


def test_eventlog_vacuum_and_starting_segment(spark, tmp_path):
    from data_lakehouse_platform_spark.sources.eventlog_stream import (
        segment_range,
        vacuum_segments,
    )

    spark.dataSource.register(EventLogStreamDataSource)
    log = str(tmp_path / "vac")
    for seg in range(4):
        append_segment(log, _rows(seg, 5))

    assert vacuum_segments(log, keep_from=2) == 2
    assert segment_range(log) == (2, 4)

    # batch read serves only the retained suffix
    back = spark.read.format("eventlog").option("path", log).load()
    assert {r.event_id // 1000 for r in back.collect()} == {2, 3}

    # a fresh stream starts at the retention floor, not at zero
    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("eventlog").option("path", log).load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == 10

    # startingSegment skips ahead of the floor (Kafka startingOffsets)
    out2 = str(tmp_path / "out2")
    q = (
        spark.readStream.format("eventlog")
        .option("path", log).option("startingSegment", 3).load()
        .writeStream.format("parquet").option("path", out2)
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.read.parquet(out2).count() == 5


def test_eventlog_watermarked_window_agg(spark, tmp_path):
    """Event-time semantics over the custom source: watermark +
    tumbling window aggregation, late data beyond the watermark
    dropped across micro-batches."""
    spark.dataSource.register(EventLogStreamDataSource)
    log = str(tmp_path / "wm")
    out = str(tmp_path / "wmout")

    def _midday(seg, n):
        # midday timestamps so "max event time - 1h" lands inside the
        # same day and can close the PREVIOUS day's window
        rows = _rows(seg, n)
        for r in rows:
            r["ts"] = r["ts"].replace(" 00:00:", " 12:00:")
        return rows

    def run():
        agg = (
            spark.readStream.format("eventlog").option("path", log).load()
            .withColumn("ets", F.to_timestamp("ts"))
            .withWatermark("ets", "1 hour")
            .groupBy(F.window("ets", "1 day").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        q = (
            agg.writeStream.outputMode("append")
            .format("parquet").option("path", out)
            .option("checkpointLocation", str(tmp_path / "wmck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    append_segment(log, _midday(0, 10))  # 2024-01-01 12:00:0x
    run()  # watermark still epoch during this batch; nothing closed
    append_segment(log, _midday(1, 10))  # 2024-01-02 12:00:0x
    run()  # batch runs with watermark = day-1 max - 1h: day 1 still open
    append_segment(log, _midday(2, 6))  # day-3 data drives the next batch
    run()  # watermark now day-2 12:00 - 1h -> day-1 window closes, emits

    got = spark.read.parquet(out)
    day1 = got.where(F.col("w.start") == "2024-01-01 00:00:00")
    rows = {(r.event_type, r.n) for r in day1.collect()}
    assert rows == {("view", 5), ("purchase", 5)}
    # day-2/day-3 windows are NOT emitted: still open under the watermark
    assert got.where(F.col("w.start") >= "2024-01-02 00:00:00").count() == 0


def test_eventlog_bootstrap_then_tail(spark, tmp_path):
    """The kappa bootstrap pattern startingSegment exists for: batch-
    read the history [0, N) for a backfill, then tail the stream from
    segment N — union covers every event exactly once, no overlap."""
    spark.dataSource.register(EventLogStreamDataSource)
    log = str(tmp_path / "boot")
    for seg in range(3):
        append_segment(log, _rows(seg, 4))
    cut = sealed_segments(log)  # 3

    backfill = spark.read.format("eventlog").option("path", log).load()
    backfill_ids = {r.event_id for r in backfill.collect()}
    assert len(backfill_ids) == 12

    append_segment(log, _rows(3, 4))  # live traffic after the cut
    out = str(tmp_path / "tail")
    q = (
        spark.readStream.format("eventlog")
        .option("path", log).option("startingSegment", cut).load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    tail_ids = {r.event_id for r in spark.read.parquet(out).collect()}
    assert tail_ids == {3000 + i for i in range(4)}
    assert backfill_ids.isdisjoint(tail_ids)
    assert len(backfill_ids | tail_ids) == 16


def test_eventlog_concurrent_sealers_never_clobber(tmp_path):
    """Two committers racing for the same segment slot must interleave,
    not overwrite: sealing is os.link put-if-absent with slot retry."""
    from pyspark.sql import Row
    from data_lakehouse_platform_spark.sources.eventlog_stream import (
        EventLogBatchWriter,
        _write_tmp,
        _FIELDS,
        segment_path,
    )
    import json as _json

    log = str(tmp_path / "race")
    w = EventLogBatchWriter({"path": log}, overwrite=False)
    # writer A stages its tmp while the log has 0 segments...
    m_a = _write_tmp(log, iter([Row(**r) for r in _rows(0, 2)]), _FIELDS)
    # ...and an interloping producer seals segment 0 first
    append_segment(log, _rows(9, 3))
    w.commit([m_a])  # A must land at slot 1, not clobber slot 0
    assert sealed_segments(log) == 2
    with open(segment_path(log, 0)) as fh:
        ids0 = {_json.loads(l)["event_id"] for l in fh if l.strip()}
    with open(segment_path(log, 1)) as fh:
        ids1 = {_json.loads(l)["event_id"] for l in fh if l.strip()}
    assert ids0 == {9000, 9001, 9002}  # interloper intact
    assert ids1 == {0, 1}              # A's rows after it


def test_eventlog_sink_crash_inside_commit_recovers_exactly_once(tmp_path):
    """Simulate a crash BETWEEN sealing and the committed marker: the
    begin marker pinned the slots, so the replay re-links only the
    missing ones — no loss, no duplicates."""
    import json as _json
    from pyspark.sql import Row
    from data_lakehouse_platform_spark.sources.eventlog_stream import (
        EventLogStreamWriter,
        _atomic_write_json,
        _write_tmp,
        _FIELDS,
        segment_path,
    )

    log = str(tmp_path / "crash")
    w = EventLogStreamWriter({"path": log})
    rows = [Row(**r) for r in _rows(0, 6)]

    # ---- first attempt: begin written, only slot 0 sealed, then "crash"
    import os

    os.makedirs(log, exist_ok=True)
    m1 = _write_tmp(log, iter(rows[:3]), _FIELDS)
    m2 = _write_tmp(log, iter(rows[3:]), _FIELDS)
    assert _atomic_write_json(log, ".batch-000000000005.begin", {"base": 0, "count": 2})
    os.link(m1.tmp_path, segment_path(log, 0))  # slot 0 sealed
    # crash: m1/m2 tmps orphaned, slot 1 unsealed, no committed marker

    # ---- replay: fresh tmps, same rows, same batch id
    r1 = _write_tmp(log, iter(rows[:3]), _FIELDS)
    r2 = _write_tmp(log, iter(rows[3:]), _FIELDS)
    w.commit([r1, r2], batchId=5)

    assert sealed_segments(log) == 2
    ids = []
    for n in range(2):
        with open(segment_path(log, n)) as fh:
            ids += [_json.loads(l)["event_id"] for l in fh if l.strip()]
    assert sorted(ids) == [r["event_id"] for r in _rows(0, 6)]  # each once
    assert os.path.exists(log + "/.batch-000000000005.committed")

    # a second replay after success publishes nothing new
    r3 = _write_tmp(log, iter(rows[:3]), _FIELDS)
    w.commit([r3], batchId=5)
    assert sealed_segments(log) == 2


def test_eventlog_full_vacuum_keeps_numbering(spark, tmp_path):
    """Retiring every segment must NOT reset numbering to zero — a
    consumer checkpointed at the old end keeps monotone offsets and
    sees every newly produced segment."""
    from data_lakehouse_platform_spark.sources.eventlog_stream import (
        segment_range,
        vacuum_segments,
    )

    log = str(tmp_path / "fullvac")
    for seg in range(3):
        append_segment(log, _rows(seg, 2))
    assert vacuum_segments(log, keep_from=99) == 3  # clamped to end
    assert segment_range(log) == (3, 3)  # floor persists, not (0, 0)
    n = append_segment(log, _rows(7, 2))
    assert n == 3  # numbering continues past the retired range
    assert segment_range(log) == (3, 4)

    # overwrite mode likewise truncates content, never numbering
    spark.dataSource.register(EventLogStreamDataSource)
    df = spark.createDataFrame(
        [(1, 1, "view", "2024-01-01 00:00:00", 0.0)],
        "event_id bigint, user_id bigint, event_type string, ts string, value double",
    )
    df.write.format("eventlog").mode("overwrite").option("path", log).save()
    first, end = segment_range(log)
    assert first >= 4  # the overwritten segment sits past the old end
    assert spark.read.format("eventlog").option("path", log).load().count() == 1


def test_eventlog_stream_stream_join(spark, tmp_path):
    """Two eventlog topics correlated with a stream-stream event-time
    band join (the reference's two-consumer Redis correlation, on the
    custom source): views matched to purchases by the same user within
    one hour, bounded state via watermarks."""
    from data_lakehouse_platform_spark.streaming.pipelines import (
        join_event_streams,
    )

    spark.dataSource.register(EventLogStreamDataSource)
    views_log = str(tmp_path / "views")
    buys_log = str(tmp_path / "buys")

    def mk(seg_user_ts_val):
        return [
            {"event_id": i, "user_id": u, "event_type": t,
             "ts": ts, "value": 1.0}
            for i, (u, t, ts) in enumerate(seg_user_ts_val)
        ]

    append_segment(views_log, mk([
        (1, "view", "2024-01-01 10:00:00"),
        (2, "view", "2024-01-01 10:05:00"),
        (3, "view", "2024-01-01 10:10:00"),
    ]))
    append_segment(buys_log, mk([
        (1, "purchase", "2024-01-01 10:30:00"),  # within the hour -> match
        (2, "purchase", "2024-01-01 12:30:00"),  # too late -> no match
    ]))

    def topic(path):
        return (
            spark.readStream.format("eventlog").option("path", path).load()
            .select("user_id", F.to_timestamp("ts").alias("ts"))
        )

    joined = join_event_streams(
        topic(views_log), topic(buys_log), key="user_id",
        within="1 hour", watermark="10 minutes",
    ).select(
        F.col("l.user_id").alias("user_id"),
        F.col("l.ts").alias("view_ts"),
        F.col("r.ts").alias("buy_ts"),
    )
    out = str(tmp_path / "joined")
    q = (
        joined.writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = [(r.user_id, str(r.buy_ts)) for r in spark.read.parquet(out).collect()]
    assert got == [(1, "2024-01-01 10:30:00")]


def test_upsert_sink_equal_ts_deterministic_winner(spark, tmp_path):
    """Two conflicting updates for one key with the SAME event ts must
    converge deterministically (content-fingerprint tiebreak), not to
    whichever row an arbitrary partition order produced — whether they
    arrive in one micro-batch or in two, in either order.  A NULL ts
    loses to any non-NULL one the same way (NULLS LAST)."""
    from data_lakehouse_platform_spark.sources.delta_lite import (
        DeltaLiteTable,
    )
    from data_lakehouse_platform_spark.streaming.pipelines import (
        upsert_stream_to_delta_lite,
    )

    spark.dataSource.register(EventLogStreamDataSource)
    same_ts = "2024-01-01 10:00:00"
    a = {"event_id": 1, "user_id": 1, "event_type": "a", "ts": same_ts, "value": 1.0}
    b = {"event_id": 1, "user_id": 1, "event_type": "b", "ts": same_ts, "value": 2.0}
    no_ts = {"event_id": 1, "user_id": 1, "event_type": "n", "ts": None, "value": 3.0}

    def sink(name, *batches):
        """Stream each list of rows as its own micro-batch into a new
        table; return the single row left for the key."""
        log = str(tmp_path / f"{name}_log")
        tbl = str(tmp_path / name)
        for rows in batches:
            append_segment(log, rows)
            src = (
                spark.readStream.format("eventlog").option("path", log)
                .load().withColumn("ets", F.to_timestamp("ts"))
            )
            q = upsert_stream_to_delta_lite(
                src, tbl, key_cols=["event_id"], ts_col="ets",
                checkpoint_path=str(tmp_path / f"{name}_ck"),
            )
            q.awaitTermination(120)
        got = DeltaLiteTable(tbl).read(spark).collect()
        assert len(got) == 1
        return got[0].event_type, got[0].value

    winner = sink("tbl", [a, b])
    # the tiebreak is deterministic: re-running from scratch converges
    # to the same winner
    assert sink("tbl2", [a, b]) == winner
    # across batches the merge condition applies the same order
    assert sink("a_then_b", [a], [b]) == winner
    assert sink("b_then_a", [b], [a]) == winner
    assert sink("null_ts", [no_ts, a]) == ("a", 1.0)
    assert sink("null_then_a", [no_ts], [a]) == ("a", 1.0)
    assert sink("a_then_null", [a], [no_ts]) == ("a", 1.0)


def test_capstone_eventlog_to_delta_lite_sink(spark, tmp_path):
    """Capstone: the Kafka-shaped eventlog source feeds the Delta
    protocol-v1 CDC sink — segments stream in, land as MERGE commits
    with txn exactly-once, and a restart replaying the log adds
    nothing. The full reference flow (Kafka consumer -> DeltaTable
    merge) with zero external services."""
    from data_lakehouse_platform_spark.sources.delta_lite import (
        DeltaLiteTable,
    )
    from data_lakehouse_platform_spark.streaming.pipelines import (
        upsert_stream_to_delta_lite,
    )

    spark.dataSource.register(EventLogStreamDataSource)
    log = str(tmp_path / "log")
    table = str(tmp_path / "dl")
    ckpt = str(tmp_path / "ckpt")

    append_segment(log, _rows(0, 6))
    append_segment(log, _rows(1, 6))  # event_ids 1000+: new keys

    stream = (
        spark.readStream.format("eventlog").option("path", log).load()
    )
    q = upsert_stream_to_delta_lite(
        stream, table, ["event_id"], "ts", ckpt
    )
    q.awaitTermination(120)

    t = DeltaLiteTable(table)
    ids = sorted(r.event_id for r in t.read(spark).collect())
    assert ids == [0, 1, 2, 3, 4, 5, 1000, 1001, 1002, 1003, 1004, 1005]
    v_before = t.latest_version()

    # restart on the same checkpoint with no new segments: nothing
    # commits (txn ledger + checkpoint WAL both hold)
    q2 = upsert_stream_to_delta_lite(
        spark.readStream.format("eventlog").option("path", log).load(),
        table, ["event_id"], "ts", ckpt,
    )
    q2.awaitTermination(120)
    assert t.latest_version() == v_before

    # a new segment UPDATES key 0 (later ts) and inserts 2000
    append_segment(
        log,
        [
            {"event_id": 0, "user_id": 0, "event_type": "upd",
             "ts": "2024-02-01 00:00:00", "value": 999.0},
            {"event_id": 2000, "user_id": 1, "event_type": "view",
             "ts": "2024-02-01 00:00:01", "value": 1.0},
        ],
    )
    q3 = upsert_stream_to_delta_lite(
        spark.readStream.format("eventlog").option("path", log).load(),
        table, ["event_id"], "ts", ckpt,
    )
    q3.awaitTermination(120)
    rows = {r.event_id: r.value for r in t.read(spark).collect()}
    assert rows[0] == 999.0 and rows[2000] == 1.0 and len(rows) == 13
