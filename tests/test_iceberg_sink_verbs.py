"""The write verbs the two Iceberg streaming sinks rely on, each run on
an unpartitioned and an identity-partitioned table: ``upsert``,
``delete(predicate)``, ``rewrite_data_files`` and the
``committed_batches`` ledger.  Expectations are plain-Python rows."""

from __future__ import annotations

import pytest

from data_lakehouse_platform_spark.sources.iceberg_lite import (
    IcebergLiteTable,
)

_DDL = "id int, region string, v double"
_REGIONS = ["eu", "us", "ap"]
_LAYOUTS = pytest.mark.parametrize(
    "partitioned", [False, True], ids=["flat", "partitioned"]
)


def _seed(n=12):
    return [(i, _REGIONS[i % 3], float(i)) for i in range(n)]


def _table(spark, tmp_path, partitioned, rows=None):
    t = IcebergLiteTable(str(tmp_path / "t"))
    t.write(
        spark.createDataFrame(rows if rows is not None else _seed(), _DDL),
        partition_by=["region"] if partitioned else None,
    )
    return t


def _rows(t, spark, snapshot_id=None):
    return sorted(
        tuple(r) for r in t.read(spark, snapshot_id=snapshot_id).collect()
    )


def _df(spark, rows):
    return spark.createDataFrame(rows, _DDL)


@_LAYOUTS
def test_upsert_composite_keys(spark, tmp_path, partitioned):
    """Keys (id, region): a source row retracts only the row sharing
    BOTH values; same id under another region is a new row."""
    t = _table(spark, tmp_path, partitioned)
    src = [(1, "us", 10.0), (2, "eu", 20.0)]  # (1,us) exists, (2,eu) not
    t.upsert(spark, _df(spark, src), keys=["id", "region"])
    want = [r for r in _seed() if (r[0], r[1]) != (1, "us")] + src
    assert _rows(t, spark) == sorted(want)


@_LAYOUTS
def test_upsert_insert_only_new_keys(spark, tmp_path, partitioned):
    """Keys absent from the table: the upsert appends and retracts
    nothing, in one snapshot."""
    t = _table(spark, tmp_path, partitioned)
    n = len(t.snapshots())
    src = [(100, "ap", 1.0), (101, "eu", 2.0)]
    res = t.upsert(spark, _df(spark, src), keys=["id"])
    assert res["rows"] == 2 and res["keys"] == 2
    assert len(t.snapshots()) == n + 1
    assert _rows(t, spark) == sorted(_seed() + src)


@_LAYOUTS
def test_upsert_after_position_delete(spark, tmp_path, partitioned):
    """A key first deleted by predicate, then upserted, comes back
    once; position and equality deletes stack on the same file."""
    t = _table(spark, tmp_path, partitioned)
    t.delete(spark, "id = 5")
    src = [(5, "us", 55.0), (6, "eu", 66.0)]
    t.upsert(spark, _df(spark, src), keys=["id"])
    want = [r for r in _seed() if r[0] not in (5, 6)] + src
    assert _rows(t, spark) == sorted(want)


@_LAYOUTS
def test_upsert_chain_keeps_latest_and_time_travels(
    spark, tmp_path, partitioned
):
    """Three upserts of one key: the table holds only the last value,
    and every intermediate snapshot reads its own value."""
    t = _table(spark, tmp_path, partitioned)
    sids = []
    for v in (1.5, 2.5, 3.5):
        sids.append(
            t.upsert(spark, _df(spark, [(3, "eu", v)]), keys=["id"])[
                "snapshot_id"
            ]
        )
    base = [r for r in _seed() if r[0] != 3]
    for sid, v in zip(sids, (1.5, 2.5, 3.5)):
        assert _rows(t, spark, sid) == sorted(base + [(3, "eu", v)])
    assert _rows(t, spark) == sorted(base + [(3, "eu", 3.5)])


@_LAYOUTS
def test_rewrite_keeps_column_bounds(spark, tmp_path, partitioned):
    """Every file compaction writes carries value counts, null counts
    and the true bounds of each column, so a predicate outside every
    file's range still prunes them all (without bounds, it scanned
    every compacted file)."""
    import struct

    t = _table(spark, tmp_path, partitioned)
    t.write(_df(spark, [(i, _REGIONS[i % 3], float(i))
                        for i in range(100, 106)]), mode="append")
    t.delete(spark, "id = 4")
    t.rewrite_data_files(spark)
    snap = next(
        s for s in t.snapshots()
        if int(s["snapshot-id"]) == t.current_snapshot_id()
    )
    live = t._live_data_entries(snap)
    assert live
    for path, dfile in live.items():
        ids = [r.id for r in spark.read.parquet(path).collect()]
        lo = {kv["key"]: kv["value"] for kv in dfile["lower_bounds"]}
        hi = {kv["key"]: kv["value"] for kv in dfile["upper_bounds"]}
        assert set(lo) == set(hi) == {1, 2, 3}
        assert struct.unpack("<i", lo[1])[0] == min(ids)
        assert struct.unpack("<i", hi[1])[0] == max(ids)
        nulls = {kv["key"]: kv["value"] for kv in dfile["null_value_counts"]}
        assert nulls == {1: 0, 2: 0, 3: 0}
    kept, total = t.files_matching(spark, "id > 1000")
    assert kept == [] and total == len(live)
    got = sorted(r.id for r in t.read(spark, predicate="id > 3").collect())
    assert got == [i for i in range(5, 12)] + list(range(100, 106))


def test_rewrite_keeps_bounds_of_files_left_alone(spark, tmp_path):
    """A file compaction does not touch rides into the new snapshot
    with the stats its writer recorded."""
    import os

    t = IcebergLiteTable(str(tmp_path / "t"))
    t.write(_df(spark, [(i, _REGIONS[i % 3], float(i))
                        for i in range(2000)]).coalesce(1))
    (big, _s, _pt), = t.plan_files()[0]
    for i in (2200, 2300):
        t.write(_df(spark, [(i, "eu", 0.0), (i + 1, "us", 1.0)])
                .coalesce(1), mode="append")
    # a target that bins both small appends into one file and leaves
    # the 2,000-row file alone
    target = 3 * max(os.path.getsize(p) for p, _s, _pt in t.plan_files()[0]
                     if p != big)
    assert target < os.path.getsize(big)
    res = t.rewrite_data_files(spark, target_file_bytes=target)
    assert res["rewritten_files"] == 2 and res["new_files"] == 1
    snap = next(
        s for s in t.snapshots()
        if int(s["snapshot-id"]) == t.current_snapshot_id()
    )
    live = t._live_data_entries(snap)
    assert big in live and len(live) == 2
    lo = {kv["key"]: kv["value"] for kv in live[big]["lower_bounds"]}
    assert set(lo) == {1, 2, 3}
    kept, total = t.files_matching(spark, "id >= 2000")
    assert total == 2 and big not in kept and len(kept) == 1
    kept, _t = t.files_matching(spark, "id < 2000")
    assert kept == [big]


@_LAYOUTS
def test_rewrite_noop_commits_nothing(spark, tmp_path, partitioned):
    """Nothing small and nothing deleted: compaction returns the head
    unchanged and commits no snapshot."""
    t = _table(spark, tmp_path, partitioned)
    head = t.current_snapshot_id()
    res = t.rewrite_data_files(spark, target_file_bytes=1)
    assert res == {"snapshot_id": head, "rewritten_files": 0,
                   "new_files": 0}
    assert len(t.snapshots()) == 1


def test_committed_batches_per_app(spark, tmp_path):
    """The exactly-once ledger reads the largest stamped batch id per
    application; unstamped commits and other apps do not count, and
    a table with no metadata yet has no ledger."""
    t = IcebergLiteTable(str(tmp_path / "t"))
    assert t.committed_batches("a") == -1
    t.write(_df(spark, [(0, "eu", 0.0)]))
    assert t.committed_batches("a") == -1
    for app, batch in (("a", 0), ("b", 7), ("a", 3), ("a", 2)):
        t.write(
            _df(spark, [(batch, "eu", 0.0)]),
            summary_extra={"dlp.app-id": app, "dlp.batch-id": str(batch)},
        )
    t.upsert(
        spark, _df(spark, [(9, "us", 1.0)]), keys=["id"],
        summary_extra={"dlp.app-id": "b", "dlp.batch-id": "9"},
    )
    assert t.committed_batches("a") == 3
    assert t.committed_batches("b") == 9
    assert t.committed_batches("c") == -1


@_LAYOUTS
def test_upsert_refuses_duplicate_source_keys(spark, tmp_path, partitioned):
    """Two source rows for one key are refused before anything is
    staged, on a table with rows and on a new one."""
    t = _table(spark, tmp_path, partitioned)
    n = len(t.snapshots())
    dup = _df(spark, [(1, "eu", 1.0), (1, "us", 2.0)])
    with pytest.raises(ValueError, match="duplicate keys"):
        t.upsert(spark, dup, keys=["id"])
    assert len(t.snapshots()) == n
    assert _rows(t, spark) == sorted(_seed())
    fresh = IcebergLiteTable(str(tmp_path / "fresh"))
    with pytest.raises(ValueError, match="duplicate keys"):
        fresh.upsert(spark, dup, keys=["id"])
    with pytest.raises(FileNotFoundError):
        fresh.metadata()
