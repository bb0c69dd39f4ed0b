"""Iceberg PARTITION EVOLUTION as another writer leaves it: the frozen
``iceberg_spec_evolved`` fixture holds ids 0-9 under an identity spec
on ``bucket``, ids 10-19 under ``bucket[4]`` of ``id``, and a position
delete of ids 1 and 11 (tests/fixtures/golden/generate.py).  Its
mixed-spec reads are pinned in test_golden_fixtures.py; here the sink
verbs run on a relocated copy of it: an append lays out under the
default spec, and rewrite_data_files migrates every file to it."""

from __future__ import annotations

import pytest

from data_lakehouse_platform_spark.sources.avro_lite import read_container
from data_lakehouse_platform_spark.sources.iceberg_lite import (
    IcebergLiteTable,
)

_DDL = "id int, bucket int, name string, score double"


def _row(i):
    return (i, i % 3, f"row-{i}", i * 2.5)


@pytest.fixture
def t(iceberg_golden):
    return IcebergLiteTable(iceberg_golden("iceberg_spec_evolved"))


def _paths(t):
    return {p for p, _s, _pt in t.plan_files()[0]}


def _rows(t, spark):
    return sorted(tuple(r) for r in t.read(spark).collect())


def _ml_spec_ids(t):
    snap = next(
        s for s in t.snapshots()
        if int(s["snapshot-id"]) == t.current_snapshot_id()
    )
    _, ml = read_container(snap["manifest-list"])
    return {
        int(r.get("partition_spec_id") or 0)
        for r in ml
        if int(r.get("content") or 0) == 0
    }


def test_append_lands_under_default_spec(spark, t):
    before = _paths(t)
    t.write(
        spark.createDataFrame([_row(i) for i in (20, 21)], _DDL),
        mode="append",
    )
    want = [_row(i) for i in range(22) if i not in (1, 11)]
    assert _rows(t, spark) == sorted(want)
    assert _ml_spec_ids(t) == {0, 1}
    new = [
        part for p, _s, part in t.plan_files()[0] if p not in before
    ]
    assert new and all(set(part) == {"id_bucket"} for part in new)


def test_rewrite_migrates_layout_to_default_spec(spark, t):
    expected = _rows(t, spark)
    res = t.rewrite_data_files(spark, target_file_bytes=1 << 20)
    assert res["rewritten_files"] == 7
    assert _rows(t, spark) == expected
    # everything now lives under the default spec; dict partition
    # filters are sound again (on the NEW key)
    assert _ml_spec_ids(t) == {1}
    data_files, deletes = t.plan_files()
    assert deletes == []  # position deletes folded in
    assert all(set(part) == {"id_bucket"} for _p, _s, part in data_files)
    kept, _d = t.plan_files(partition_filter={"id_bucket": 0})
    assert 0 < len(kept) < len(data_files)


_SNAP_ROWS = {
    1: [_row(i) for i in range(10)],
    2: [_row(i) for i in range(20)],
    3: [_row(i) for i in range(20) if i not in (1, 11)],
}


def test_partition_filter_guard_on_mixed_specs(spark, t):
    """A dict partition filter must name a field that every live spec
    has: on the mixed table both ``bucket`` (spec 0 only) and
    ``id_bucket`` (spec 1 only) are refused, since either would drop
    the other spec's files unread.  Once compaction has moved every
    file to spec 1, the ``id_bucket`` filter is sound again."""
    from data_lakehouse_platform_spark.sources.iceberg_lite import (
        IcebergProtocolError,
        bucket_partition_value,
    )

    for flt in ({"bucket": 0}, {"id_bucket": 0}):
        with pytest.raises(IcebergProtocolError, match="every"):
            t.plan_files(partition_filter=flt)
    t.rewrite_data_files(spark)
    b = bucket_partition_value(13, 4, "int")
    kept, _d = t.plan_files(partition_filter={"id_bucket": b})
    ids = sorted(
        r.id for r in spark.read.parquet(*[p for p, _s, _pt in kept])
        .collect()
    )
    assert 13 in ids
    assert all(bucket_partition_value(i, 4, "int") == b for i in ids)


def test_skipping_still_prunes_after_evolution(spark, t):
    """Stats pruning keeps working across specs: after an append under
    the default spec, a predicate on the new ids scans only the new
    files, and the identity-spec files still prune on ``bucket``."""
    before = _paths(t)
    t.write(
        spark.createDataFrame([_row(i) for i in (40, 41)], _DDL),
        mode="append",
    )
    kept, total = t.files_matching(spark, "id >= 40")
    assert total > len(kept) > 0
    assert before.isdisjoint(kept)
    got = sorted(r.id for r in t.read(spark, predicate="id >= 40").collect())
    assert got == [40, 41]
    kept, _t = t.files_matching(spark, "bucket = 1 AND id < 10")
    assert len(kept) == 1


def test_delete_across_specs(spark, t):
    """One predicate delete over both specs writes position deletes
    for one file under each."""
    res = t.delete(spark, "id IN (3, 13)")
    assert res["rows_deleted"] == 2 and res["files_touched"] == 2
    want = [r for r in _SNAP_ROWS[3] if r[0] not in (3, 13)]
    assert _rows(t, spark) == sorted(want)


def test_upsert_across_specs(spark, t):
    """Upsert keys living under spec 0 and under spec 1 are both
    retracted; the new rows land under the default spec."""
    src = [(4, 1, "new-4", 0.5), (14, 2, "new-14", 1.5), (30, 0, "x", 0.0)]
    t.upsert(spark, spark.createDataFrame(src, _DDL), keys=["id"])
    want = [r for r in _SNAP_ROWS[3] if r[0] not in (4, 14)] + src
    assert _rows(t, spark) == sorted(want)
    assert _ml_spec_ids(t) == {0, 1}


def test_bucket_spec_files_hold_their_bucket(spark, t):
    """Every row in a ``bucket[4]``-spec file hashes (spec murmur3) to
    the bucket its manifest entry records."""
    from data_lakehouse_platform_spark.sources.iceberg_lite import (
        bucket_partition_value,
    )

    files = [
        (p, part["id_bucket"])
        for p, _s, part in t.plan_files()[0]
        if "id_bucket" in part
    ]
    assert len(files) == 4
    for p, b in files:
        ids = [r.id for r in spark.read.parquet(p).collect()]
        assert ids and all(
            bucket_partition_value(i, 4, "int") == b for i in ids
        )


@pytest.mark.parametrize("sid", sorted(_SNAP_ROWS))
def test_time_travel_survives_spec_migration(spark, t, sid):
    """After compaction migrates the layout, each earlier snapshot
    still reads its own files under its own specs."""
    t.rewrite_data_files(spark)
    got = sorted(
        tuple(r) for r in t.read(spark, snapshot_id=sid).collect()
    )
    assert got == sorted(_SNAP_ROWS[sid])
