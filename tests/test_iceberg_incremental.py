"""Iceberg incremental append scan (incremental_append_files /
incremental_read) and the streaming source over iceberg_lite tables
(sources/iceberg_stream.py): snapshot-offset exactly-once tailing,
bootstrap with position and equality deletes applied, replace (compaction)
snapshots skipped, delete/overwrite snapshots refused/skipped/emitted
per option.  The scan across schema evolution is pinned on the frozen
fixture (test_golden_fixtures.py)."""

from __future__ import annotations

import pytest

from data_lakehouse_platform_spark.sources.iceberg_lite import (
    IcebergLiteTable,
    IcebergProtocolError,
)
from data_lakehouse_platform_spark.sources.iceberg_stream import (
    IcebergLiteStreamDataSource,
)


def _mk(spark, tmp_path, name="t"):
    t = IcebergLiteTable(str(tmp_path / name))
    t.write(
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "id long, val string"
        )
    )
    return t


def _append(spark, t, rows):
    t.write(
        spark.createDataFrame(rows, "id long, val string"),
        mode="append",
    )


# -- batch incremental scan --------------------------------------------


def test_incremental_read_appends_only(spark, tmp_path):
    t = _mk(spark, tmp_path)
    s0 = t.current_snapshot_id()
    _append(spark, t, [(3, "c")])
    _append(spark, t, [(4, "d")])
    s2 = t.current_snapshot_id()
    got = sorted(
        (r.id, r.val)
        for r in t.incremental_read(spark, s0, s2).collect()
    )
    assert got == [(3, "c"), (4, "d")]
    # full-history scan (from=None) includes the initial snapshot
    got = sorted(
        (r.id, r.val)
        for r in t.incremental_read(spark, None, s2).collect()
    )
    assert got == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]
    # empty range
    assert t.incremental_read(spark, s2, s2).count() == 0


def test_incremental_skips_compaction_refuses_delete(spark, tmp_path):
    t = _mk(spark, tmp_path)
    s0 = t.current_snapshot_id()
    _append(spark, t, [(3, "c")])
    t.rewrite_data_files(spark)  # replace snapshot: no logical change
    s_rw = t.current_snapshot_id()
    got = sorted(
        (r.id, r.val)
        for r in t.incremental_read(spark, s0, s_rw).collect()
    )
    assert got == [(3, "c")]  # compaction contributed nothing
    t.delete(spark, "id = 1")
    with pytest.raises(IcebergProtocolError, match="delete"):
        t.incremental_read(spark, s0)
    # skip: the delete snapshot is dropped from the scan
    got = sorted(
        (r.id, r.val)
        for r in t.incremental_read(
            spark, s0, on_change="skip"
        ).collect()
    )
    assert got == [(3, "c")]


def test_incremental_chain_validation(spark, tmp_path):
    t = _mk(spark, tmp_path)
    _append(spark, t, [(3, "c")])
    s1 = t.current_snapshot_id()
    _append(spark, t, [(4, "d")])
    with pytest.raises(ValueError, match="not an ancestor"):
        t.incremental_append_files(10**9, s1)
    # another engine's snapshot expiry: a metadata version keeping only
    # the newest snapshot, whose parent link now dangles
    meta = t.metadata()
    meta["snapshots"] = meta["snapshots"][-1:]
    t._commit_metadata_json(meta)
    with pytest.raises(IcebergProtocolError, match="expired"):
        t.incremental_append_files(None)


# -- streaming source ---------------------------------------------------


@pytest.fixture()
def registered(spark):
    spark.dataSource.register(IcebergLiteStreamDataSource)
    return spark


def _drain(spark, table_dir, out_dir, ckpt, **options):
    reader = spark.readStream.format("iceberg_lite").option(
        "path", table_dir
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    q = (
        reader.load()
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return sorted(
        tuple(r) for r in spark.read.parquet(out_dir).collect()
    )


def test_stream_bootstrap_then_tail(registered, tmp_path):
    spark = registered
    t = _mk(spark, tmp_path)
    out, ckpt = str(tmp_path / "o"), str(tmp_path / "c")
    assert _drain(spark, t.path, out, ckpt) == [(1, "a"), (2, "b")]
    # replay without new snapshots: no duplicates
    assert _drain(spark, t.path, out, ckpt) == [(1, "a"), (2, "b")]
    _append(spark, t, [(3, "c")])
    t.rewrite_data_files(spark)  # compaction must contribute nothing
    _append(spark, t, [(4, "d")])
    assert _drain(spark, t.path, out, ckpt) == [
        (1, "a"), (2, "b"), (3, "c"), (4, "d")
    ]


def test_stream_bootstrap_applies_position_deletes(
    registered, tmp_path
):
    spark = registered
    t = _mk(spark, tmp_path)
    t.delete(spark, "id = 1")
    got = _drain(
        spark, t.path, str(tmp_path / "o"), str(tmp_path / "c")
    )
    assert got == [(2, "b")]


def test_stream_refuses_then_skips_delete_snapshots(
    registered, tmp_path
):
    spark = registered
    t = _mk(spark, tmp_path)
    out, ckpt = str(tmp_path / "o"), str(tmp_path / "c")
    assert len(_drain(spark, t.path, out, ckpt)) == 2
    t.delete(spark, "id = 1")
    with pytest.raises(Exception, match="incremental APPEND"):
        _drain(spark, t.path, out, ckpt)
    _append(spark, t, [(3, "c")])
    # first wave replays the UNCOMMITTED batch the failed run planned
    # (ending at the delete snapshot — now skipped), the second wave
    # serves the append; nothing is lost or duplicated across the
    # failure + option change
    _drain(spark, t.path, out, ckpt, skipChangeCommits="true")
    got = _drain(
        spark, t.path, out, ckpt, skipChangeCommits="true"
    )
    assert got == [(1, "a"), (2, "b"), (3, "c")]


def test_stream_starting_snapshot_latest(registered, tmp_path):
    spark = registered
    t = _mk(spark, tmp_path)
    out, ckpt = str(tmp_path / "o"), str(tmp_path / "c")
    assert (
        _drain(
            spark, t.path, out, ckpt, startingSnapshotId="latest"
        )
        == []
    )
    _append(spark, t, [(3, "c")])
    assert _drain(
        spark, t.path, out, ckpt, startingSnapshotId="latest"
    ) == [(3, "c")]


def test_stream_schema_and_nested_refusal(registered, tmp_path):
    spark = registered
    t = _mk(spark, tmp_path)
    df = spark.readStream.format("iceberg_lite").option(
        "path", t.path
    ).load()
    assert [f.name for f in df.schema.fields] == ["id", "val"]
    n = IcebergLiteTable(str(tmp_path / "nested"))
    n.write(
        spark.createDataFrame(
            [(1, {"a": 2})], "id long, s struct<a: long>"
        )
    )
    with pytest.raises(Exception, match="atomic"):
        spark.readStream.format("iceberg_lite").option(
            "path", n.path
        ).load().writeStream.format("noop").start()


def test_stream_bootstrap_applies_equality_deletes(registered, tmp_path):
    """r8: the bootstrap snapshot may be a Flink-style upsert table
    (equality deletes this engine itself now writes) — the stream's
    first batch must serve the post-delete state with strict
    sequence gating (rows re-inserted AFTER the delete survive)."""
    spark = registered
    t = _mk(spark, tmp_path)  # (1, "a"), (2, "b")
    t.upsert(
        spark,
        spark.createDataFrame([(2, "B"), (5, "e")], "id long, val string"),
        keys=["id"],
    )
    # re-insert a key the upsert's delete targeted — newer sequence,
    # must NOT be re-deleted
    _append(spark, t, [(9, "z")])
    got = _drain(
        spark, t.path, str(tmp_path / "o"), str(tmp_path / "c")
    )
    assert got == [(1, "a"), (2, "B"), (5, "e"), (9, "z")]
    # and the stream agrees with the batch reader exactly
    batch = sorted(tuple(r) for r in t.read(spark).collect())
    assert got == batch


def _commit_equality_delete(spark, t, keys):
    """Hand-commit a delete-only snapshot the way a Flink writer's
    equality-delta commit leaves it: one equality-delete file on
    ``id`` for ``keys`` and no data files, with the current snapshot's
    manifests carried forward."""
    import time

    from data_lakehouse_platform_spark.sources.iceberg_lite import (
        _new_manifest_row,
    )

    meta = t.metadata()
    cur_id = t.current_snapshot_id()
    name_to_id = {n: i for i, n in t._field_names_by_id(meta).items()}
    dfiles, _n = t._stage_equality_delete(
        spark.createDataFrame([(k,) for k in keys], "id long"),
        ["id"], name_to_id,
    )
    snap_id = max(int(s["snapshot-id"]) for s in meta["snapshots"]) + 1
    seq = int(meta["last-sequence-number"]) + 1
    mpath, n_rows = t._eq_delete_manifest(
        meta, dfiles, [name_to_id["id"]], snap_id, seq
    )
    cur = next(
        s for s in meta["snapshots"] if int(s["snapshot-id"]) == cur_id
    )
    t._commit_snapshot(
        meta, snap_id, seq, int(time.time() * 1000),
        [_new_manifest_row(mpath, 1, 0, snap_id, seq, len(dfiles), n_rows)]
        + t._manifest_list_rows(cur),
        "delete", cur_id,
    )


def test_stream_bootstrap_equality_delete_only_table(registered, tmp_path):
    """The bootstrap snapshot may hold only equality deletes (a Flink
    writer's delete commit adds no data): the first batch serves the
    post-delete state, the same as the batch reader."""
    spark = registered
    t = _mk(spark, tmp_path)  # (1, "a"), (2, "b")
    _commit_equality_delete(spark, t, [1])
    assert t.snapshots()[-1]["summary"]["operation"] == "delete"
    got = _drain(
        spark, t.path, str(tmp_path / "o"), str(tmp_path / "c")
    )
    assert got == [(2, "b")]
    assert got == sorted(tuple(r) for r in t.read(spark).collect())
