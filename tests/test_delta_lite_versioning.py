"""Versioned-table guarantees of DeltaLiteTable, the engine-native
table format: time travel by version and by timestamp, copy-free
RESTORE, VACUUM that keeps whatever a retained version references,
txn-marker idempotence, per-version schemas, a change feed that
replays one version into the next, OPTIMIZE, partition pruning, and
writers that race real concurrent commits — appends retry onto the
next slot, snapshot-derived verbs abort instead of clobbering."""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from data_lakehouse_platform_spark.sources.commit_backend import (
    ConcurrentModificationError,
    CoordinatedCommitSlots,
    ObjectStoreCommitSlots,
    PosixCommitSlots,
)
from data_lakehouse_platform_spark.sources.delta_lite import DeltaLiteTable


def _df(spark, values):
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], "id int, val string"
    )


def _vals(t, spark, version=None):
    return sorted(r.val for r in t.read(spark, version=version).collect())


def _live(t, spark, version=None):
    files, _total = t.files_matching(spark, "true", version=version)
    return files


def _parquet_on_disk(root):
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _dirs, files in os.walk(root)
        if "_delta_log" not in d
        for f in files
        if f.endswith(".parquet")
    )


class _RacingSlots(PosixCommitSlots):
    """Runs ``race`` (another writer's whole commit) just before this
    handle's first slot claim — the window between a verb reading its
    snapshot and publishing the result."""

    def __init__(self, race):
        self._race = race

    def put_if_absent(self, path, payload):
        race, self._race = self._race, None
        if race is not None:
            race()
        return super().put_if_absent(path, payload)


def test_versioned_write_and_time_travel(spark, tmp_path):
    t = DeltaLiteTable(str(tmp_path / "tbl"))
    v0 = t.write(_df(spark, ["a", "b"]), operation="initial")
    v1 = t.write(
        _df(spark, ["a", "b", "c"]), mode="overwrite",
        operation="append-rewrite",
    )
    assert (v0, v1) == (0, 1)
    assert t.read(spark).count() == 3  # latest
    assert t.read(spark, version=0).count() == 2  # time travel
    assert [h["operation"] for h in t.history()] == [
        "initial", "append-rewrite"
    ]
    assert t.all_versions() == [0, 1] and t.latest_version() == 1


def test_restore_is_copy_free(spark, tmp_path):
    """RESTORE re-adds the target version's files by reference: no
    data file is written, and the restored version's live set is the
    target's."""
    t = DeltaLiteTable(str(tmp_path / "tbl"))
    t.write(_df(spark, ["a", "b"]))
    t.write(_df(spark, ["x"]), mode="overwrite")
    on_disk = _parquet_on_disk(t.path)
    v2 = t.restore(0)
    assert v2 == 2
    assert _vals(t, spark) == ["a", "b"]
    assert _live(t, spark, version=2) == _live(t, spark, version=0)
    assert _parquet_on_disk(t.path) == on_disk
    assert t.history()[-1]["operation"] == "RESTORE"


def test_vacuum_keeps_files_a_restore_references(spark, tmp_path):
    """The latest version restores version 0, so vacuum(retain_last=1)
    may reclaim only version 1's files: version 0 stays readable,
    version 1 fails loudly."""
    t = DeltaLiteTable(str(tmp_path / "tbl"))
    t.write(_df(spark, ["a"]).coalesce(1))
    t.write(_df(spark, ["b"]).coalesce(1), mode="overwrite")
    v1_files = set(_live(t, spark, version=1))
    t.restore(0)
    removed = t.vacuum(retain_last=1)
    assert {os.path.relpath(p, t.path) for p in removed} == v1_files
    assert _vals(t, spark) == ["a"]
    assert _vals(t, spark, version=0) == ["a"]
    with pytest.raises(Exception):
        t.read(spark, version=1).collect()


def test_txn_markers_track_latest_version_per_app(spark, tmp_path):
    """write(txn=(app, n)) stamps the commit; txn_versions() answers
    per app with the newest n, and time-travels like the file state —
    what an idempotent writer checks before re-committing a batch."""
    t = DeltaLiteTable(str(tmp_path / "t"))
    df = spark.range(5).withColumnRenamed("id", "k")
    t.write(df, txn=("load", 0))
    t.write(df, mode="append", txn=("load", 1))
    t.write(df, mode="append", txn=("other", 7))
    assert t.txn_versions() == {"load": 1, "other": 7}
    assert t.txn_versions(to_version=0) == {"load": 0}
    assert t.read(spark).count() == 15


def test_vacuum_preserves_txn_idempotence(spark, tmp_path):
    """Reclaiming old data files must not reopen the exactly-once
    window: the txn marker of a vacuumed version stays in the log."""
    t = DeltaLiteTable(str(tmp_path / "txnvac"))
    t.write(
        spark.createDataFrame([(1, "x")], "k bigint, s string"),
        txn=("stream:ck", 7),
    )
    t.write(
        spark.createDataFrame([(2, "y")], "k bigint, s string"),
        mode="overwrite",
    )
    assert t.vacuum(retain_last=1)  # version 0's file is gone
    assert t.txn_versions() == {"stream:ck": 7}


def test_schema_evolution_keeps_each_versions_schema(spark, tmp_path):
    """Adding a column is a new commit: old versions still read with
    their original schema, old rows read NULL in the new column."""
    t = DeltaLiteTable(str(tmp_path / "t"))
    v0_df = spark.range(3).withColumnRenamed("id", "k")
    t.write(v0_df)
    t.write(
        spark.range(3, 6).withColumnRenamed("id", "k")
        .withColumn("flag", F.lit("new")),
        mode="append", merge_schema=True,
    )
    assert t.read(spark, version=0).columns == ["k"]
    assert t.read(spark).columns == ["k", "flag"]
    got = sorted((r.k, r.flag) for r in t.read(spark).collect())
    assert got == [(0, None), (1, None), (2, None),
                   (3, "new"), (4, "new"), (5, "new")]


def test_change_feed_replays_old_version_into_new(spark, tmp_path):
    """Keyed change feed: one insert, one delete, an update as a
    pre/post image pair — and old - deletes - pre-images + post-images
    + inserts reproduces the new version exactly."""
    schema = "id int, val string, qty int"
    t = DeltaLiteTable(str(tmp_path / "tbl"))
    t.write(spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], schema
    ))
    t.write(spark.createDataFrame(
        [(1, "a", 10), (2, "B", 99), (4, "d", 40)], schema
    ), mode="overwrite")

    feed = t.table_changes(spark, 0, 1, keys=["id"])
    got = {
        (r["id"], r["_change_type"]): (r["val"], r["qty"])
        for r in feed.collect()
    }
    assert got == {
        (4, "insert"): ("d", 40),
        (3, "delete"): ("c", 30),
        (2, "update_preimage"): ("b", 20),
        (2, "update_postimage"): ("B", 99),
    }

    def rows(df):
        return {(r["id"], r["val"], r["qty"]) for r in df.collect()}

    removed = rows(feed.filter(
        F.col("_change_type").isin("delete", "update_preimage")
    ))
    added = rows(feed.filter(
        F.col("_change_type").isin("insert", "update_postimage")
    ))
    old = rows(t.read(spark, version=0))
    assert (old - removed) | added == rows(t.read(spark, version=1))


def test_optimize_compacts_small_files(spark, tmp_path):
    """OPTIMIZE rewrites a fragmented version into few files as a new
    commit: same rows, the fragmented version stays time-travelable,
    and vacuum then reclaims exactly its fragments."""
    t = DeltaLiteTable(str(tmp_path / "t"))
    frag = spark.range(200).repartition(16).withColumnRenamed("id", "k")
    v0 = t.write(frag)
    fragments = set(_live(t, spark, version=v0))
    assert len(fragments) == 16
    t.optimize(spark)
    assert len(_live(t, spark)) < 16
    assert t.history()[-1]["operation"] == "OPTIMIZE"
    assert sorted(r.k for r in t.read(spark).collect()) == list(range(200))
    assert sorted(
        r.k for r in t.read(spark, version=v0).collect()
    ) == list(range(200))
    removed = t.vacuum(retain_last=1)
    assert {os.path.relpath(p, t.path) for p in removed} == fragments
    assert t.read(spark).count() == 200


@pytest.mark.parametrize(
    "backend_fn",
    [
        lambda claims: PosixCommitSlots(),
        lambda claims: CoordinatedCommitSlots(claims),
        lambda claims: ObjectStoreCommitSlots(claims),
    ],
    ids=["posix", "coordinated", "objectstore"],
)
def test_concurrent_appends_all_land(spark, tmp_path, backend_fn):
    """Writers appending to one table at the same time, each through
    its own handle on a shared commit backend: every append gets its
    own version and no row is lost."""
    path = str(tmp_path / "t")
    claims: dict = {}
    DeltaLiteTable(path, commit_backend=backend_fn(claims)).write(
        _df(spark, ["seed"])
    )

    def append(i):
        t = DeltaLiteTable(path, commit_backend=backend_fn(claims))
        return t.write(
            spark.createDataFrame([(100 + i, f"w{i}")], "id int, val string"),
            mode="append",
        )

    with ThreadPoolExecutor(4) as ex:
        versions = list(ex.map(append, range(4)))
    assert sorted(versions) == [1, 2, 3, 4]
    t = DeltaLiteTable(path)
    assert t.all_versions() == [0, 1, 2, 3, 4]
    assert _vals(t, spark) == ["seed", "w0", "w1", "w2", "w3"]


def test_timestamp_as_of_time_travel(spark, tmp_path):
    """timestampAsOf resolves to the newest commit at or before the
    instant; an instant before the first commit fails loudly; version
    and timestamp selectors are mutually exclusive."""
    t = DeltaLiteTable(str(tmp_path / "t"))
    t.write(_df(spark, ["a"]))
    t.write(_df(spark, ["a", "b"]), mode="overwrite")
    ts0, ts1 = (h["timestamp"] for h in t.history())

    assert _vals(t, spark) == ["a", "b"]
    assert [
        r.val for r in t.read(spark, as_of_ts_ms=ts0).collect()
    ] == ["a"]
    assert sorted(
        r.val for r in t.read(spark, as_of_ts_ms=ts1 + 10_000).collect()
    ) == ["a", "b"]
    if ts1 > ts0 + 1:  # an instant strictly between the two commits
        mid = (ts0 + ts1) // 2
        assert [
            r.val for r in t.read(spark, as_of_ts_ms=mid).collect()
        ] == ["a"]
    with pytest.raises(FileNotFoundError, match="at or before"):
        t.read(spark, as_of_ts_ms=ts0 - 1000)
    with pytest.raises(ValueError, match="not both"):
        t.read(spark, version=0, as_of_ts_ms=ts0)


def test_partitioned_read_scans_only_matching_partition(spark, tmp_path):
    """A filter on the partition column reads only that partition's
    directory, and time travel keeps the partitioned layout."""
    t = DeltaLiteTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(i, f"2024-{1 + i % 3:02d}") for i in range(30)],
        "id int, month string",
    )
    v0 = t.write(df, partition_by=["month"])
    t.write(df.limit(3), mode="append")

    pruned, total = t.files_matching(spark, "month = '2024-02'")
    assert 0 < len(pruned) < total
    assert all("month=2024-02" in p for p in pruned)
    filtered = t.read(spark, version=v0, predicate="month = '2024-02'")
    assert filtered.count() == 10
    touched = {
        r[0] for r in filtered.select(F.input_file_name()).distinct().collect()
    }
    assert touched and all("month=2024-02" in f for f in touched)


def test_overwrite_cannot_change_partition_spec(spark, tmp_path):
    """The partition spec is part of the table: an overwrite naming a
    different one raises instead of mixing layouts in one table."""
    t = DeltaLiteTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, "x", "2024-01"), (2, "y", "2024-02")],
        "id int, val string, month string",
    )
    t.write(df, partition_by=["month"])
    with pytest.raises(ValueError, match="partition spec"):
        t.write(df, mode="overwrite", partition_by=["val"])
    assert t.latest_version() == 0
    assert t.read(spark).count() == 2


def test_append_after_concurrent_commit_lands_on_next_slot(spark, tmp_path):
    """A pure append that loses its slot to a real concurrent commit
    retries onto the next one: both writers' rows survive."""
    path = str(tmp_path / "t")
    DeltaLiteTable(path).write(_df(spark, ["a"]))

    def other_writer():
        DeltaLiteTable(path).write(
            spark.createDataFrame([(7, "other")], "id int, val string"),
            mode="append",
        )

    t = DeltaLiteTable(path, commit_backend=_RacingSlots(other_writer))
    v = t.write(
        spark.createDataFrame([(8, "mine")], "id int, val string"),
        mode="append",
    )
    assert v == 2
    assert _vals(t, spark) == ["a", "mine", "other"]
    assert _vals(t, spark, version=1) == ["a", "other"]


def test_merge_after_concurrent_writer_aborts_not_clobbers(spark, tmp_path):
    """A MERGE computed against a snapshot that another writer has
    since superseded raises ConcurrentModificationError: the other
    writer's rows survive, and a re-run merges on top of them."""
    path = str(tmp_path / "t")
    DeltaLiteTable(path).write(spark.createDataFrame(
        [(1, "one"), (2, "two")], "id int, val string"
    ))

    def other_writer():
        DeltaLiteTable(path).write(
            spark.createDataFrame([(3, "three")], "id int, val string"),
            mode="append",
        )

    source = spark.createDataFrame([(2, "TWO")], "id int, val string")
    t = DeltaLiteTable(path, commit_backend=_RacingSlots(other_writer))
    with pytest.raises(ConcurrentModificationError):
        t.merge(spark, source, keys=["id"])
    assert t.latest_version() == 1
    assert _vals(t, spark) == ["one", "three", "two"]

    t.merge(spark, source, keys=["id"])
    rows = {(r.id, r.val) for r in t.read(spark).collect()}
    assert rows == {(1, "one"), (2, "TWO"), (3, "three")}


def test_update_after_concurrent_writer_aborts_not_clobbers(spark, tmp_path):
    """UPDATE is snapshot-derived too: losing its slot aborts, and the
    table keeps the concurrent writer's commit untouched."""
    path = str(tmp_path / "t")
    DeltaLiteTable(path).write(_df(spark, ["a", "b"]))

    def other_writer():
        DeltaLiteTable(path).write(_df(spark, ["z"]), mode="overwrite")

    t = DeltaLiteTable(path, commit_backend=_RacingSlots(other_writer))
    with pytest.raises(ConcurrentModificationError):
        t.update(spark, "id = 1", {"val": "'B'"})
    assert t.latest_version() == 1
    assert _vals(t, spark) == ["z"]


def test_merge_null_key_never_matches(spark, tmp_path):
    """MERGE keeps Delta's key semantics: NULL = NULL is not a match,
    so a NULL-keyed source row inserts beside the NULL-keyed target
    row instead of replacing it."""
    t = DeltaLiteTable(str(tmp_path / "t"))
    t.write(spark.createDataFrame(
        [(None, "old-null"), (1, "one")], "id int, val string"
    ))
    t.merge(
        spark,
        spark.createDataFrame(
            [(None, "new-null"), (1, "ONE")], "id int, val string"
        ),
        keys=["id"],
    )
    rows = {(r.id, r.val) for r in t.read(spark).collect()}
    assert rows == {(None, "old-null"), (None, "new-null"), (1, "ONE")}


def test_append_type_mismatch_raises(spark, tmp_path):
    """A shared column arriving with a different type raises instead
    of committing files the table schema cannot read."""
    t = DeltaLiteTable(str(tmp_path / "t"))
    t.write(spark.createDataFrame([(1, "one")], "id int, val string"))
    with pytest.raises(ValueError, match="schema differs"):
        t.write(
            spark.createDataFrame([(2, 999)], "id int, val bigint"),
            mode="append",
        )
    assert t.latest_version() == 0
    assert _vals(t, spark) == ["one"]


def test_merge_type_mismatch_raises(spark, tmp_path):
    """MERGE checks column types as well as names: a source column of
    another type raises before any commit, and the table still
    reads."""
    t = DeltaLiteTable(str(tmp_path / "t"))
    t.write(spark.createDataFrame([(1, "one")], "id int, val string"))
    with pytest.raises(ValueError, match="schema differs"):
        t.merge(
            spark,
            spark.createDataFrame([(1, 999)], "id int, val bigint"),
            keys=["id"],
        )
    assert t.latest_version() == 0
    assert _vals(t, spark) == ["one"]


def test_table_changes_between_equal_versions_is_empty(spark, tmp_path):
    """Rewriting identical rows changes files, not data: the keyed
    change feed between the two versions is empty."""
    schema = "id int, val string"
    t = DeltaLiteTable(str(tmp_path / "t"))
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], schema))
    t.write(
        spark.createDataFrame([(2, "b"), (1, "a")], schema),
        mode="overwrite",
    )
    assert _live(t, spark, version=0) != _live(t, spark, version=1)
    assert t.table_changes(spark, 0, 1, keys=["id"]).count() == 0
