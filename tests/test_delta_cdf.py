"""Delta Change Data Feed WRITES (delta_lite): mutating verbs on a
``delta.enableChangeDataFeed=true`` table emit ``_change_data/`` files
+ ``cdc`` actions (delta-spark's AddCDCFile vocabulary:
insert / delete / update_preimage / update_postimage), table_changes()
reads them per commit with ``_commit_version``/``_commit_timestamp``,
appends infer as inserts per the spec's reader rule, vacuum retains
the cdc files of retained commits, and a random verb sequence's change
feed FOLDS back to the final snapshot."""

from __future__ import annotations

import glob
import os
import random

import pytest

from data_lakehouse_platform_spark.sources.delta_lite import (
    DeltaLiteTable,
    DeltaProtocolError,
)

CDF = {"delta.enableChangeDataFeed": "true"}


def _mk(spark, tmp_path, name="t", partition_by=None):
    t = DeltaLiteTable(str(tmp_path / name))
    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "x"), (3, "c", "y")],
        "id long, val string, grp string",
    )
    t.write(df, partition_by=partition_by, configuration=CDF)
    return t


def _changes(t, spark, lo, hi=None):
    return sorted(
        (r._commit_version, r.id, r.val, r._change_type)
        for r in t.table_changes(spark, lo, hi).collect()
    )


def test_creation_stamps_cdf_protocol_and_config(spark, tmp_path):
    t = _mk(spark, tmp_path)
    meta, _live, proto = t._replay(0)
    assert meta["configuration"]["delta.enableChangeDataFeed"] == "true"
    assert proto["minWriterVersion"] >= 4
    with pytest.raises(ValueError, match="table-creation option"):
        t.write(
            spark.createDataFrame([(9, "z", "x")],
                                  "id long, val string, grp string"),
            mode="append",
            configuration=CDF,
        )


def test_append_infers_insert(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.write(
        spark.createDataFrame([(4, "d", "y")],
                              "id long, val string, grp string"),
        mode="append",
    )
    assert _changes(t, spark, 0) == [(1, 4, "d", "insert")]
    # appends write no change files (the reader infers)
    assert not glob.glob(os.path.join(t.path, "_change_data", "**",
                                      "*.parquet"), recursive=True)


def test_update_writes_pre_and_post_images(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.update(spark, "id = 2", {"val": "concat(val, '!')"})
    assert _changes(t, spark, 0) == [
        (1, 2, "b", "update_preimage"),
        (1, 2, "b!", "update_postimage"),
    ]
    files = glob.glob(os.path.join(t.path, "_change_data", "**",
                                   "*.parquet"), recursive=True)
    assert files  # real change files on disk
    acts = [a for a in t._actions(1) if "cdc" in a]
    assert acts and all(
        a["cdc"]["path"].startswith("_change_data/") for a in acts
    )


def test_delete_both_strategies_write_delete_rows(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.delete(spark, "id = 1", strategy="dv")
    t.delete(spark, "id = 3", strategy="rewrite")
    assert _changes(t, spark, 0) == [
        (1, 1, "a", "delete"),
        (2, 3, "c", "delete"),
    ]
    got = {r.id for r in t.read(spark).collect()}
    assert got == {2}


def test_merge_plain_and_conditional(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.merge(
        spark,
        spark.createDataFrame([(3, "C", "y"), (4, "d", "z")],
                              "id long, val string, grp string"),
        keys=["id"],
    )
    assert _changes(t, spark, 0, 1) == [
        (1, 3, "C", "update_postimage"),
        (1, 3, "c", "update_preimage"),
        (1, 4, "d", "insert"),
    ]
    # conditional clauses: delete on marker, update only when changed
    t.merge(
        spark,
        spark.createDataFrame(
            [(1, "DEL", "x"), (2, "b", "x"), (4, "D", "z")],
            "id long, val string, grp string",
        ),
        keys=["id"],
        matched_delete_condition="s.val = 'DEL'",
        matched_update_condition="s.val <> t.val",
    )
    assert _changes(t, spark, 1, 2) == [
        (2, 1, "a", "delete"),
        (2, 4, "D", "update_postimage"),
        (2, 4, "d", "update_preimage"),
    ]


def test_merge_default_and_true_condition_agree(spark, tmp_path):
    """No update condition and ``"true"`` take the same rewrite path:
    a target key held by two rows updates BOTH rows (delta-spark's
    rule), with a pre- and a post-image per updated row."""
    schema = "id long, val string, grp string"
    got = {}
    for cond in (None, "true"):
        t = DeltaLiteTable(str(tmp_path / f"t_{cond}"))
        t.write(
            spark.createDataFrame(
                [(1, "a", "x"), (1, "b", "x"), (2, "c", "y")], schema
            ),
            configuration=CDF,
        )
        t.merge(
            spark,
            spark.createDataFrame([(1, "X", "x"), (3, "d", "z")], schema),
            keys=["id"],
            matched_update_condition=cond,
        )
        rows = sorted(tuple(r) for r in t.read(spark).collect())
        got[cond] = (rows, _changes(t, spark, 0))
    assert got[None] == got["true"]
    rows, changes = got[None]
    assert rows == [
        (1, "X", "x"), (1, "X", "x"), (2, "c", "y"), (3, "d", "z")
    ]
    assert changes == [
        (1, 1, "X", "update_postimage"),
        (1, 1, "X", "update_postimage"),
        (1, 1, "a", "update_preimage"),
        (1, 1, "b", "update_preimage"),
        (1, 3, "d", "insert"),
    ]


def test_overwrite_emits_full_change_set(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.write(
        spark.createDataFrame([(7, "g", "x")],
                              "id long, val string, grp string"),
        mode="overwrite",
    )
    assert _changes(t, spark, 0) == [
        (1, 1, "a", "delete"),
        (1, 2, "b", "delete"),
        (1, 3, "c", "delete"),
        (1, 7, "g", "insert"),
    ]


def test_partitioned_cdf_attaches_partition_columns(spark, tmp_path):
    t = _mk(spark, tmp_path, partition_by=["grp"])
    t.update(spark, "grp = 'y'", {"val": "'Y'"})
    ch = t.table_changes(spark, 0)
    got = sorted((r.id, r.grp, r.val, r._change_type)
                 for r in ch.collect())
    assert got == [
        (3, "y", "Y", "update_postimage"),
        (3, "y", "c", "update_preimage"),
    ]
    # change files live under hive partition dirs
    assert glob.glob(os.path.join(t.path, "_change_data", "*",
                                  "grp=y", "*.parquet"))


def test_commit_timestamp_column(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.delete(spark, "id = 1")
    r = t.table_changes(spark, 0).collect()[0]
    assert r._commit_timestamp is not None
    assert r._commit_version == 1


def test_checkpoint_then_clean_log(spark, tmp_path):
    """A checkpointed-then-cleaned log: changes BEFORE the checkpoint
    are honestly unrecoverable (their commits are gone — same as
    delta-spark's retained-log requirement), while commits AFTER it
    keep serving the real CDF."""
    t = _mk(spark, tmp_path)
    t.delete(spark, "id = 1")
    t.write(
        spark.createDataFrame([(5, "e", "y")],
                              "id long, val string, grp string"),
        mode="append",
    )
    # CDF mode works pre-clean
    assert len(_changes(t, spark, 0)) == 2
    t.checkpoint()
    t.clean_log()
    # the cleaned range no longer derives per-commit changes — a
    # CDF-enabled table REFUSES loudly instead of silently flipping to
    # the (different-schema) snapshot-diff shape ...
    with pytest.raises(DeltaProtocolError, match="not derivable"):
        t.table_changes(spark, 0).collect()
    # ... and the explicit opt-in then fails honestly on the missing
    # version itself (v0's snapshot is gone with the cleaned log)
    with pytest.raises(FileNotFoundError):
        t.table_changes(spark, 0, allow_diff_fallback=True).collect()
    # new commits after the checkpoint still produce the real feed
    t.update(spark, "id = 5", {"val": "'E'"})
    assert _changes(t, spark, 2) == [
        (3, 5, "E", "update_postimage"),
        (3, 5, "e", "update_preimage"),
    ]


def test_vacuum_keeps_retained_cdc_files(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.update(spark, "id = 2", {"val": "'B'"})   # v1 cdc
    t.update(spark, "id = 3", {"val": "'C'"})   # v2 cdc
    all_cdc = set(glob.glob(os.path.join(t.path, "_change_data", "**",
                                         "*.parquet"), recursive=True))
    assert len(all_cdc) >= 2
    t.vacuum(retain_last=2)  # v1 and v2 retained
    kept = set(glob.glob(os.path.join(t.path, "_change_data", "**",
                                      "*.parquet"), recursive=True))
    assert kept == all_cdc  # both commits retained -> cdc kept
    assert len(_changes(t, spark, 0)) == 4
    t.vacuum(retain_last=1)  # v1 falls out of retention
    kept = set(glob.glob(os.path.join(t.path, "_change_data", "**",
                                      "*.parquet"), recursive=True))
    assert kept and kept < all_cdc
    # v2's feed still reads; v1's range falls back to snapshot diff
    assert len(_changes(t, spark, 1, 2)) == 2


def test_non_cdf_table_keeps_snapshot_diff_shape(spark, tmp_path):
    t = DeltaLiteTable(str(tmp_path / "plain"))
    t.write(spark.createDataFrame([(1, "a")], "id long, val string"))
    t.write(spark.createDataFrame([(2, "b")], "id long, val string"),
            mode="append")
    ch = t.table_changes(spark, 0)
    assert "_commit_version" not in ch.columns
    assert sorted((r.id, r._change_type) for r in ch.collect()) == [
        (2, "insert")
    ]


@pytest.mark.parametrize("seed", [5])
def test_change_feed_folds_to_snapshot(spark, tmp_path, seed):
    """Model check: replaying the per-commit change feed (insert /
    delete / update_postimage keyed by id) over the seed state must
    reproduce the final snapshot exactly — the CDC consumer's
    contract."""
    rng = random.Random(seed)
    t = _mk(spark, tmp_path, name=f"fold{seed}")
    state = {1: "a", 2: "b", 3: "c"}
    next_id = 10

    for _ in range(8):
        op = rng.choice(["append", "update", "delete", "merge"])
        if op == "append":
            rows = [(next_id + i, f"n{i}", "x") for i in range(2)]
            next_id += 2
            t.write(
                spark.createDataFrame(
                    rows, "id long, val string, grp string"
                ),
                mode="append",
            )
        elif op == "update" and state:
            pivot = rng.choice(sorted(state))
            t.update(spark, f"id = {pivot}", {"val": "concat(val,'+')"})
        elif op == "delete" and state:
            victim = rng.choice(sorted(state))
            t.delete(
                spark, f"id = {victim}",
                strategy=rng.choice(["dv", "rewrite"]),
            )
        elif op == "merge" and state:
            k = rng.choice(sorted(state))
            t.merge(
                spark,
                spark.createDataFrame(
                    [(k, "M", "x"), (next_id, "i", "y")],
                    "id long, val string, grp string",
                ),
                keys=["id"],
            )
            next_id += 1
        # fold the official feed into the python state
        feed = t.table_changes(spark, 0)
        assert "_commit_version" in feed.columns, "CDF mode expected"
        state = {1: "a", 2: "b", 3: "c"}
        for r in sorted(
            feed.collect(),
            key=lambda r: (r._commit_version, r._change_type),
        ):
            if r._change_type == "insert":
                state[r.id] = r.val
            elif r._change_type == "delete":
                state.pop(r.id, None)
            elif r._change_type == "update_postimage":
                state[r.id] = r.val
        got = {r.id: r.val for r in t.read(spark).collect()}
        assert got == state


def test_restore_emits_change_set_when_spark_given(spark, tmp_path):
    t = _mk(spark, tmp_path, name="restore")
    t.delete(spark, "id = 2")                                   # v1
    t.write(
        spark.createDataFrame([(9, "z", "y")],
                              "id long, val string, grp string"),
        mode="append",
    )                                                           # v2
    v = t.restore(0, spark=spark)                               # v3
    assert v == 3
    # the restore commit's own feed: 9 disappears, 2 comes back
    assert _changes(t, spark, 2, 3) == [
        (3, 2, "b", "insert"),
        (3, 9, "z", "delete"),
    ]
    # and the whole range still reads in CDF mode
    assert _changes(t, spark, 0, 3) == [
        (1, 2, "b", "delete"),
        (2, 9, "z", "insert"),
        (3, 2, "b", "insert"),
        (3, 9, "z", "delete"),
    ]
    # without spark a data-changing restore on a CDF table REFUSES —
    # committing a mixed add/remove version with no cdc would poison
    # every table_changes range covering it
    t2 = _mk(spark, tmp_path, name="restore2")
    t2.delete(spark, "id = 1")
    with pytest.raises(DeltaProtocolError, match="cdc"):
        t2.restore(0)
    # a NO-OP restore (target state == current state) needs no change
    # set and commits fine without spark
    v2 = t2.restore(1)
    assert v2 == 2
    assert len(_changes(t2, spark, 0)) == 1  # still just the delete


# -- single-evaluation guarantee: change files vs data files ----------
# A non-deterministic input (rand()) must not make the _change_data
# rows disagree with the committed add files — each verb derives both
# from ONE evaluation (staged files read back / localCheckpoint).


def test_update_nondeterministic_set_agrees_with_snapshot(
    spark, tmp_path
):
    t = _mk(spark, tmp_path, name="ndet_upd")
    t.update(
        spark,
        "grp = 'x'",
        {"val": "cast(cast(rand() * 1e15 as long) as string)"},
    )
    post = sorted(
        (r.id, r.val)
        for r in t.table_changes(spark, 0)
        .filter("_change_type = 'update_postimage'")
        .collect()
    )
    snap = sorted(
        (r.id, r.val)
        for r in t.read(spark).filter("grp = 'x'").collect()
    )
    assert post == snap  # random values, but the SAME random values


def test_overwrite_nondeterministic_input_agrees_with_snapshot(
    spark, tmp_path
):
    t = _mk(spark, tmp_path, name="ndet_ow")
    # the if() keeps every column nullable so the frame matches the
    # table schema exactly (overwrite compares schemas strictly)
    nd = spark.createDataFrame(
        [(i, "", "w") for i in range(5)],
        "id long, val string, grp string",
    ).selectExpr(
        "id",
        "if(id >= 0, cast(cast(rand() * 1e15 as long) as string), "
        "val) AS val",
        "grp",
    )
    t.write(nd, mode="overwrite")
    ins = sorted(
        (r.id, r.val)
        for r in t.table_changes(spark, 0, keys=None)
        .filter("_change_type = 'insert' AND _commit_version = 1")
        .collect()
    )
    snap = sorted((r.id, r.val) for r in t.read(spark).collect())
    assert ins == snap


def test_merge_nondeterministic_source_agrees_with_snapshot(
    spark, tmp_path
):
    t = _mk(spark, tmp_path, name="ndet_mrg")
    src = spark.createDataFrame(
        [(2,), (9,)], "id long"
    ).selectExpr(
        "id",
        "cast(cast(rand() * 1e15 as long) as string) AS val",
        "'m' AS grp",
    )
    t.merge(spark, src, keys=["id"])
    feed = t.table_changes(spark, 0, keys=None).filter(
        "_commit_version = 1"
    )
    post_and_ins = sorted(
        (r.id, r.val)
        for r in feed.filter(
            "_change_type IN ('insert', 'update_postimage')"
        ).collect()
    )
    snap = sorted(
        (r.id, r.val)
        for r in t.read(spark).filter("id IN (2, 9)").collect()
    )
    assert post_and_ins == snap
    # and the feed still folds: pre/post pair for 2, insert for 9
    kinds = sorted(
        (r.id, r._change_type) for r in feed.collect()
    )
    assert kinds == [
        (2, "update_postimage"),
        (2, "update_preimage"),
        (9, "insert"),
    ]


def test_seeded_verbs_with_restore_stream_matches_batch(
    spark, tmp_path
):
    """Round-7 verb-model extension: RESTORE joins the random verb mix
    (its change set must fold like any other commit), and the
    STREAMING CDF source (readChangeFeed=true, startingVersion=0)
    must serve exactly the batch table_changes feed — stream and
    batch are two readers of the same change files."""
    from data_lakehouse_platform_spark.sources.delta_stream import (
        DeltaLiteStreamDataSource,
    )

    spark.dataSource.register(DeltaLiteStreamDataSource)
    rng = random.Random(777)
    t = _mk(spark, tmp_path, name="model_restore")
    next_id = 10
    for _step in range(8):
        op = rng.choice(["append", "update", "delete", "restore"])
        live = {r.id for r in t.read(spark).collect()}
        if op == "append":
            t.write(
                spark.createDataFrame(
                    [(next_id, f"n{next_id}", "x")],
                    "id long, val string, grp string",
                ),
                mode="append",
            )
            next_id += 1
        elif op == "update" and live:
            pivot = rng.choice(sorted(live))
            t.update(
                spark, f"id = {pivot}", {"val": "concat(val,'+')"}
            )
        elif op == "delete" and live:
            victim = rng.choice(sorted(live))
            t.delete(spark, f"id = {victim}", strategy="rewrite")
        elif op == "restore":
            target = rng.choice(t.all_versions())
            t.restore(target, spark=spark)
    # 1) the full feed folds to the final snapshot (restore included)
    feed = t.table_changes(spark, 0)
    state = {1: "a", 2: "b", 3: "c"}
    for r in sorted(
        feed.collect(),
        key=lambda r: (r._commit_version, r._change_type),
    ):
        if r._change_type in ("insert", "update_postimage"):
            state[r.id] = r.val
        elif r._change_type == "delete":
            state.pop(r.id, None)
    got = {r.id: r.val for r in t.read(spark).collect()}
    assert got == state
    # 2) the streaming CDF source serves the SAME feed (tail from v0;
    # drop v0 itself — batch table_changes(0) starts at v1)
    out, ckpt = str(tmp_path / "so"), str(tmp_path / "sc")
    q = (
        spark.readStream.format("delta_lite")
        .option("path", t.path)
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = sorted(
        (r._commit_version, r.id, r.val, r._change_type)
        for r in spark.read.parquet(out).collect()
        if r._commit_version >= 1
    )
    batch = sorted(
        (r._commit_version, r.id, r.val, r._change_type)
        for r in feed.collect()
    )
    assert streamed == batch
