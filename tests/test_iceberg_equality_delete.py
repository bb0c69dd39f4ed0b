"""Equality-delete WRITES on iceberg_lite tables (VERDICT r7 gap #4):
``upsert`` is the Flink-style one-snapshot equality-delete + append,
committing content=2 files with equality_ids and strict ``data seq <
delete seq`` gating.  Every behavior is checked against an
independently built expectation (plain-Python rows, or a position-
delete twin) and the incremental-scan refusal is exercised on tables
produced by THIS writer, not just fixtures."""

from __future__ import annotations

import random

import pytest

from data_lakehouse_platform_spark.sources.avro_lite import read_container
from data_lakehouse_platform_spark.sources.iceberg_lite import (
    IcebergLiteTable,
    IcebergProtocolError,
)

_REGIONS = ["eu", "us", "ap"]
_DDL = "id int, region string, v double"


def _seed(n=30):
    return [(i, _REGIONS[i % 3], float(i)) for i in range(n)]


def _table(spark, tmp_path, name="t", partitioned=True, n=30):
    t = IcebergLiteTable(str(tmp_path / name))
    t.write(
        spark.createDataFrame(_seed(n), _DDL),
        partition_by=["region"] if partitioned else None,
    )
    return t


def _rows(t, spark, snapshot_id=None):
    return sorted(
        (r.id, r.region, r.v)
        for r in t.read(spark, snapshot_id=snapshot_id).collect()
    )


def _upserted(rows, src):
    """Plain-Python upsert: ``src`` replaces every row sharing its id."""
    keys = {r[0] for r in src}
    return sorted([r for r in rows if r[0] not in keys] + list(src))


def test_upsert_one_snapshot_matches_python_model(spark, tmp_path):
    t = _table(spark, tmp_path)
    v0 = t.current_snapshot_id()
    n_snaps_before = len(t.snapshots())
    src = [(0, "eu", 100.0), (3, "eu", 103.0), (99, "eu", 199.0)]
    res = t.upsert(spark, spark.createDataFrame(src, _DDL), keys=["id"])
    assert _rows(t, spark) == _upserted(_seed(), src)
    # ONE snapshot for delete+append (the Flink checkpoint-commit shape)
    assert len(t.snapshots()) == n_snaps_before + 1
    assert res["rows"] == 3 and res["keys"] == 3
    # time travel: the pre-upsert snapshot is unaffected
    assert _rows(t, spark, snapshot_id=v0) == sorted(_seed())


def test_equality_deletes_match_position_delete_twin(spark, tmp_path):
    """An upsert's equality delete reads exactly like a position delete
    of the same keys followed by an append of the new rows."""
    te = _table(spark, tmp_path, "eq")
    tp = _table(spark, tmp_path, "pos")
    src = [(i, _REGIONS[i % 3], -float(i)) for i in range(0, 30, 5)]
    te.upsert(spark, spark.createDataFrame(src, _DDL), keys=["id"])
    tp.delete(spark, "id % 5 = 0")
    tp.write(spark.createDataFrame(src, _DDL), mode="append")
    assert _rows(te, spark) == _rows(tp, spark) == _upserted(_seed(), src)


def test_sequence_gating_rows_after_delete_survive(spark, tmp_path):
    """The spec's strict gate: an equality delete applies only to data
    files with sequence number < the delete's — a row appended AFTER
    the upsert with the same key must survive beside it."""
    t = _table(spark, tmp_path)
    t.upsert(
        spark, spark.createDataFrame([(3, "eu", 333.0)], _DDL), keys=["id"]
    )
    t.write(
        spark.createDataFrame([(3, "eu", 444.0)], _DDL), mode="append"
    )
    got = sorted(v for i, _r, v in _rows(t, spark) if i == 3)
    assert got == [333.0, 444.0]  # later row NOT re-deleted


def test_multi_column_keys_and_null_matching(spark, tmp_path):
    t = IcebergLiteTable(str(tmp_path / "nk"))
    ddl = "id int, tag string, v double"
    t.write(spark.createDataFrame(
        [(1, "a", 1.0), (1, "b", 2.0), (2, None, 3.0), (2, "a", 4.0)], ddl
    ))
    t.upsert(
        spark,
        spark.createDataFrame([(1, "b", 20.0), (2, None, 30.0)], ddl),
        keys=["id", "tag"],
    )
    got = sorted(
        (r.id, r.tag or "", r.v) for r in t.read(spark).collect()
    )
    # eqNullSafe in the reader: the (2, NULL) tuple matches the NULL row
    assert got == [(1, "a", 1.0), (1, "b", 20.0), (2, "", 30.0),
                   (2, "a", 4.0)]


def test_upsert_on_empty_table_is_append(spark, tmp_path):
    t = IcebergLiteTable(str(tmp_path / "fresh"))
    src = spark.createDataFrame([(1, "eu", 1.0)], _DDL)
    t.upsert(spark, src, keys=["id"])
    assert _rows(t, spark) == [(1, "eu", 1.0)]


def test_manifest_carries_equality_ids_and_content(spark, tmp_path):
    """The committed bytes, not just this reader's view: the delete
    manifest entry must carry content=2 and the key field ids (spec
    data_file fields 134/135)."""
    t = _table(spark, tmp_path)
    t.upsert(
        spark, spark.createDataFrame([(3, "eu", 3.5)], _DDL), keys=["id"]
    )
    snap = t.snapshots()[-1]
    del_manifests = [
        r for r in t._manifest_list_rows(snap)
        if int(r.get("content") or 0) == 1
    ]
    assert len(del_manifests) == 1
    _, entries = read_container(del_manifests[0]["manifest_path"])
    assert len(entries) >= 1
    for e in entries:
        dfent = e["data_file"]
        assert int(dfent["content"]) == 2
        assert list(dfent["equality_ids"]) == [1]  # id is field 1


def test_incremental_scan_refuses_equality_delete_snapshot(spark, tmp_path):
    t = _table(spark, tmp_path)
    v0 = t.current_snapshot_id()
    t.upsert(
        spark, spark.createDataFrame([(3, "eu", 3.5)], _DDL), keys=["id"]
    )
    with pytest.raises(IcebergProtocolError, match="cannot represent"):
        t.incremental_append_files(v0, on_change="error")
    # skip: the upsert snapshot contributes nothing
    assert t.incremental_append_files(v0, on_change="skip") == []


def test_rewrite_folds_equality_deletes(spark, tmp_path):
    """Compaction: rewritten files take a NEW sequence number above
    every delete's, so the equality manifests stop applying — the read
    is unchanged and, once every file is rewritten, the dangling
    equality manifest is dropped from the snapshot."""
    t = _table(spark, tmp_path, partitioned=False)
    src = [(3, "eu", 33.0), (7, "us", 77.0)]
    t.upsert(spark, spark.createDataFrame(src, _DDL), keys=["id"])
    assert [d["kind"] for d in t.plan_files()[1]] == ["eq"]
    before = _rows(t, spark)
    assert before == _upserted(_seed(), src)
    t.rewrite_data_files(spark)
    assert _rows(t, spark) == before
    assert t.plan_files()[1] == []


def test_validation_refusals(spark, tmp_path):
    t = _table(spark, tmp_path)
    with pytest.raises(ValueError, match="differs from table schema"):
        t.upsert(
            spark, spark.createDataFrame([(1,)], "id int"), keys=["id"]
        )
    with pytest.raises(ValueError, match="not in table columns"):
        t.upsert(
            spark, spark.createDataFrame([(1, "eu", 1.0)], _DDL),
            keys=["zz"],
        )


@pytest.mark.slow
def test_verb_model_equality_sequences(spark, tmp_path):
    """Seeded random verb sequences (append / position delete / upsert /
    rewrite) checked after EVERY verb against a driver-side dict model —
    the same model-based discipline the delta/iceberg verb suites use
    (tests/test_delta_model.py), extended to the equality-delete
    writer."""
    rng = random.Random(17)
    t = IcebergLiteTable(str(tmp_path / "model"))
    model: dict[int, tuple[str, float]] = {}
    next_val = [0.0]

    def mk(rows):
        return spark.createDataFrame(
            [(i, ["eu", "us"][i % 2], v) for i, v in rows],
            "id int, region string, v double",
        )

    # seed table
    seed = [(i, float(i)) for i in range(20)]
    t.write(mk(seed), partition_by=["region"])
    model.update({i: (["eu", "us"][i % 2], v) for i, v in seed})

    def check():
        got = sorted((r.id, r.region, r.v) for r in t.read(spark).collect())
        want = sorted((i, reg, v) for i, (reg, v) in model.items())
        assert got == want

    for _step in range(12):
        verb = rng.choice(["append", "delete", "upsert", "rewrite"])
        if verb == "append":
            rows = []
            for _ in range(rng.randint(1, 4)):
                i = rng.randint(100, 200)
                while i in model:
                    i += 1
                next_val[0] += 1
                rows.append((i, next_val[0]))
            t.write(mk(rows), mode="append")
            model.update({i: (["eu", "us"][i % 2], v) for i, v in rows})
        elif verb == "delete":
            pool = list(model) or [0]
            ids = sorted({rng.choice(pool) for _ in range(3)} | {777})
            t.delete(spark, f"id IN ({', '.join(map(str, ids))})")
            for i in ids:
                model.pop(i, None)
        elif verb == "upsert":
            rows = []
            pool = list(model)
            for _ in range(rng.randint(1, 3)):
                next_val[0] += 1
                i = rng.choice(pool) if pool and rng.random() < 0.5 else rng.randint(300, 400)
                rows.append((i, next_val[0]))
            rows = list({i: (i, v) for i, v in rows}.values())
            t.upsert(spark, mk(rows), keys=["id"])
            model.update({i: (["eu", "us"][i % 2], v) for i, v in rows})
        else:
            t.rewrite_data_files(spark)
        check()
