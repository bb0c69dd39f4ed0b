"""Iceberg v3 handling: a table using any v3-specific construct is
refused with the construct list NAMED (r9); a v3 table whose feature
scan comes back empty is structurally v2 and READS (r10) — while every
mutation still refuses at the commit choke point."""

from __future__ import annotations

import json
import os

import pytest

from data_lakehouse_platform_spark.sources.iceberg_lite import (
    IcebergLiteTable,
    IcebergProtocolError,
)

# the v3 DV snapshot builder lives with the golden-fixture generator
# (it is fixture-building code: it models ANOTHER engine's v3 output)
sys_path_golden = os.path.join(
    os.path.dirname(__file__), "fixtures", "golden"
)
import sys  # noqa: E402

if sys_path_golden not in sys.path:
    sys.path.insert(0, sys_path_golden)
from generate import add_dv_snapshot as _add_dv_snapshot  # noqa: E402


def _v3_table(tmp_path, name, extra_meta=None, fields=None, snapshots=None):
    root = tmp_path / name
    mdir = root / "metadata"
    os.makedirs(str(mdir))
    meta = {
        "format-version": 3,
        "table-uuid": "0000-v3",
        "location": str(root),
        "last-sequence-number": 1,
        "last-updated-ms": 0,
        "last-column-id": 2,
        "current-schema-id": 0,
        "schemas": [{
            "type": "struct", "schema-id": 0,
            "fields": fields or [
                {"id": 1, "name": "id", "required": True, "type": "long"},
            ],
        }],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "last-partition-id": 999,
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "current-snapshot-id": -1,
        "snapshots": snapshots or [],
        "snapshot-log": [], "metadata-log": [],
    }
    meta.update(extra_meta or {})
    with open(str(mdir / "v1.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    return IcebergLiteTable(str(root))


def test_v3_refusal_names_row_lineage_types_defaults_dvs(spark, tmp_path):
    t = _v3_table(
        tmp_path, "full",
        extra_meta={"next-row-id": 4096, "row-lineage": True},
        fields=[
            {"id": 1, "name": "id", "required": True, "type": "long",
             "initial-default": 0, "write-default": 0},
            {"id": 2, "name": "payload", "required": False,
             "type": "variant"},
            {"id": 3, "name": "ts", "required": False,
             "type": "timestamp_ns"},
        ],
        snapshots=[{
            "snapshot-id": 1, "timestamp-ms": 0, "first-row-id": 0,
            "summary": {"operation": "append", "added-dvs": "2",
                        "total-dvs": "2"},
            "manifest-list": "x.avro",
        }],
    )
    with pytest.raises(IcebergProtocolError) as ei:
        t.metadata()
    msg = str(ei.value)
    assert "format-version=3" in msg
    assert "variant" in msg and "timestamp_ns" in msg
    assert "default values" in msg
    # Puffin DVs are READABLE since r10 (sources/puffin.py) and row
    # lineage is hidden metadata a plain read ignores, so neither is a
    # refusal reason
    assert "deletion vectors" not in msg
    assert "row lineage" not in msg


def test_v3_no_constructs_reads(spark, tmp_path):
    """r10 (VERDICT r9 next#3): a v3 table whose feature scan comes
    back EMPTY is structurally v2 — read it instead of refusing on
    the version number alone."""
    t = _v3_table(tmp_path, "plain")
    meta = t.metadata()  # no refusal
    assert meta["format-version"] == 3
    # snapshot-less table: reads raise the normal "no current
    # snapshot", NOT a v3 refusal
    with pytest.raises(FileNotFoundError, match="no current snapshot"):
        t.read(spark)


def test_v3_no_constructs_reads_data_and_time_travels(spark, tmp_path):
    """A data-carrying v3-no-features table (this engine's own v2
    output with format-version re-stamped 3) reads bit-identically,
    snapshot pinning included — and every MUTATION refuses at the
    commit choke point (this writer's v2 manifests lack the row-id
    assignment v3 readers require)."""
    t = IcebergLiteTable(str(tmp_path / "v3d"))
    t.write(spark.createDataFrame([(1, "a"), (2, "b")],
                                  "id int, v string"))
    s1 = t.current_snapshot_id()
    t.write(spark.createDataFrame([(3, "c")], "id int, v string"),
            mode="append")
    mfile = t._resolve_metadata_file()
    with open(mfile) as fh:
        meta = json.load(fh)
    meta["format-version"] = 3
    with open(mfile, "w") as fh:
        json.dump(meta, fh)

    got = sorted(tuple(r) for r in t.read(spark).collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]
    pinned = sorted(
        tuple(r) for r in t.read(spark, snapshot_id=s1).collect()
    )
    assert pinned == [(1, "a"), (2, "b")]
    assert len(t.snapshots()) == 2
    # mutations refuse — append, delete, maintenance alike
    with pytest.raises(IcebergProtocolError, match="refuses to COMMIT"):
        t.write(spark.createDataFrame([(4, "d")], "id int, v string"),
                mode="append")
    with pytest.raises(IcebergProtocolError, match="refuses to COMMIT"):
        t.delete(spark, "id = 1")
    # and nothing was half-committed by the refusals
    assert t.read(spark).count() == 3


def test_v2_tables_unaffected(spark, tmp_path):
    t = IcebergLiteTable(str(tmp_path / "v2"))
    t.write(spark.createDataFrame([(1, "a")], "id int, v string"))
    assert t.metadata()["format-version"] == 2



def test_v3_puffin_dv_read_end_to_end(spark, tmp_path):
    """r10: a v3 table whose deletes are Puffin deletion vectors reads
    correctly — the DV retracts exactly the referenced file's marked
    row positions, other files are untouched, and time travel to the
    pre-DV snapshot still sees every row."""
    t = IcebergLiteTable(str(tmp_path / "v3dv"))
    a = spark.createDataFrame(
        [(i, f"a{i}") for i in range(6)], "id int, v string"
    ).coalesce(1)
    b = spark.createDataFrame(
        [(100 + i, f"b{i}") for i in range(4)], "id int, v string"
    ).coalesce(1)
    t.write(a)
    pre_dv_snap = t.current_snapshot_id()
    t.write(b, mode="append")
    files, _ = t.plan_files()
    # identify file A (the 6-row file) by its manifest record counts
    import pyarrow.parquet as pq

    file_a = next(
        p for p, _s, _pt in files if pq.read_metadata(p).num_rows == 6
    )
    # DV kills positions 0, 2, 5 of file A => ids 0, 2, 5 gone
    _add_dv_snapshot(t, {file_a: [0, 2, 5]})

    df = t.read(spark)
    # helper delete-join columns must not leak into the result schema
    assert [f.name for f in df.schema.fields] == ["id", "v"]
    got = sorted(r.id for r in df.collect())
    assert got == [1, 3, 4, 100, 101, 102, 103]
    # pre-DV snapshot unaffected (and it predates the v3 stamp's
    # snapshot, so time travel crosses the upgrade boundary)
    before = sorted(r.id for r in t.read(
        spark, snapshot_id=pre_dv_snap).collect())
    assert before == [0, 1, 2, 3, 4, 5]
    # mutations on the now-v3 table refuse
    with pytest.raises(IcebergProtocolError, match="refuses to COMMIT"):
        t.write(spark.createDataFrame([(9, "z")], "id int, v string"),
                mode="append")


def test_v3_corrupt_dv_refuses_not_misreads(spark, tmp_path):
    """A bit-flipped DV bitmap must fail the CRC loudly at read time —
    never silently resurrect or over-delete rows."""
    t = IcebergLiteTable(str(tmp_path / "v3bad"))
    t.write(spark.createDataFrame(
        [(i, f"x{i}") for i in range(5)], "id int, v string"
    ).coalesce(1))
    files, _ = t.plan_files()
    (file_a,) = [p for p, _s, _pt in files]
    _add_dv_snapshot(t, {file_a: [1]})
    # corrupt the puffin blob body (first blob starts at offset 4)
    (pf,) = [
        os.path.join(t.metadata_dir, f)
        for f in os.listdir(t.metadata_dir)
        if f.endswith(".puffin")
    ]
    raw = bytearray(open(pf, "rb").read())
    raw[10] ^= 0xFF
    open(pf, "wb").write(bytes(raw))
    # the executor-side PuffinFormatError surfaces through pyspark's
    # captured-exception wrapper; match the refusal text itself
    with pytest.raises(Exception, match="DV CRC mismatch"):
        t.read(spark).collect()


def _stamp_v3(t):
    mfile = t._resolve_metadata_file()
    with open(mfile) as fh:
        meta = json.load(fh)
    meta["format-version"] = 3
    meta["next-row-id"] = 10_000
    with open(mfile, "w") as fh:
        json.dump(meta, fh)


def _stamp_ml_first_row_ids(t, first_by_path):
    """Rewrite the current snapshot's manifest list with a
    ``first_row_id`` per content-0 row (keyed by a data-file path the
    manifest holds) — models a v3 writer's lineage assignment."""
    import copy

    from data_lakehouse_platform_spark.sources.avro_lite import (
        read_container,
        write_container,
    )

    meta = t.metadata()
    snap = next(
        s for s in meta["snapshots"]
        if int(s["snapshot-id"]) == meta["current-snapshot-id"]
    )
    ml = snap["manifest-list"]
    sch, rows = read_container(ml)
    sch2 = copy.deepcopy(sch)
    sch2["fields"].append(
        {"name": "first_row_id", "type": ["null", "long"],
         "default": None, "field-id": 520}
    )
    for r in rows:
        r["first_row_id"] = None
        if int(r.get("content") or 0) != 0:
            continue
        _, entries = read_container(r["manifest_path"])
        for e in entries:
            p = e["data_file"]["file_path"]
            for key, fr in first_by_path.items():
                if os.path.abspath(p) == os.path.abspath(key):
                    r["first_row_id"] = fr
    write_container(ml, sch2, rows,
                    extra_metadata={"format-version": b"3"})


def test_v3_row_lineage_table_reads_plainly(spark, tmp_path):
    """Row lineage (next-row-id, manifest-list first_row_id) is hidden
    metadata: a v3 table carrying it reads as plain rows — no refusal,
    no lineage columns — with its Puffin DV applied."""
    t = IcebergLiteTable(str(tmp_path / "v3lin"))
    t.write(spark.createDataFrame(
        [(i, f"a{i}") for i in range(6)], "id int, v string"
    ).coalesce(1))
    files, _ = t.plan_files()
    (file_a,) = [p for p, _s, _pt in files]
    _add_dv_snapshot(t, {file_a: [1, 4]})  # also stamps v3
    _stamp_v3(t)
    _stamp_ml_first_row_ids(t, {file_a: 50})
    df = t.read(spark)
    assert df.columns == ["id", "v"]
    assert sorted(r.id for r in df.collect()) == [0, 2, 3, 5]
