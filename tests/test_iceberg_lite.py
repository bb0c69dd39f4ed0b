"""Read-only Iceberg v2 interop: avro_lite container round-trips and
IcebergLiteTable snapshot reads over a hand-built, spec-shaped table
(metadata.json -> manifest list -> manifests -> parquet), including
time travel, position deletes, and loud refusal of equality deletes."""

from __future__ import annotations

import json
import os

import pytest

from data_lakehouse_platform_spark.sources.avro_lite import (
    AvroFormatError,
    read_container,
    write_container,
)
from data_lakehouse_platform_spark.sources.iceberg_lite import (
    IcebergLiteTable,
    IcebergProtocolError,
)

# -- avro_lite unit coverage ----------------------------------------------

_NESTED_SCHEMA = {
    "type": "record",
    "name": "outer",
    "fields": [
        {"name": "s", "type": "string"},
        {"name": "n", "type": ["null", "long"], "default": None},
        {"name": "arr", "type": {"type": "array", "items": "int"}},
        {"name": "m", "type": {"type": "map", "values": "double"}},
        {"name": "inner", "type": ["null", {
            "type": "record", "name": "inner_rec",
            "fields": [
                {"name": "b", "type": "boolean"},
                {"name": "fx", "type": {"type": "fixed", "name": "f8",
                                        "size": 8}},
                {"name": "e", "type": {"type": "enum", "name": "col",
                                       "symbols": ["RED", "BLUE"]}},
            ]}], "default": None},
    ],
}

_NESTED_ROWS = [
    {"s": "héllo", "n": None, "arr": [1, -2, 300000],
     "m": {"pi": 3.25, "e": -2.5},
     "inner": {"b": True, "fx": b"12345678", "e": "BLUE"}},
    {"s": "", "n": -(1 << 40), "arr": [], "m": {}, "inner": None},
]


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_avro_container_roundtrip(tmp_path, codec):
    p = str(tmp_path / f"t-{codec}.avro")
    write_container(p, _NESTED_SCHEMA, _NESTED_ROWS, codec=codec)
    schema, rows = read_container(p)
    assert schema == _NESTED_SCHEMA
    assert rows == _NESTED_ROWS


def test_avro_rejects_garbage(tmp_path):
    p = tmp_path / "bad.avro"
    p.write_bytes(b"PAR1 not avro")
    with pytest.raises(AvroFormatError, match="not an Avro container"):
        read_container(str(p))


# -- iceberg fixture -------------------------------------------------------
#
# Trimmed-but-valid v2 Avro schemas: the reader is writer-schema-driven,
# so a real table's fuller schemas (column stats maps etc.) decode the
# same way — these carry every field the reader consults plus the usual
# optional ones to prove union/null handling.

_MANIFEST_LIST_SCHEMA = {
    "type": "record", "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int"},
        {"name": "content", "type": "int"},
        {"name": "sequence_number", "type": "long"},
        {"name": "min_sequence_number", "type": "long"},
        {"name": "added_snapshot_id", "type": "long"},
        {"name": "added_files_count", "type": "int"},
        {"name": "existing_files_count", "type": "int"},
        {"name": "deleted_files_count", "type": "int"},
        {"name": "added_rows_count", "type": "long"},
        {"name": "existing_rows_count", "type": "long"},
        {"name": "deleted_rows_count", "type": "long"},
    ],
}

_MANIFEST_SCHEMA = {
    "type": "record", "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": ["null", "long"], "default": None},
        {"name": "sequence_number", "type": ["null", "long"],
         "default": None},
        {"name": "file_sequence_number", "type": ["null", "long"],
         "default": None},
        {"name": "data_file", "type": {
            "type": "record", "name": "r2",
            "fields": [
                {"name": "content", "type": "int"},
                {"name": "file_path", "type": "string"},
                {"name": "file_format", "type": "string"},
                {"name": "partition", "type": {
                    "type": "record", "name": "r102", "fields": []}},
                {"name": "record_count", "type": "long"},
                {"name": "file_size_in_bytes", "type": "long"},
                {"name": "column_sizes", "type": ["null", {
                    "type": "map", "values": "long"}], "default": None},
                {"name": "equality_ids", "type": ["null", {
                    "type": "array", "items": "int"}], "default": None},
            ]}},
    ],
}


def _entry(path, *, content=0, status=1, fmt="PARQUET", seq=1,
           eq_ids=None):
    return {
        "status": status, "snapshot_id": 1, "sequence_number": seq,
        "file_sequence_number": seq,
        "data_file": {
            "content": content, "file_path": path, "file_format": fmt,
            "partition": {}, "record_count": 2,
            "file_size_in_bytes": os.path.getsize(path)
            if os.path.exists(path) else 0,
            "column_sizes": {"1": 64},
            "equality_ids": eq_ids,
        },
    }


def _manifest_list_row(path, content):
    return {
        "manifest_path": path, "manifest_length": os.path.getsize(path),
        "partition_spec_id": 0, "content": content, "sequence_number": 1,
        "min_sequence_number": 1, "added_snapshot_id": 1,
        "added_files_count": 1, "existing_files_count": 0,
        "deleted_files_count": 0, "added_rows_count": 2,
        "existing_rows_count": 0, "deleted_rows_count": 0,
    }


def _build_table(tmp_path, *, with_deletes=False, delete_kind=1,
                 data_fmt="PARQUET"):
    """Two snapshots: snap 1 = files A+B, snap 2 = A+B+C. Optional
    delete manifest in snap 2 removing rows (A,0) and (C,1)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path / "ice"
    mdir = root / "metadata"
    ddir = root / "data"
    mdir.mkdir(parents=True)
    ddir.mkdir()

    files = {}
    for name, ids in [("A", [1, 2]), ("B", [3, 4]), ("C", [5, 6])]:
        p = str(ddir / f"{name}.parquet")
        pq.write_table(
            pa.table({"id": pa.array(ids, pa.int64()),
                      "val": pa.array([f"{name}{i}" for i in ids])}),
            p,
        )
        files[name] = p

    def manifest(path, entries):
        write_container(str(path), _MANIFEST_SCHEMA, entries)
        return str(path)

    m1 = manifest(mdir / "m1.avro",
                  [_entry(files["A"], fmt=data_fmt),
                   _entry(files["B"], fmt=data_fmt)])
    m2 = manifest(mdir / "m2.avro", [_entry(files["C"], fmt=data_fmt)])

    ml1 = str(mdir / "snap-1-manifest-list.avro")
    write_container(ml1, _MANIFEST_LIST_SCHEMA, [_manifest_list_row(m1, 0)])

    ml2_rows = [_manifest_list_row(m1, 0), _manifest_list_row(m2, 0)]
    if with_deletes:
        dpath = str(ddir / "pos-delete-0.parquet")
        pq.write_table(
            pa.table({
                "file_path": pa.array([files["A"], files["C"]]),
                "pos": pa.array([0, 1], pa.int64()),
            }),
            dpath,
        )
        md = manifest(mdir / "m-del.avro",
                      [_entry(dpath, content=delete_kind)])
        ml2_rows.append(_manifest_list_row(md, 1))
    ml2 = str(mdir / "snap-2-manifest-list.avro")
    write_container(ml2, _MANIFEST_LIST_SCHEMA, ml2_rows)

    meta = {
        "format-version": 2,
        "table-uuid": "00000000-0000-0000-0000-0000000001ce",
        "location": str(root),
        "last-sequence-number": 2,
        "last-updated-ms": 1700000000000,
        "last-column-id": 2,
        "current-schema-id": 0,
        "schemas": [{"type": "struct", "schema-id": 0, "fields": [
            {"id": 1, "name": "id", "required": False, "type": "long"},
            {"id": 2, "name": "val", "required": False, "type": "string"},
        ]}],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "last-partition-id": 999,
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "current-snapshot-id": 2,
        "snapshots": [
            {"snapshot-id": 1, "sequence-number": 1,
             "timestamp-ms": 1700000000000,
             "manifest-list": ml1,
             "summary": {"operation": "append"}},
            {"snapshot-id": 2, "sequence-number": 2,
             "timestamp-ms": 1700000001000, "parent-snapshot-id": 1,
             "manifest-list": ml2,
             "summary": {"operation": "append"}},
        ],
        "snapshot-log": [
            {"timestamp-ms": 1700000000000, "snapshot-id": 1},
            {"timestamp-ms": 1700000001000, "snapshot-id": 2},
        ],
    }
    with open(mdir / "v2.metadata.json", "w") as fh:
        json.dump(meta, fh)
    with open(mdir / "version-hint.text", "w") as fh:
        fh.write("2")
    return str(root)


def test_iceberg_current_snapshot_read(spark, tmp_path):
    t = IcebergLiteTable(_build_table(tmp_path))
    got = t.read(spark)
    assert sorted((r.id, r.val) for r in got.collect()) == [
        (1, "A1"), (2, "A2"), (3, "B3"), (4, "B4"), (5, "C5"), (6, "C6")
    ]


def test_iceberg_time_travel_by_snapshot_id(spark, tmp_path):
    t = IcebergLiteTable(_build_table(tmp_path))
    got = t.read(spark, snapshot_id=1)
    assert sorted(r.id for r in got.collect()) == [1, 2, 3, 4]
    assert [h["snapshot-id"] for h in t.history()] == [1, 2]
    with pytest.raises(FileNotFoundError, match="snapshot 99"):
        t.read(spark, snapshot_id=99)


def test_iceberg_position_deletes_applied(spark, tmp_path):
    """v2 position deletes (file_path, pos) remove exactly the named
    rows: (A, pos 0) = id 1 and (C, pos 1) = id 6."""
    t = IcebergLiteTable(_build_table(tmp_path, with_deletes=True))
    got = t.read(spark)
    assert sorted(r.id for r in got.collect()) == [2, 3, 4, 5]
    # older snapshot is untouched by the later delete manifest
    assert sorted(r.id for r in t.read(spark, snapshot_id=1).collect()) == [
        1, 2, 3, 4
    ]


def test_iceberg_equality_deletes_applied_with_seq_gating(spark, tmp_path):
    """v2 equality deletes match on the equality_ids columns and apply
    ONLY to data files with sequence < the delete's sequence: val 'A2'
    (file A, seq 1) disappears, the same-valued row would not vanish
    from a NEWER file — proven by deleting 'C5' (file C, seq 2) with a
    seq-2 delete, which must survive."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path / "ice"
    t = IcebergLiteTable(_build_table(tmp_path))
    # C gets sequence 2 (rewrite m2 with seq=2); delete file at seq 2
    # targets vals A2 and C5 by equality on 'val' (field id 2)
    mdir = root / "metadata"
    ddir = root / "data"
    files_c = str(ddir / "C.parquet")
    write_container(str(mdir / "m2.avro"), _MANIFEST_SCHEMA,
                    [_entry(files_c, seq=2)])
    epath = str(ddir / "eq-delete-0.parquet")
    pq.write_table(pa.table({"val": pa.array(["A2", "C5"])}), epath)
    md = str(mdir / "m-eqdel.avro")
    write_container(md, _MANIFEST_SCHEMA,
                    [_entry(epath, content=2, seq=2, eq_ids=[2])])
    # rebuild snap-2 manifest list: m1 seq1, m2 seq2, delete seq2
    ml2 = str(mdir / "snap-2-manifest-list.avro")
    rows = [_manifest_list_row(str(mdir / "m1.avro"), 0),
            {**_manifest_list_row(str(mdir / "m2.avro"), 0),
             "sequence_number": 2},
            {**_manifest_list_row(md, 1), "sequence_number": 2}]
    write_container(ml2, _MANIFEST_LIST_SCHEMA, rows)

    got = sorted((r.id, r.val) for r in t.read(spark).collect())
    # A2 (seq 1 < 2) deleted; C5 (seq 2, NOT < 2) survives
    assert got == [(1, "A1"), (3, "B3"), (4, "B4"),
                   (5, "C5"), (6, "C6")]
    # snapshot 1 predates the delete manifest entirely
    assert sorted(r.id for r in t.read(spark, snapshot_id=1).collect()) == [
        1, 2, 3, 4
    ]


def test_iceberg_equality_delete_without_ids_refused(spark, tmp_path):
    t = IcebergLiteTable(
        _build_table(tmp_path, with_deletes=True, delete_kind=2)
    )
    with pytest.raises(IcebergProtocolError, match="no equality_ids"):
        t.read(spark)


def test_iceberg_non_parquet_refused(spark, tmp_path):
    t = IcebergLiteTable(_build_table(tmp_path, data_fmt="ORC"))
    with pytest.raises(IcebergProtocolError, match="parquet only"):
        t.read(spark)


def test_iceberg_format_v3_and_beyond_gates(tmp_path):
    """r10 gate shape: a v3 table with NO v3-specific construct reads
    (metadata() returns); a v3 table using one refuses naming it; an
    unknown future version refuses outright."""
    root = tmp_path / "v3"
    mdir = root / "metadata"
    mdir.mkdir(parents=True)
    with open(mdir / "v1.metadata.json", "w") as fh:
        json.dump({"format-version": 3}, fh)
    assert IcebergLiteTable(str(root)).metadata()["format-version"] == 3

    # next-row-id (row lineage) no longer refuses — every compliant
    # v3 table carries it, and a plain read ignores it;
    # a genuinely-unsupported construct (encryption keys) still does
    rootf = tmp_path / "v3feat"
    (rootf / "metadata").mkdir(parents=True)
    with open(rootf / "metadata" / "v1.metadata.json", "w") as fh:
        json.dump({"format-version": 3, "next-row-id": 5}, fh)
    assert IcebergLiteTable(str(rootf)).metadata()["next-row-id"] == 5

    roote = tmp_path / "v3enc"
    (roote / "metadata").mkdir(parents=True)
    with open(roote / "metadata" / "v1.metadata.json", "w") as fh:
        json.dump(
            {"format-version": 3, "encryption-keys": [{"key-id": "k"}]},
            fh,
        )
    with pytest.raises(IcebergProtocolError, match="encryption"):
        IcebergLiteTable(str(roote)).metadata()

    root4 = tmp_path / "v4"
    (root4 / "metadata").mkdir(parents=True)
    with open(root4 / "metadata" / "v1.metadata.json", "w") as fh:
        json.dump({"format-version": 4}, fh)
    with pytest.raises(IcebergProtocolError, match="format-version=4"):
        IcebergLiteTable(str(root4)).metadata()


# -- write path (migrate-out edge) ----------------------------------------

def test_iceberg_write_append_read_roundtrip(spark, tmp_path):
    """Engine DataFrame -> Iceberg v2 snapshots -> read back through the
    same module: append accumulates, overwrite replaces, every prior
    snapshot stays time-travelable."""
    t = IcebergLiteTable(str(tmp_path / "out"))
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, val string")
    s1 = t.write(df1)
    df2 = spark.createDataFrame([(3, "c")], "id long, val string")
    s2 = t.write(df2, mode="append")
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 2, 3]
    assert sorted(r.id for r in t.read(spark, snapshot_id=s1).collect()) == [
        1, 2
    ]
    s3 = t.write(
        spark.createDataFrame([(9, "z")], "id long, val string"),
        mode="overwrite",
    )
    assert [r.id for r in t.read(spark).collect()] == [9]
    assert sorted(r.id for r in t.read(spark, snapshot_id=s2).collect()) == [
        1, 2, 3
    ]
    assert [h["snapshot-id"] for h in t.history()] == [s1, s2, s3]
    # manifest files are valid Avro containers with Iceberg metadata
    meta = t.metadata()
    snap = next(s for s in meta["snapshots"]
                if s["snapshot-id"] == meta["current-snapshot-id"])
    schema, rows = read_container(snap["manifest-list"])
    assert rows and rows[0]["added_snapshot_id"] == s3
    assert {f["name"] for f in schema["fields"]} >= {
        "manifest_path", "content", "sequence_number"
    }


def test_iceberg_write_schema_pinned(spark, tmp_path):
    t = IcebergLiteTable(str(tmp_path / "out"))
    t.write(spark.createDataFrame([(1, "a")], "id long, val string"))
    with pytest.raises(ValueError, match="schema differs"):
        t.write(spark.createDataFrame([(1.5,)], "x double"), mode="append")


def test_iceberg_write_nested_types_roundtrip(spark, tmp_path):
    """Round 5: struct/list/map columns write with spec-conformant
    nested field-ids (unique, last-column-id covers them) and read
    back identically; a second same-shaped append re-derives IDENTICAL
    ids so the schema pin holds."""
    t = IcebergLiteTable(str(tmp_path / "out"))
    nested = spark.createDataFrame(
        [
            (1, (10, "x"), [1, 2], {"k": 5}),
            (2, (20, "y"), [], {}),
        ],
        "id long, s struct<a: int, b: string>, arr array<int>, "
        "m map<string, long>",
    )
    t.write(nested)
    fields = next(
        s["fields"]
        for s in t.metadata()["schemas"]
        if s["schema-id"] == t.metadata()["current-schema-id"]
    )
    # nested ids are unique and last-column-id covers them
    def all_ids(fs):
        out = []
        for f in fs:
            out.append(int(f["id"]))
            ty = f["type"]
            if isinstance(ty, dict):
                if ty["type"] == "struct":
                    out += all_ids(ty["fields"])
                elif ty["type"] == "list":
                    out.append(int(ty["element-id"]))
                elif ty["type"] == "map":
                    out += [int(ty["key-id"]), int(ty["value-id"])]
        return out

    ids = all_ids(fields)
    assert len(ids) == len(set(ids))
    assert t.metadata()["last-column-id"] == max(ids)
    got = sorted(
        (r.id, (r.s.a, r.s.b), list(r.arr), dict(r.m))
        for r in t.read(spark).collect()
    )
    assert got == [(1, (10, "x"), [1, 2], {"k": 5}),
                   (2, (20, "y"), [], {})]
    # append with the same shape: deterministic ids -> schema pin holds
    t.write(nested, mode="append")
    assert t.read(spark).count() == 4
    # a DIFFERENT nested shape still refuses
    other = spark.createDataFrame([((1.5,),)], "s struct<a: double>")
    with pytest.raises(ValueError, match="schema differs"):
        t.write(other, mode="append")


def test_cross_format_triangle_capstone(spark, tmp_path):
    """Migration capstone across both table formats: DataFrame content
    flows into a Delta table, survives a deletion-vector DELETE and a
    copy-on-write MERGE there, exports to an Iceberg v2 snapshot, comes
    back into a fresh Delta table, and reads back identically
    everywhere — the full escape hatch a reference user needs in
    either direction."""
    from data_lakehouse_platform_spark.sources.delta_lite import (
        DeltaLiteTable,
    )

    def rows(df):
        return sorted((r.id, r.val) for r in df.collect())

    source = spark.createDataFrame(
        [(i, c) for i, c in enumerate("abcdef", start=1)],
        "id long, val string",
    )

    dl = DeltaLiteTable(str(tmp_path / "delta"))
    dl.write(source.coalesce(2))
    dl.delete(spark, "id IN (2, 5)")          # DV path, no rewrite
    dl.merge(
        spark,
        spark.createDataFrame([(6, "Z"), (7, "g")], "id long, val string"),
        keys=["id"],
    )
    expect = [(1, "a"), (3, "c"), (4, "d"), (6, "Z"), (7, "g")]
    assert rows(dl.read(spark)) == expect

    ice = IcebergLiteTable(str(tmp_path / "ice"))
    ice.write(dl.read(spark))
    assert rows(ice.read(spark)) == expect

    back = DeltaLiteTable(str(tmp_path / "roundtrip"))
    back.write(ice.read(spark))
    assert rows(back.read(spark)) == expect


# -- partitioned writes + manifest-only partition pruning -----------------


def test_iceberg_partitioned_day_write_prune_roundtrip(spark, tmp_path):
    """day() hidden partitioning: one distributed partitionBy pass, the
    source timestamp stays in the data files, manifest partition values
    are epoch-day ints, and partition_filter prunes FILES (plan_files
    shrinks) before any parquet is opened."""
    import datetime

    t = IcebergLiteTable(str(tmp_path / "pt"))
    df = spark.createDataFrame(
        [
            (1, "a", "2024-03-01 10:00:00"),
            (2, "b", "2024-03-01 23:59:59"),
            (3, "c", "2024-03-02 00:00:01"),
            (4, "d", "2024-03-03 12:00:00"),
        ],
        "id long, val string, ts string",
    ).selectExpr("id", "val", "CAST(ts AS TIMESTAMP) AS ts")
    t.write(df, partition_by=[("ts", "day")])

    got = t.read(spark)
    assert "ts" in got.columns  # source column present in data files
    assert sorted(r.id for r in got.collect()) == [1, 2, 3, 4]

    files, _ = t.plan_files()
    d0 = (datetime.date(2024, 3, 1) - datetime.date(1970, 1, 1)).days
    assert {f[2]["ts_day"] for f in files} == {d0, d0 + 1, d0 + 2}

    pruned, _ = t.plan_files(partition_filter={"ts_day": d0})
    assert 0 < len(pruned) < len(files)
    assert all(f[2]["ts_day"] == d0 for f in pruned)
    assert sorted(
        r.id
        for r in t.read(spark, partition_filter={"ts_day": d0}).collect()
    ) == [1, 2]
    # collection match
    assert sorted(
        r.id
        for r in t.read(
            spark, partition_filter={"ts_day": [d0, d0 + 2]}
        ).collect()
    ) == [1, 2, 4]
    # callable filter (range predicate over partition values)
    assert sorted(
        r.id
        for r in t.read(
            spark, partition_filter=lambda p: p["ts_day"] > d0
        ).collect()
    ) == [3, 4]


def test_iceberg_partitioned_identity_escapes_and_null(spark, tmp_path):
    """Identity string partitions survive hive-style directory escaping
    (%, /, space) and the null-partition sentinel round-trips as None."""
    t = IcebergLiteTable(str(tmp_path / "pt"))
    df = spark.createDataFrame(
        [(1, "plain"), (2, "with space"), (3, "100%"), (4, None),
         (5, "a/b")],
        "id long, src string",
    )
    t.write(df, partition_by=["src"])
    files, _ = t.plan_files()
    assert {f[2]["src"] for f in files} == {
        "plain", "with space", "100%", None, "a/b"
    }
    assert [
        r.id
        for r in t.read(spark, partition_filter={"src": "a/b"}).collect()
    ] == [5]
    assert [
        r.id
        for r in t.read(spark, partition_filter={"src": None}).collect()
    ] == [4]
    got = t.read(spark)
    assert sorted((r.id, r.src) for r in got.collect()
                  if r.src is not None) == [
        (1, "plain"), (2, "with space"), (3, "100%"), (5, "a/b")
    ]


def test_iceberg_partitioned_append_inherits_spec(spark, tmp_path):
    """Appends inherit the table's partition spec; a conflicting
    explicit partition_by and unknown filter fields refuse loudly."""
    t = IcebergLiteTable(str(tmp_path / "pt"))
    t.write(
        spark.createDataFrame([(1, 10)], "id long, grp int"),
        partition_by=["grp"],
    )
    t.write(spark.createDataFrame([(2, 20)], "id long, grp int"))
    files, _ = t.plan_files()
    assert {f[2]["grp"] for f in files} == {10, 20}
    with pytest.raises(ValueError, match="partition spec"):
        t.write(
            spark.createDataFrame([(3, 30)], "id long, grp int"),
            partition_by=["id"],
        )
    with pytest.raises(IcebergProtocolError, match="partition spec"):
        t.plan_files(partition_filter={"nope": 1})


def test_iceberg_month_transform(spark, tmp_path):
    """month() partition values are months-since-epoch ints."""
    t = IcebergLiteTable(str(tmp_path / "pt"))
    df = spark.createDataFrame(
        [(1, "2024-01-15"), (2, "2024-02-15"), (3, "2024-02-20")],
        "id long, d string",
    ).selectExpr("id", "CAST(d AS DATE) AS d")
    t.write(df, partition_by=[("d", "month")])
    files, _ = t.plan_files()
    m_feb = (2024 - 1970) * 12 + 1
    assert {f[2]["d_month"] for f in files} == {m_feb - 1, m_feb}
    assert sorted(
        r.id
        for r in t.read(
            spark, partition_filter={"d_month": m_feb}
        ).collect()
    ) == [2, 3]


def test_iceberg_unsupported_transform_refused(spark, tmp_path):
    """Unknown transforms / type-mismatched transforms / identity-on-
    timestamp refuse loudly instead of writing a spec this module
    could not plan against."""
    t = IcebergLiteTable(str(tmp_path / "pt"))
    with pytest.raises(IcebergProtocolError, match="transform"):
        t.write(
            spark.createDataFrame([(1,)], "id long"),
            partition_by=[("id", "zorder")],
        )
    with pytest.raises(IcebergProtocolError, match="hour"):
        t.write(
            spark.createDataFrame([(1,)], "id long"),
            partition_by=[("id", "hour")],  # hour needs a timestamp
        )
    with pytest.raises(IcebergProtocolError, match="bucket"):
        t.write(
            spark.createDataFrame([(1.5,)], "x double"),
            partition_by=[("x", "bucket[4]")],  # double not bucketable
        )
    with pytest.raises(IcebergProtocolError, match="truncate"):
        t.write(
            spark.createDataFrame([(1.5,)], "x double"),
            partition_by=[("x", "truncate[2]")],
        )
    with pytest.raises(IcebergProtocolError, match="identity"):
        t.write(
            spark.sql("SELECT CAST('2024-01-01' AS TIMESTAMP) AS ts"),
            partition_by=["ts"],
        )


@pytest.mark.parametrize(
    "partition_by", [None, ["grp"]], ids=["flat", "partitioned"]
)
def test_iceberg_position_delete_write_roundtrip(
    spark, tmp_path, partition_by
):
    """delete(predicate), on a flat and an identity-partitioned table,
    commits a position-delete file (no data-file rewrite): deleted rows
    vanish, prior snapshots stay intact, a second overlapping delete
    stays idempotent, a delete of nothing live commits nothing, and
    appends after a delete are unaffected."""
    t = IcebergLiteTable(str(tmp_path / "pd"))
    s1 = t.write(
        spark.createDataFrame(
            [(i, f"v{i}", i % 3) for i in range(10)],
            "id long, val string, grp int",
        ),
        partition_by=partition_by,
    )
    res = t.delete(spark, "id IN (2, 5, 7)")
    assert res["rows_deleted"] == 3
    assert sorted(r.id for r in t.read(spark).collect()) == [
        0, 1, 3, 4, 6, 8, 9
    ]
    # time travel to before the delete still sees all rows
    assert len(t.read(spark, snapshot_id=s1).collect()) == 10
    # no data file was rewritten
    files, dels = t.plan_files()
    assert len([d for d in dels if d["kind"] == "pos"]) == 1
    # overlapping delete: already-dead rows are excluded from the new
    # delete file, fresh ones land
    res2 = t.delete(spark, "id IN (5, 6)")
    assert res2["rows_deleted"] == 1
    assert sorted(r.id for r in t.read(spark).collect()) == [
        0, 1, 3, 4, 8, 9
    ]
    # a delete matching nothing, or only dead rows, commits nothing
    n_snaps = len(t.snapshots())
    for pred in ("id = 999", "id IN (2, 5)"):
        res3 = t.delete(spark, pred)
        assert res3 == {"snapshot_id": res2["snapshot_id"],
                        "rows_deleted": 0, "files_touched": 0}
    assert len(t.snapshots()) == n_snaps
    # append after deletes: new rows visible, tombstones still applied
    t.write(
        spark.createDataFrame(
            [(100, "x", 1)], "id long, val string, grp int"
        ),
        mode="append",
    )
    assert sorted(r.id for r in t.read(spark).collect()) == [
        0, 1, 3, 4, 8, 9, 100
    ]


def test_iceberg_delete_on_partitioned_table(spark, tmp_path):
    """Position deletes compose with hidden partitioning: pruned reads
    still apply the tombstones of surviving files."""
    t = IcebergLiteTable(str(tmp_path / "pdp"))
    t.write(
        spark.createDataFrame(
            [(1, 10), (2, 10), (3, 10), (4, 20), (5, 20)],
            "id long, grp int",
        ),
        partition_by=["grp"],
    )
    res = t.delete(spark, "id IN (2, 4)")
    assert res["rows_deleted"] == 2
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 3, 5]
    assert sorted(
        r.id
        for r in t.read(spark, partition_filter={"grp": 10}).collect()
    ) == [1, 3]


def test_iceberg_rewrite_data_files_folds_deletes(spark, tmp_path):
    """Compaction: small appends + position deletes converge to few
    clean files — tombstones folded in, pure-pos delete manifests
    dropped, row set identical, history time-travelable."""
    t = IcebergLiteTable(str(tmp_path / "rw"))
    for lo in (0, 10, 20):
        t.write(
            spark.createDataFrame(
                [(lo + i, f"v{lo + i}") for i in range(5)],
                "id long, val string",
            ).coalesce(1),
            mode="append",
        )
    t.delete(spark, "id IN (1, 11, 21)")
    before = sorted(r.id for r in t.read(spark).collect())
    files_before, dels_before = t.plan_files()
    assert len(files_before) >= 3 and dels_before

    res = t.rewrite_data_files(spark, target_file_bytes=128 << 20)
    assert res["rewritten_files"] >= 3 and res["new_files"] < len(
        files_before
    )
    files_after, dels_after = t.plan_files()
    assert len(files_after) < len(files_before)
    assert dels_after == []  # pos tombstones folded and dropped
    assert sorted(r.id for r in t.read(spark).collect()) == before
    # pre-compaction snapshots still read (with their tombstones)
    assert sorted(
        r.id for r in t.read(spark, snapshot_id=res["snapshot_id"] - 1)
        .collect()
    ) == before
    # appends continue cleanly after compaction
    t.write(
        spark.createDataFrame([(99, "z")], "id long, val string"),
        mode="append",
    )
    assert 99 in {r.id for r in t.read(spark).collect()}
    # compaction with nothing to do is a no-op commit-wise
    res2 = t.rewrite_data_files(spark, target_file_bytes=1)
    assert res2["new_files"] == 0


def test_iceberg_rewrite_respects_partitions(spark, tmp_path):
    """Compaction never merges across partition tuples: partition
    pruning still works afterwards."""
    t = IcebergLiteTable(str(tmp_path / "rwp"))
    for batch in range(3):
        t.write(
            spark.createDataFrame(
                [(batch * 10 + i, 10 + i % 2) for i in range(4)],
                "id long, grp int",
            ),
            mode="append",
            partition_by=["grp"] if batch == 0 else None,
        )
    res = t.rewrite_data_files(spark, target_file_bytes=128 << 20)
    assert res["new_files"] >= 2  # at least one file per partition
    files, _ = t.plan_files()
    assert {f[2]["grp"] for f in files} == {10, 11}
    assert sorted(
        r.id
        for r in t.read(spark, partition_filter={"grp": 10}).collect()
    ) == [0, 2, 10, 12, 20, 22]
    assert len({f[2]["grp"] for f in files for _ in [f]}) == 2


def test_iceberg_field_id_resolution_rename_and_add(spark, tmp_path):
    """Schema evolution reads: a column RENAMED after old files were
    written resolves by parquet field-id (old physical name, correct
    data — not the all-NULL misread of a by-name projection), and a
    column ADDED later reads as NULL from pre-add files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path / "ev"
    mdir = root / "metadata"
    ddir = root / "data"
    mdir.mkdir(parents=True)
    ddir.mkdir()

    def fld(name, typ, fid):
        return pa.field(
            name, typ, metadata={b"PARQUET:field_id": str(fid).encode()}
        )

    # old file: written BEFORE the rename (physical name "id") and
    # BEFORE column 3 existed
    old = str(ddir / "old.parquet")
    pq.write_table(
        pa.table(
            [pa.array([1, 2], pa.int64()), pa.array(["a", "b"])],
            schema=pa.schema(
                [fld("id", pa.int64(), 1), fld("val", pa.string(), 2)]
            ),
        ),
        old,
    )
    # new file: post-rename physical name, has the added column
    new = str(ddir / "new.parquet")
    pq.write_table(
        pa.table(
            [
                pa.array([3], pa.int64()),
                pa.array(["c"]),
                pa.array([30], pa.int64()),
            ],
            schema=pa.schema(
                [
                    fld("ident", pa.int64(), 1),
                    fld("val", pa.string(), 2),
                    fld("score", pa.int64(), 3),
                ]
            ),
        ),
        new,
    )

    m1 = str(mdir / "m1.avro")
    write_container(
        m1, _MANIFEST_SCHEMA, [_entry(old), _entry(new)]
    )
    ml = str(mdir / "snap-1-manifest-list.avro")
    write_container(
        ml, _MANIFEST_LIST_SCHEMA, [_manifest_list_row(m1, 0)]
    )
    meta = {
        "format-version": 2,
        "table-uuid": "00000000-0000-0000-0000-0000000000ff",
        "location": str(root),
        "last-sequence-number": 1,
        "last-updated-ms": 1700000000000,
        "last-column-id": 3,
        "current-schema-id": 0,
        # CURRENT schema: field 1 renamed to "ident", field 3 added
        "schemas": [{"type": "struct", "schema-id": 0, "fields": [
            {"id": 1, "name": "ident", "required": False, "type": "long"},
            {"id": 2, "name": "val", "required": False, "type": "string"},
            {"id": 3, "name": "score", "required": False, "type": "long"},
        ]}],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "last-partition-id": 999,
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "current-snapshot-id": 1,
        "snapshots": [
            {"snapshot-id": 1, "sequence-number": 1,
             "timestamp-ms": 1700000000000,
             "manifest-list": ml,
             "summary": {"operation": "append"}},
        ],
        "snapshot-log": [
            {"timestamp-ms": 1700000000000, "snapshot-id": 1}
        ],
        "metadata-log": [],
    }
    with open(mdir / "v1.metadata.json", "w") as fh:
        json.dump(meta, fh)
    with open(mdir / "version-hint.text", "w") as fh:
        fh.write("1")

    t = IcebergLiteTable(str(root))
    got = sorted(
        (r.ident, r.val, r.score) for r in t.read(spark).collect()
    )
    assert got == [(1, "a", None), (2, "b", None), (3, "c", 30)]
    assert t.read(spark).columns == ["ident", "val", "score"]


def test_iceberg_bucket_transform_write_prune_roundtrip(spark, tmp_path):
    """Round 5: bucket[N] hidden partitioning — partition values are
    the spec's (murmur3 & Int.MAX) % N (validated against the
    Appendix-B Python twin), manifest pruning serves a point lookup
    from ONLY that bucket's files, and the source column stays in the
    data files."""
    from data_lakehouse_platform_spark.sources.iceberg_lite import (
        bucket_partition_value,
    )

    t = IcebergLiteTable(str(tmp_path / "bt"))
    rows = [(i, f"u{i % 7}") for i in range(40)]
    df = spark.createDataFrame(rows, "id long, u string")
    t.write(df, partition_by=[("id", "bucket[4]")])
    files, _ = t.plan_files()
    # every manifest partition value matches the Python twin's bucket
    assert {f[2]["id_bucket"] for f in files} <= {0, 1, 2, 3}
    # point lookup: prune to one bucket, then filter exactly
    target = 17
    b = bucket_partition_value(target, 4, "long")
    pruned, _ = t.plan_files(partition_filter={"id_bucket": b})
    assert 0 < len(pruned) < len(files)
    got = t.read(spark, partition_filter={"id_bucket": b}).filter(
        f"id = {target}"
    )
    assert [r.u for r in got.collect()] == [f"u{target % 7}"]
    # full read agrees with the source, and buckets are CORRECT:
    # recompute each row's bucket and check it matches its file's
    back = t.read(spark)
    assert sorted((r.id, r.u) for r in back.collect()) == sorted(rows)
    by_bucket = {}
    for p, _s, part in files:
        by_bucket.setdefault(part["id_bucket"], []).append(p)
    for r in rows:
        want = bucket_partition_value(r[0], 4, "long")
        hit = t.read(
            spark, partition_filter={"id_bucket": want}
        ).filter(f"id = {r[0]}")
        assert hit.count() == 1  # the row lives in its computed bucket


def test_iceberg_bucket_string_and_append(spark, tmp_path):
    from data_lakehouse_platform_spark.sources.iceberg_lite import (
        bucket_partition_value,
    )

    t = IcebergLiteTable(str(tmp_path / "bs"))
    df = spark.createDataFrame(
        [(1, "iceberg"), (2, "spark"), (3, None)], "id long, s string"
    )
    t.write(df, partition_by=[("s", "bucket[16]")])
    files, _ = t.plan_files()
    vals = {f[2]["s_bucket"] for f in files}
    assert bucket_partition_value("iceberg", 16, "string") in vals
    assert None in vals  # NULL source -> NULL partition value
    # appends inherit the bucket spec
    t.write(
        spark.createDataFrame([(4, "iceberg")], "id long, s string"),
        mode="append",
    )
    b = bucket_partition_value("iceberg", 16, "string")
    got = t.read(spark, partition_filter={"s_bucket": b}).filter(
        "s = 'iceberg'"
    )
    assert sorted(r.id for r in got.collect()) == [1, 4]


def test_iceberg_truncate_transform_write_prune(spark, tmp_path):
    """truncate[W]: integer floor-to-multiple (negatives exact) and
    string prefix, both pruneable from manifests."""
    t = IcebergLiteTable(str(tmp_path / "tt"))
    df = spark.createDataFrame(
        [(-15, "apple"), (-10, "apricot"), (7, "banana"), (23, "berry")],
        "v long, w string",
    )
    t.write(df, partition_by=[("v", "truncate[10]"), ("w", "truncate[2]")])
    files, _ = t.plan_files()
    parts = {(f[2]["v_trunc"], f[2]["w_trunc"]) for f in files}
    assert parts == {(-20, "ap"), (-10, "ap"), (0, "ba"), (20, "be")}
    got = t.read(spark, partition_filter={"w_trunc": "ap"})
    assert sorted(r.v for r in got.collect()) == [-15, -10]
    got = t.read(spark, partition_filter={"v_trunc": -20})
    assert [r.w for r in got.collect()] == ["apple"]


def test_iceberg_mass_delete_shards_delete_files(spark, tmp_path):
    """Round 5: a mass delete range-shards its position-delete rows
    into multiple files (no single-whale task), manifests carry every
    shard, and the read applies them all."""
    t = IcebergLiteTable(str(tmp_path / "md"))
    df = spark.range(0, 1000).selectExpr("id", "id % 10 AS k")
    t.write(df.repartition(4))
    old = IcebergLiteTable.ROWS_PER_DELETE_FILE
    IcebergLiteTable.ROWS_PER_DELETE_FILE = 100
    try:
        res = t.delete(spark, "k < 5")  # 500 rows -> 5 shards
    finally:
        IcebergLiteTable.ROWS_PER_DELETE_FILE = old
    assert res["rows_deleted"] == 500
    _files, deletes = t.plan_files()
    pos = [d for d in deletes if d["kind"] == "pos"]
    assert len(pos) >= 2, "mass delete must shard into multiple files"
    got = t.read(spark)
    assert got.count() == 500
    assert got.filter("k < 5").count() == 0
    # a second surgical delete still composes
    t.delete(spark, "id = 998")
    assert t.read(spark).count() == 499


def test_iceberg_append_preserves_manifest_provenance(spark, tmp_path):
    """Round 5 (ADVICE): carrying a manifest into a new snapshot's
    list preserves its ORIGINAL added_snapshot_id / sequence numbers —
    external incremental scans attribute files by these."""
    from data_lakehouse_platform_spark.sources.avro_lite import (
        read_container,
    )
    from data_lakehouse_platform_spark.sources.iceberg_lite import (
        _local_path,
    )

    t = IcebergLiteTable(str(tmp_path / "prov"))
    s1 = t.write(spark.createDataFrame([(1,)], "id long"))
    s2 = t.write(
        spark.createDataFrame([(2,)], "id long"), mode="append"
    )
    snap2 = next(
        s for s in t.snapshots() if int(s["snapshot-id"]) == s2
    )
    _, rows = read_container(_local_path(snap2["manifest-list"]))
    by_snap = {int(r["added_snapshot_id"]): r for r in rows}
    assert set(by_snap) == {s1, s2}, (
        "carried manifest must keep its ORIGINAL added_snapshot_id"
    )
    carried = by_snap[s1]
    assert int(carried["sequence_number"]) == 1
    assert int(carried["min_sequence_number"]) == 1  # not re-zeroed
    assert int(carried["added_files_count"]) >= 1  # counts verbatim
    # delete commits also carry provenance verbatim
    t.delete(spark, "id = 1")
    snap3 = t.snapshots()[-1]
    _, rows3 = read_container(_local_path(snap3["manifest-list"]))
    assert {int(r["added_snapshot_id"]) for r in rows3} == {
        s1, s2, int(snap3["snapshot-id"])
    }


def test_iceberg_year_and_hour_transforms(spark, tmp_path):
    """year()/hour() hidden partitioning: years from 1970 and hours
    from epoch (exact integer floor division), both manifest-pruneable."""
    t = IcebergLiteTable(str(tmp_path / "yh"))
    df = spark.createDataFrame(
        [
            (1, "2023-12-31 23:30:00"),
            (2, "2024-01-01 00:30:00"),
            (3, "2024-01-01 01:30:00"),
        ],
        "id long, ts string",
    ).selectExpr("id", "CAST(ts AS TIMESTAMP) AS ts")
    t.write(df, partition_by=[("ts", "year"), ("ts", "hour")])
    files, _ = t.plan_files()
    years = {f[2]["ts_year"] for f in files}
    assert years == {53, 54}  # 2023, 2024
    import datetime as _dt

    h0 = int(
        _dt.datetime(
            2024, 1, 1, 0, tzinfo=_dt.timezone.utc
        ).timestamp() // 3600
    )
    hours = {f[2]["ts_hour"] for f in files}
    assert h0 in hours and (h0 - 1) in hours and (h0 + 1) in hours
    got = t.read(spark, partition_filter={"ts_year": 54})
    assert sorted(r.id for r in got.collect()) == [2, 3]
    got = t.read(spark, partition_filter={"ts_hour": h0})
    assert [r.id for r in got.collect()] == [2]


def test_iceberg_v3_write_refused(spark, tmp_path):
    """A format-version 3 table refuses WRITES (r10: reads work when
    no v3 construct is in play) — committing v2-shaped snapshots into
    a v3 table would silently violate row lineage."""
    import json as _json

    t = IcebergLiteTable(str(tmp_path / "v3w"))
    t.write(spark.createDataFrame([(1,)], "id long"))
    mf = t._resolve_metadata_file()
    meta = _json.load(open(mf))
    meta["format-version"] = 3
    with open(mf, "w") as fh:
        _json.dump(meta, fh)
    with pytest.raises(IcebergProtocolError, match="refuses to COMMIT"):
        t.write(spark.createDataFrame([(2,)], "id long"), mode="append")
    # reads keep working (no v3 construct in play)
    assert t.read(spark).count() == 1


def test_commits_keep_materialized_main_ref_in_sync(spark, tmp_path):
    """A table whose metadata carries a ``refs.main`` entry (as other
    Iceberg writers materialize it) keeps that ref on the current
    snapshot through every sink verb's commit — append, delete,
    upsert and compaction alike — so a ref-resolving reader never sees
    a stale main."""
    t = IcebergLiteTable(str(tmp_path / "refs"))
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string"))
    meta = t.metadata()
    meta["refs"] = {
        "main": {"snapshot-id": t.current_snapshot_id(), "type": "branch"}
    }
    t._commit_metadata_json(meta)

    def main_ref():
        return t.metadata()["refs"]["main"]["snapshot-id"]

    t.write(spark.createDataFrame([(3, "c")], "id int, v string"),
            mode="append")
    assert main_ref() == t.current_snapshot_id()
    t.delete(spark, "id = 1")
    assert main_ref() == t.current_snapshot_id()
    t.upsert(spark, spark.createDataFrame([(2, "B")], "id int, v string"),
             keys=["id"])
    assert main_ref() == t.current_snapshot_id()
    t.rewrite_data_files(spark)
    assert main_ref() == t.current_snapshot_id()
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [
        (2, "B"), (3, "c")
    ]
