"""Dependency-free Delta protocol-v1 interop: log-replay reads,
append/overwrite commit atomicity, time travel, partition values from
the log, and loud refusal of unsupported protocol versions."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from data_lakehouse_platform_spark.sources.delta_lite import (
    DeltaLiteTable,
    DeltaProtocolError,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id int, val string")


def test_first_commit_writes_protocol_and_metadata(spark, tmp_path):
    t = DeltaLiteTable(str(tmp_path / "t"))
    v = t.write(_df(spark, [(1, "a")]))
    assert v == 0  # Delta versions start at 0
    log = os.path.join(t.log_dir, f"{0:020d}.json")
    actions = [json.loads(line) for line in open(log)]
    kinds = [next(iter(a)) for a in actions]
    assert kinds[0] == "commitInfo"
    assert "protocol" in kinds and "metaData" in kinds and "add" in kinds
    proto = next(a["protocol"] for a in actions if "protocol" in a)
    assert proto == {"minReaderVersion": 1, "minWriterVersion": 2}
    meta = next(a["metaData"] for a in actions if "metaData" in a)
    # schemaString is the Spark StructType JSON — round-trips losslessly
    assert json.loads(meta["schemaString"])["type"] == "struct"
    adds = [a["add"] for a in actions if "add" in a]
    assert all(not a["path"].startswith("/") for a in adds)  # relative paths


def test_append_overwrite_and_time_travel(spark, tmp_path):
    t = DeltaLiteTable(str(tmp_path / "t"))
    v0 = t.write(_df(spark, [(1, "a")]))
    v1 = t.write(_df(spark, [(2, "b")]), mode="append")
    v2 = t.write(_df(spark, [(9, "z")]), mode="overwrite")
    assert (v0, v1, v2) == (0, 1, 2)

    def vals(version=None):
        return sorted(
            (r.id, r.val) for r in t.read(spark, version=version).collect()
        )

    assert vals(0) == [(1, "a")]
    assert vals(1) == [(1, "a"), (2, "b")]  # append keeps prior adds
    assert vals(2) == [(9, "z")]  # overwrite removes them in ONE commit
    assert vals() == [(9, "z")]  # latest

    # timestampAsOf: commit timestamps are in the log's commitInfo
    hist = t.history()
    assert [h["version"] for h in hist] == [0, 1, 2]
    ts1 = hist[1]["timestamp"]
    got = sorted(
        (r.id, r.val) for r in t.read(spark, as_of_ts_ms=ts1).collect()
    )
    assert got == [(1, "a"), (2, "b")]


def test_partition_values_come_from_log(spark, tmp_path):
    t = DeltaLiteTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, "x", "2024-01"), (2, "y", "2024-02"), (3, "z", "2024-01")],
        "id int, val string, month string",
    )
    t.write(df, partition_by=["month"])
    back = t.read(spark)
    assert back.columns == ["id", "val", "month"]  # schema order preserved
    got = sorted((r.id, r.month) for r in back.collect())
    assert got == [(1, "2024-01"), (2, "2024-02"), (3, "2024-01")]
    # appends must keep the table's partition spec
    with pytest.raises(ValueError, match="partition spec"):
        t.write(df, mode="append", partition_by=["val"])


def test_commit_put_if_absent_race(spark, tmp_path):
    """Losing the version race retries onto the next slot (the LogStore
    put-if-absent contract); both commits survive."""
    t = DeltaLiteTable(str(tmp_path / "t"))
    t.write(_df(spark, [(1, "a")]))
    # foreign writer claims version 1 directly
    os.makedirs(t.log_dir, exist_ok=True)
    with open(os.path.join(t.log_dir, f"{1:020d}.json"), "w") as fh:
        fh.write(json.dumps({"commitInfo": {"timestamp": 0}}) + "\n")
    v = t.write(_df(spark, [(2, "b")]), mode="append")
    assert v == 2
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 2]


def test_unsupported_protocol_refused_loudly(spark, tmp_path):
    t = DeltaLiteTable(str(tmp_path / "t"))
    t.write(_df(spark, [(1, "a")]))
    # a later commit upgrades the table to reader v3 with a feature this
    # reader does not speak — reading would silently narrow values; refuse.
    with open(os.path.join(t.log_dir, f"{1:020d}.json"), "w") as fh:
        fh.write(
            json.dumps(
                {
                    "protocol": {
                        "minReaderVersion": 3,
                        "minWriterVersion": 7,
                        "readerFeatures": ["typeWidening"],
                    }
                }
            )
            + "\n"
        )
    with pytest.raises(DeltaProtocolError, match="typeWidening"):
        t.read(spark)


def test_v3_deletion_vectors_feature_accepted(spark, tmp_path):
    """deletionVectors is a SUPPORTED reader feature now: the v3
    protocol upgrade alone (no actual DVs yet) must not refuse."""
    t = DeltaLiteTable(str(tmp_path / "t"))
    t.write(_df(spark, [(1, "a")]))
    with open(os.path.join(t.log_dir, f"{1:020d}.json"), "w") as fh:
        fh.write(
            json.dumps(
                {
                    "protocol": {
                        "minReaderVersion": 3,
                        "minWriterVersion": 7,
                        "readerFeatures": ["deletionVectors"],
                    }
                }
            )
            + "\n"
        )
    assert [r.id for r in t.read(spark).collect()] == [1]


def test_v3_without_feature_list_refused(spark, tmp_path):
    t = DeltaLiteTable(str(tmp_path / "t"))
    t.write(_df(spark, [(1, "a")]))
    with open(os.path.join(t.log_dir, f"{1:020d}.json"), "w") as fh:
        fh.write(
            json.dumps(
                {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7}}
            )
            + "\n"
        )
    with pytest.raises(DeltaProtocolError, match="malformed"):
        t.read(spark)


def test_unknown_reader_version_refused(spark, tmp_path):
    t = DeltaLiteTable(str(tmp_path / "t"))
    t.write(_df(spark, [(1, "a")]))
    with open(os.path.join(t.log_dir, f"{1:020d}.json"), "w") as fh:
        fh.write(
            json.dumps(
                {"protocol": {"minReaderVersion": 4, "minWriterVersion": 9}}
            )
            + "\n"
        )
    with pytest.raises(DeltaProtocolError, match="minReaderVersion=4"):
        t.read(spark)


def test_schema_mismatch_rejected(spark, tmp_path):
    t = DeltaLiteTable(str(tmp_path / "t"))
    t.write(_df(spark, [(1, "a")]))
    other = spark.createDataFrame([(1, 2.5)], "id int, val double")
    with pytest.raises(ValueError, match="schema differs"):
        t.write(other, mode="append")


def test_reader_ignores_orphan_staging_data(spark, tmp_path):
    """A crashed writer leaves staged parquet with NO add action; the
    log replay must not surface those rows (manifest is truth)."""
    t = DeltaLiteTable(str(tmp_path / "t"))
    t.write(_df(spark, [(1, "a")]))
    _df(spark, [(99, "orphan")]).write.parquet(
        os.path.join(t.path, "part-deadbeef0000")
    )
    assert sorted(r.id for r in t.read(spark).collect()) == [1]


def test_overwrite_lost_race_aborts_not_corrupts(spark, tmp_path):
    """An overwrite whose remove list was computed against a stale
    snapshot must ABORT on a lost commit race (Delta's concurrent-
    modification semantics), never blind-retry one slot later."""
    import os
    import pytest
    from data_lakehouse_platform_spark.sources.commit_backend import (
        ConcurrentModificationError,
    )

    t = DeltaLiteTable(str(tmp_path / "race"))
    t.write(spark.createDataFrame([(1, "a")], "k bigint, s string"))
    # Simulate the race window: our overwrite reads latest=0, and
    # ANOTHER writer lands version 1 before our O_EXCL commit. Freeze
    # this table object's view of "latest" at 0, then create v1 behind
    # its back.
    t.latest_version = lambda: 0  # stale snapshot view
    nxt = os.path.join(str(tmp_path / "race"), "_delta_log", f"{1:020d}.json")
    open(nxt, "w").close()
    with pytest.raises(ConcurrentModificationError):
        t.write(
            spark.createDataFrame([(9, "z")], "k bigint, s string"),
            mode="overwrite",
        )


def test_append_lost_race_retries_safely(spark, tmp_path):
    import os

    t = DeltaLiteTable(str(tmp_path / "appendrace"))
    t.write(spark.createDataFrame([(1, "a")], "k bigint, s string"))
    # a concurrent append takes version 1: our append must slide to 2
    log = os.path.join(str(tmp_path / "appendrace"), "_delta_log")
    with open(os.path.join(log, f"{1:020d}.json"), "w") as fh:
        fh.write("")  # empty commit: adds nothing
    v = t.write(
        spark.createDataFrame([(2, "b")], "k bigint, s string"), mode="append"
    )
    assert v == 2
    got = t.read(spark)
    assert sorted(r.k for r in got.collect()) == [1, 2]


def test_timestamp_travel_without_commitinfo(spark, tmp_path):
    """commitInfo is optional in the Delta protocol: versions lacking
    it fall back to log-file mtime for timestampAsOf resolution."""
    import json as _json
    import os
    import time

    t = DeltaLiteTable(str(tmp_path / "nocommitinfo"))
    t.write(spark.createDataFrame([(1, "a")], "k bigint, s string"))
    # strip commitInfo from the commit, as another engine might
    log = os.path.join(str(tmp_path / "nocommitinfo"), "_delta_log")
    f0 = os.path.join(log, f"{0:020d}.json")
    actions = [
        _json.loads(l) for l in open(f0) if l.strip()
    ]
    with open(f0, "w") as fh:
        for a in actions:
            if "commitInfo" not in a:
                fh.write(_json.dumps(a) + "\n")
    now_ms = int(time.time() * 1000) + 60_000
    got = t.read(spark, as_of_ts_ms=now_ms)
    assert [r.k for r in got.collect()] == [1]


def test_partition_values_single_task_multi_partition(spark, tmp_path):
    """One task writing several hive partitions emits IDENTICAL part-file
    basenames in different directories; partition reattachment must key on
    the full relative path, not the basename (round-2 ADVICE high)."""
    t = DeltaLiteTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, "p1"), (2, "p2"), (3, "p3")], "id int, k string"
    ).coalesce(1)  # force a single task → duplicate basenames across dirs
    t.write(df, partition_by=["k"])
    got = sorted((r.id, r.k) for r in t.read(spark).collect())
    assert got == [(1, "p1"), (2, "p2"), (3, "p3")]


def test_partition_values_decoded_and_null(spark, tmp_path):
    """Hive-escaped segment values must be stored DECODED in
    add.partitionValues ('x%3Ay' → 'x:y') and '__HIVE_DEFAULT_PARTITION__'
    as null, per the Delta protocol (round-2 ADVICE medium)."""
    t = DeltaLiteTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, "x:y"), (2, "a b"), (3, None)], "id int, k string"
    )
    t.write(df, partition_by=["k"])
    # the log stores decoded values / null
    log = os.path.join(t.log_dir, f"{0:020d}.json")
    pvals = [
        json.loads(line)["add"]["partitionValues"]
        for line in open(log)
        if "add" in json.loads(line)
    ]
    stored = sorted((pv["k"] is None, pv["k"]) for pv in pvals)
    assert {pv["k"] for pv in pvals} == {"x:y", "a b", None}, stored
    # and the read surface round-trips them
    got = sorted(
        ((r.id, r.k) for r in t.read(spark).collect()),
        key=lambda x: x[0],
    )
    assert got == [(1, "x:y"), (2, "a b"), (3, None)]


def test_checkpoint_and_log_cleanup(spark, tmp_path):
    """checkpoint() writes the spec-shaped parquet + _last_checkpoint;
    clean_log() then drops the covered JSON commits, and every read at
    or after the checkpoint still reconstructs exactly — reads before
    it fail loudly instead of returning partial history."""
    import pytest

    t = DeltaLiteTable(str(tmp_path / "t"))
    t.write(_df(spark, [(1, "a")]))                       # v0
    t.write(_df(spark, [(2, "b")]))                       # v1 append
    t.write(_df(spark, [(3, "c")]), mode="overwrite")     # v2 overwrite
    cp = t.checkpoint()
    assert cp == 2
    assert os.path.exists(os.path.join(t.log_dir, f"{2:020d}.checkpoint.parquet"))
    lc = json.load(open(os.path.join(t.log_dir, "_last_checkpoint")))
    assert lc["version"] == 2

    before = sorted((r.id, r.val) for r in t.read(spark).collect())
    removed = t.clean_log()
    assert removed == [0, 1, 2]
    # latest still reads purely from the checkpoint
    assert sorted((r.id, r.val) for r in t.read(spark).collect()) == before
    assert t.latest_version() == 2
    # a commit AFTER cleanup continues the version chain from the checkpoint
    v3 = t.write(_df(spark, [(4, "d")]))
    assert v3 == 3
    assert sorted(r.id for r in t.read(spark).collect()) == [3, 4]
    # pre-checkpoint history is genuinely gone -> loud failure
    with pytest.raises(FileNotFoundError):
        t.read(spark, version=1)


def test_checkpoint_with_partitions_and_null_values(spark, tmp_path):
    """Checkpointed add.partitionValues round-trip as a nullable-value
    map: decoded strings stay decoded, null stays null."""
    t = DeltaLiteTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, "x:y"), (2, None), (3, "p")], "id int, k string"
    )
    t.write(df, partition_by=["k"])
    t.checkpoint()
    t.clean_log()
    got = sorted(
        ((r.id, r.k) for r in t.read(spark).collect()), key=lambda x: x[0]
    )
    assert got == [(1, "x:y"), (2, None), (3, "p")]


def test_checkpoint_then_more_commits(spark, tmp_path):
    """Reads past the checkpoint seed from it and replay only the JSON
    tail; time travel to the checkpoint version itself still works."""
    t = DeltaLiteTable(str(tmp_path / "t"))
    t.write(_df(spark, [(1, "a")]))          # v0
    t.write(_df(spark, [(2, "b")]))          # v1
    t.checkpoint(1)
    t.write(_df(spark, [(3, "c")]))          # v2 (JSON tail after cp)
    t.clean_log()
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 2, 3]
    assert sorted(r.id for r in t.read(spark, version=1).collect()) == [1, 2]


def _write_mapped_table(tmp_path, reader_protocol):
    """Hand-craft a column-mapped Delta table the way delta-spark with
    columnMapping.mode=name lays it out: physical col-<uuid> parquet
    columns and physical-keyed partitionValues; logical names live
    only in the schema metadata."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path / "mapped"
    log = root / "_delta_log"
    log.mkdir(parents=True)
    p_id, p_val, p_k = "col-11111111", "col-22222222", "col-33333333"

    (root / "k=x").mkdir()
    (root / "k=y").mkdir()
    pq.write_table(
        pa.table({p_id: pa.array([1, 2], pa.int32()),
                  p_val: pa.array(["a", "b"])}),
        root / "k=x" / "part-0.parquet",
    )
    pq.write_table(
        pa.table({p_id: pa.array([3], pa.int32()),
                  p_val: pa.array(["c"])}),
        root / "k=y" / "part-1.parquet",
    )

    schema = {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "integer", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": p_id}},
            {"name": "val", "type": "string", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": p_val}},
            {"name": "k", "type": "string", "nullable": True,
             "metadata": {"delta.columnMapping.id": 3,
                          "delta.columnMapping.physicalName": p_k}},
        ],
    }
    actions = [
        {"protocol": reader_protocol},
        {"metaData": {
            "id": "00000000-0000-0000-0000-000000000001",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema),
            "partitionColumns": ["k"],
            "configuration": {
                "delta.columnMapping.mode": "name",
                "delta.columnMapping.maxColumnId": "3",
            },
        }},
        {"add": {"path": "k=x/part-0.parquet",
                 "partitionValues": {p_k: "x"},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
        {"add": {"path": "k=y/part-1.parquet",
                 "partitionValues": {p_k: "y"},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ]
    with open(log / f"{0:020d}.json", "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions) + "\n")
    return str(root)


def test_column_mapping_read_v2(spark, tmp_path):
    path = _write_mapped_table(
        tmp_path, {"minReaderVersion": 2, "minWriterVersion": 5}
    )
    got = DeltaLiteTable(path).read(spark)
    assert got.columns == ["id", "val", "k"]
    rows = {(r.id, r.val, r.k) for r in got.collect()}
    assert rows == {(1, "a", "x"), (2, "b", "x"), (3, "c", "y")}


def test_column_mapping_read_v3_feature(spark, tmp_path):
    path = _write_mapped_table(
        tmp_path,
        {"minReaderVersion": 3, "minWriterVersion": 7,
         "readerFeatures": ["columnMapping"]},
    )
    got = DeltaLiteTable(path).read(spark)
    assert {(r.id, r.val, r.k) for r in got.collect()} == {
        (1, "a", "x"), (2, "b", "x"), (3, "c", "y")
    }


def test_column_mapping_nested_struct_fields(spark, tmp_path):
    """physicalName metadata applies at EVERY nesting level (Delta spec):
    a renamed field inside a struct — and inside an array of structs —
    must surface under its logical name with its real values, not NULLs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path / "nested"
    log = root / "_delta_log"
    log.mkdir(parents=True)
    pq.write_table(
        pa.table({
            "col-top": pa.array(
                [{"col-inner-a": 7, "col-inner-b": "x"},
                 {"col-inner-a": 8, "col-inner-b": "y"}],
                pa.struct([("col-inner-a", pa.int64()),
                           ("col-inner-b", pa.string())])),
            "col-arr": pa.array(
                [[{"col-e": 1}, {"col-e": 2}], [{"col-e": 3}]],
                pa.list_(pa.struct([("col-e", pa.int64())]))),
        }),
        root / "part-0.parquet",
    )
    schema = {
        "type": "struct",
        "fields": [
            {"name": "top", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-top"},
             "type": {"type": "struct", "fields": [
                 {"name": "a", "type": "long", "nullable": True,
                  "metadata": {"delta.columnMapping.id": 2,
                               "delta.columnMapping.physicalName":
                               "col-inner-a"}},
                 {"name": "b", "type": "string", "nullable": True,
                  "metadata": {"delta.columnMapping.id": 3,
                               "delta.columnMapping.physicalName":
                               "col-inner-b"}},
             ]}},
            {"name": "arr", "nullable": True,
             "metadata": {"delta.columnMapping.id": 4,
                          "delta.columnMapping.physicalName": "col-arr"},
             "type": {"type": "array", "containsNull": True,
                      "elementType": {"type": "struct", "fields": [
                          {"name": "e", "type": "long", "nullable": True,
                           "metadata": {
                               "delta.columnMapping.id": 5,
                               "delta.columnMapping.physicalName": "col-e"}},
                      ]}}},
        ],
    }
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {
            "id": "00000000-0000-0000-0000-00000000000e",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema),
            "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": "name",
                              "delta.columnMapping.maxColumnId": "5"},
        }},
        {"add": {"path": "part-0.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ]
    with open(log / f"{0:020d}.json", "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions) + "\n")

    got = DeltaLiteTable(str(root)).read(spark)
    rows = sorted(got.collect(), key=lambda r: r.top.a)
    assert [(r.top.a, r.top.b, [e.e for e in r.arr]) for r in rows] == [
        (7, "x", [1, 2]), (8, "y", [3])
    ]


def test_column_mapping_name_swap_atomic(spark, tmp_path):
    """One column's LOGICAL name equals another's PHYSICAL name (tables
    upgraded to columnMapping keep originals as physical names; a later
    rename creates the overlap).  Stepwise renames would corrupt this;
    the atomic projection must not."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path / "swap"
    log = root / "_delta_log"
    log.mkdir(parents=True)
    # physical 'a' holds ints, physical 'b' holds strings; logically the
    # table renamed a->b and b->a (a full swap).
    pq.write_table(
        pa.table({"a": pa.array([1, 2], pa.int64()),
                  "b": pa.array(["p", "q"])}),
        root / "part-0.parquet",
    )
    schema = {
        "type": "struct",
        "fields": [
            {"name": "b", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "a"}},
            {"name": "a", "type": "string", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "b"}},
        ],
    }
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {
            "id": "00000000-0000-0000-0000-00000000000f",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema),
            "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": "name",
                              "delta.columnMapping.maxColumnId": "2"},
        }},
        {"add": {"path": "part-0.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ]
    with open(log / f"{0:020d}.json", "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions) + "\n")

    got = DeltaLiteTable(str(root)).read(spark)
    assert got.columns == ["b", "a"]
    assert {(r.b, r.a) for r in got.collect()} == {(1, "p"), (2, "q")}


# -- deletion vectors ---------------------------------------------------

def _serialize_roaring_array(values):
    """Test-side PORTABLE RoaringBitmapArray serializer (array + bitset
    containers, no runs): magic, int64 bitmap count, then per sub-bitmap
    an int32 high-word key + a standard-format 32-bit bitmap."""
    import struct
    from collections import defaultdict

    by_high = defaultdict(list)
    for v in sorted(set(values)):
        by_high[v >> 32].append(v & 0xFFFFFFFF)
    out = bytearray(struct.pack("<iq", 1681511377, len(by_high)))
    for high in sorted(by_high):
        out += struct.pack("<i", high)
        by_key = defaultdict(list)
        for lo in by_high[high]:
            by_key[lo >> 16].append(lo & 0xFFFF)
        n = len(by_key)
        bm = bytearray(struct.pack("<ii", 12346, n))
        for key in sorted(by_key):
            bm += struct.pack("<HH", key, len(by_key[key]) - 1)
        # offset header (always present for cookie 12346)
        off = len(bm) + 4 * n
        payload = bytearray()
        for key in sorted(by_key):
            bm += struct.pack("<I", off)
            vals = by_key[key]
            if len(vals) <= 4096:
                payload += struct.pack(f"<{len(vals)}H", *vals)
                off += 2 * len(vals)
            else:
                words = [0] * 1024
                for v in vals:
                    words[v >> 6] |= 1 << (v & 63)
                payload += struct.pack("<1024Q", *words)
                off += 8192
        out += bm + payload
    return bytes(out)


def _write_dv_table(tmp_path, dv_for_part0):
    """Two-file table; part-0 (ids 1..4) carries the given DV descriptor,
    part-1 (ids 10, 11) has none."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = tmp_path / "dvt"
    log = root / "_delta_log"
    log.mkdir(parents=True)
    pq.write_table(
        pa.table({"id": pa.array([1, 2, 3, 4], pa.int64()),
                  "val": pa.array(["a", "b", "c", "d"])}),
        root / "part-0.parquet",
    )
    pq.write_table(
        pa.table({"id": pa.array([10, 11], pa.int64()),
                  "val": pa.array(["j", "k"])}),
        root / "part-1.parquet",
    )
    schema = {
        "type": "struct",
        "fields": [
            {"name": "id", "type": "long", "nullable": True, "metadata": {}},
            {"name": "val", "type": "string", "nullable": True,
             "metadata": {}},
        ],
    }
    actions = [
        {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                      "readerFeatures": ["deletionVectors"],
                      "writerFeatures": ["deletionVectors"]}},
        {"metaData": {
            "id": "00000000-0000-0000-0000-0000000000dv",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema),
            "partitionColumns": [],
            "configuration": {"delta.enableDeletionVectors": "true"},
        }},
        {"add": {"path": "part-0.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 0, "dataChange": True,
                 "deletionVector": dv_for_part0}},
        {"add": {"path": "part-1.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 0, "dataChange": True}},
    ]
    with open(log / f"{0:020d}.json", "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions) + "\n")
    return root


def test_dv_inline_read(spark, tmp_path):
    """Inline ('i') DV: Z85-encoded portable bitmap in the add action.
    Rows 0 and 2 of part-0 (ids 1, 3) are deleted."""
    from data_lakehouse_platform_spark.sources.delta_lite import z85_encode

    data = _serialize_roaring_array([0, 2])
    pad = (-len(data)) % 4
    dv = {"storageType": "i",
          "pathOrInlineDv": z85_encode(data + b"\x00" * pad),
          "sizeInBytes": len(data), "cardinality": 2}
    root = _write_dv_table(tmp_path, dv)
    got = DeltaLiteTable(str(root)).read(spark)
    assert sorted((r.id, r.val) for r in got.collect()) == [
        (2, "b"), (4, "d"), (10, "j"), (11, "k")
    ]


def test_dv_ondisk_uuid_read(spark, tmp_path):
    """On-disk ('u') DV: `<prefix><z85 uuid>` names
    deletion_vector_<uuid>.bin; the file has a version byte, then at
    `offset` a 4-byte BE size, bitmap bytes, 4-byte BE CRC32.  A decoy
    DV earlier in the same file proves offsets are honored."""
    import uuid as uuidlib
    import zlib

    from data_lakehouse_platform_spark.sources.delta_lite import z85_encode

    dv_uuid = uuidlib.UUID("12345678-1234-5678-1234-567812345678")
    prefix = "ab/"
    data = _serialize_roaring_array([1, 3])  # delete ids 2, 4
    decoy = _serialize_roaring_array([0, 1, 2, 3])

    root = _write_dv_table(tmp_path, None)  # placeholder, rewrite below
    (root / "ab").mkdir()
    bin_path = root / "ab" / f"deletion_vector_{dv_uuid}.bin"
    with open(bin_path, "wb") as fh:
        fh.write(b"\x01")
        fh.write(len(decoy).to_bytes(4, "big") + decoy
                 + (zlib.crc32(decoy) & 0xFFFFFFFF).to_bytes(4, "big"))
        offset = fh.tell()
        fh.write(len(data).to_bytes(4, "big") + data
                 + (zlib.crc32(data) & 0xFFFFFFFF).to_bytes(4, "big"))

    dv = {"storageType": "u",
          "pathOrInlineDv": prefix + z85_encode(dv_uuid.bytes),
          "offset": offset, "sizeInBytes": len(data), "cardinality": 2}
    # rewrite commit 0 with the real descriptor
    log = root / "_delta_log" / f"{0:020d}.json"
    actions = [json.loads(l) for l in open(log)]
    for a in actions:
        if "add" in a and a["add"]["path"] == "part-0.parquet":
            a["add"]["deletionVector"] = dv
    with open(log, "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions) + "\n")

    got = DeltaLiteTable(str(root)).read(spark)
    assert sorted(r.id for r in got.collect()) == [1, 3, 10, 11]


def test_dv_corrupt_checksum_refused(spark, tmp_path):
    import uuid as uuidlib

    from data_lakehouse_platform_spark.sources.delta_lite import z85_encode

    dv_uuid = uuidlib.UUID("12345678-1234-5678-1234-567812345678")
    data = _serialize_roaring_array([0])
    root = _write_dv_table(tmp_path, None)
    bin_path = root / f"deletion_vector_{dv_uuid}.bin"
    with open(bin_path, "wb") as fh:
        fh.write(b"\x01")
        fh.write(len(data).to_bytes(4, "big") + data + b"\x00\x00\x00\x00")
    dv = {"storageType": "u", "pathOrInlineDv": z85_encode(dv_uuid.bytes),
          "offset": 1, "sizeInBytes": len(data), "cardinality": 1}
    log = root / "_delta_log" / f"{0:020d}.json"
    actions = [json.loads(l) for l in open(log)]
    for a in actions:
        if "add" in a and a["add"]["path"] == "part-0.parquet":
            a["add"]["deletionVector"] = dv
    with open(log, "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions) + "\n")
    with pytest.raises(DeltaProtocolError, match="checksum"):
        DeltaLiteTable(str(root)).read(spark).collect()


def test_dv_update_and_checkpoint_roundtrip(spark, tmp_path):
    """A remove + re-add with a GROWN DV (how Delta DELETE advances a
    file's DV) replays to the newest bitmap; a checkpoint + clean_log
    must preserve the descriptor — dropping it would resurrect rows."""
    from data_lakehouse_platform_spark.sources.delta_lite import z85_encode

    def _inline(rows):
        data = _serialize_roaring_array(rows)
        pad = (-len(data)) % 4
        return {"storageType": "i",
                "pathOrInlineDv": z85_encode(data + b"\x00" * pad),
                "sizeInBytes": len(data), "cardinality": len(rows)}

    root = _write_dv_table(tmp_path, _inline([0]))
    t = DeltaLiteTable(str(root))
    assert sorted(r.id for r in t.read(spark).collect()) == [2, 3, 4, 10, 11]

    # commit 1: DELETE grows part-0's DV from {0} to {0, 3}
    actions = [
        {"commitInfo": {"timestamp": 1, "operation": "DELETE"}},
        {"remove": {"path": "part-0.parquet", "deletionTimestamp": 1,
                    "dataChange": True}},
        {"add": {"path": "part-0.parquet", "partitionValues": {},
                 "size": 1, "modificationTime": 1, "dataChange": True,
                 "deletionVector": _inline([0, 3])}},
    ]
    with open(root / "_delta_log" / f"{1:020d}.json", "w") as fh:
        fh.write("\n".join(json.dumps(a) for a in actions) + "\n")
    assert sorted(r.id for r in t.read(spark).collect()) == [2, 3, 10, 11]

    t.checkpoint(1)
    t.clean_log()
    assert sorted(r.id for r in t.read(spark).collect()) == [2, 3, 10, 11]


def test_roaring_decode_run_and_bitset_containers():
    """Decoder unit coverage for the container shapes the test-side
    serializer doesn't emit: run containers (cookie 12347) and a
    dense bitset container, plus the z85 round-trip."""
    import struct

    from data_lakehouse_platform_spark.sources.delta_lite import (
        roaring_bitmap_array_values,
        z85_decode,
        z85_encode,
    )

    # run container: one container, runs [5..9] and [100..101]
    bm = struct.pack("<i", (0 << 16) | 12347) + bytes([0b1])
    bm += struct.pack("<HH", 0, 7 - 1)        # key 0, cardinality 7
    bm += struct.pack("<H", 2)                # 2 runs (n=1 < 4: no offsets)
    bm += struct.pack("<HH", 5, 4) + struct.pack("<HH", 100, 1)
    arr = struct.pack("<iq", 1681511377, 1) + struct.pack("<i", 2) + bm
    assert roaring_bitmap_array_values(arr) == [
        (2 << 32) | v for v in [5, 6, 7, 8, 9, 100, 101]
    ]

    # bitset container: 5000 even values in one 16-bit key space
    vals = list(range(0, 10000, 2))
    data = _serialize_roaring_array(vals)
    assert roaring_bitmap_array_values(data) == vals

    # z85 round-trip
    raw = bytes(range(40))
    assert z85_decode(z85_encode(raw)) == raw


def test_dv_delete_predicate_roundtrip(spark, tmp_path):
    """delete(predicate) marks rows in DVs without rewriting files:
    reads exclude them, a second delete MERGES into the existing DV,
    time travel still sees pre-delete rows, and the protocol upgrades
    to v3/v7 with deletionVectors while preserving implied legacy
    writer features."""
    t = DeltaLiteTable(str(tmp_path / "t"))
    # one file per commit so the second delete provably MERGES into
    # the first file's existing DV
    t.write(_df(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1))  # v0
    t.write(_df(spark, [(4, "d"), (5, "e")]).coalesce(1),
            mode="append")                                           # v1

    res = t.delete(spark, "id IN (2, 5)")                      # v2
    assert res == {"version": 2, "deleted_rows": 2, "files": 2}
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 3, 4]
    # no data files were rewritten: v2 adds reference the SAME paths
    acts = [json.loads(l) for l in
            open(os.path.join(t.log_dir, f"{2:020d}.json"))]
    adds = [a["add"] for a in acts if "add" in a]
    assert all(a["deletionVector"]["storageType"] == "u" for a in adds)
    proto = next(a["protocol"] for a in acts if "protocol" in a)
    assert proto["minReaderVersion"] == 3
    assert "deletionVectors" in proto["readerFeatures"]
    # legacy writer v2 implied appendOnly/invariants — must survive
    assert {"appendOnly", "invariants", "deletionVectors"} <= set(
        proto["writerFeatures"]
    )
    # time travel: pre-delete snapshot unaffected
    assert sorted(r.id for r in t.read(spark, version=1).collect()) == [
        1, 2, 3, 4, 5
    ]

    res2 = t.delete(spark, "val = 'a'")                        # v3: merge
    assert res2["version"] == 3 and res2["deleted_rows"] == 1
    assert sorted(r.id for r in t.read(spark).collect()) == [3, 4]
    # the touched file's DV now carries BOTH deletes (cardinality 2)
    acts3 = [json.loads(l) for l in
             open(os.path.join(t.log_dir, f"{3:020d}.json"))]
    add3 = next(a["add"] for a in acts3 if "add" in a)
    assert add3["deletionVector"]["cardinality"] == 2

    # checkpoint + clean_log must preserve DVs AND the v3 protocol
    t.checkpoint()
    t.clean_log()
    assert sorted(r.id for r in t.read(spark).collect()) == [3, 4]
    t.write(_df(spark, [(9, "z")]), mode="append")
    assert sorted(r.id for r in t.read(spark).collect()) == [3, 4, 9]


def test_dv_delete_no_match_is_noop(spark, tmp_path):
    t = DeltaLiteTable(str(tmp_path / "t"))
    t.write(_df(spark, [(1, "a")]))
    res = t.delete(spark, "id = 999")
    assert res == {"version": 0, "deleted_rows": 0, "files": 0}
    assert t.latest_version() == 0  # no commit written


def test_dv_delete_cap_is_loud(spark, tmp_path, monkeypatch):
    import data_lakehouse_platform_spark.sources.delta_lite as dl

    t = DeltaLiteTable(str(tmp_path / "t"))
    t.write(_df(spark, [(i, "x") for i in range(10)]))
    monkeypatch.setattr(dl, "MAX_DELETE_ROWS", 3)
    # the DV path refuses loudly past the cap...
    with pytest.raises(dl.DeleteTooLargeError, match="rewrite the"):
        t.delete(spark, "id >= 0", strategy="dv")
    # ...and the default 'auto' strategy falls back to the uncapped
    # file-rewrite path instead
    res = t.delete(spark, "id >= 0")
    assert res["deleted_rows"] is None and res["files"] >= 1
    assert t.read(spark).count() == 0


def test_dv_serializer_matches_reference_layout():
    """Module serializer must emit byte-identical payloads to the
    independently written test serializer (array + bitset shapes), and
    round-trip through the decoder."""
    from data_lakehouse_platform_spark.sources.delta_lite import (
        roaring_bitmap_array_values,
        serialize_roaring_bitmap_array,
    )

    for vals in (
        [0, 2, 5],
        [1, 3, (2 << 32) | 7, (2 << 32) | 9],         # two high words
        list(range(0, 10000, 2)),                      # bitset container
        [65535, 65536, 131071],                        # key boundaries
    ):
        ours = serialize_roaring_bitmap_array(vals)
        ref = _serialize_roaring_array(vals)
        assert ours == ref
        assert roaring_bitmap_array_values(ours) == sorted(set(vals))


def test_restore_rewinds_state_preserving_history(spark, tmp_path):
    """RESTORE commits the target version's file set as a NEW version:
    post-overwrite restore resurrects the old rows, history keeps every
    version, and restoring across a DV DELETE brings back exactly the
    rows the target version could see."""
    t = DeltaLiteTable(str(tmp_path / "t"))
    t.write(_df(spark, [(1, "a"), (2, "b")]).coalesce(1))          # v0
    t.write(_df(spark, [(9, "z")]).coalesce(1), mode="overwrite")  # v1
    v = t.restore(0)                                               # v2
    assert v == 2
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 2]
    assert sorted(r.id for r in t.read(spark, version=1).collect()) == [9]

    t.delete(spark, "id = 1")                                      # v3
    assert sorted(r.id for r in t.read(spark).collect()) == [2]
    t.restore(2)                                                   # v4
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 2]
    assert t.latest_version() == 4
    with pytest.raises(FileNotFoundError, match="version 99"):
        t.restore(99)


def test_vacuum_drops_unreferenced_files_and_orphans(spark, tmp_path):
    """vacuum(retain_last=1) removes files only older versions (and
    crashed-writer staging debris) reference — current reads keep
    working, vacuumed-version time travel fails loudly."""
    import os as _os

    t = DeltaLiteTable(str(tmp_path / "t"))
    t.write(_df(spark, [(1, "a")]).coalesce(1))                    # v0
    t.write(_df(spark, [(9, "z")]).coalesce(1), mode="overwrite")  # v1
    # orphan staging debris from a "crashed" writer
    _df(spark, [(99, "orphan")]).coalesce(1).write.parquet(
        _os.path.join(t.path, "part-deadbeef0000")
    )
    removed = t.vacuum(retain_last=1)
    assert removed  # v0's file + the orphan dir contents
    assert [r.id for r in t.read(spark).collect()] == [9]
    with pytest.raises(Exception):  # missing data file -> loud failure
        t.read(spark, version=0).collect()
    # retain_last=2 would have kept both: fresh table to prove it
    t2 = DeltaLiteTable(str(tmp_path / "t2"))
    t2.write(_df(spark, [(1, "a")]).coalesce(1))
    t2.write(_df(spark, [(2, "b")]).coalesce(1), mode="overwrite")
    assert t2.vacuum(retain_last=2) == []
    assert [r.id for r in t2.read(spark, version=0).collect()] == [1]


def test_vacuum_keeps_referenced_dv_bins(spark, tmp_path):
    """A DV .bin referenced by the retained version survives vacuum;
    reads still filter the deleted rows."""
    t = DeltaLiteTable(str(tmp_path / "t"))
    t.write(_df(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1))
    t.delete(spark, "id = 2")
    removed = t.vacuum(retain_last=1)
    assert not any(p.endswith(".bin") for p in removed)
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 3]
    # restore past the delete, then vacuum the DV version away: the
    # .bin is unreferenced by the retained (restored) version and goes
    t.restore(0)
    removed2 = t.vacuum(retain_last=1)
    assert any(p.endswith(".bin") for p in removed2)
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 2, 3]


def test_merge_upsert_one_atomic_version(spark, tmp_path):
    """Copy-on-write MERGE: matched keys update, unmatched insert, one
    new version, history reads MERGE; merging ON TOP of a DV delete
    sees the filtered snapshot (deleted rows stay dead)."""
    t = DeltaLiteTable(str(tmp_path / "t"))
    t.write(_df(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1))
    t.delete(spark, "id = 3")                                # v1 (DV)
    res = t.merge(
        spark, _df(spark, [(2, "B2"), (4, "d")]), keys=["id"]
    )                                                        # v2
    assert res["version"] == 2
    assert sorted((r.id, r.val) for r in t.read(spark).collect()) == [
        (1, "a"), (2, "B2"), (4, "d")  # 3 stays deleted
    ]
    # one atomic version; history op is MERGE; time travel intact
    ops = {h["version"]: h.get("operation") for h in t.history()}
    assert ops[2] == "MERGE"
    assert sorted(r.id for r in t.read(spark, version=0).collect()) == [
        1, 2, 3
    ]
    with pytest.raises(ValueError, match="duplicate keys"):
        t.merge(spark, _df(spark, [(9, "x"), (9, "y")]), keys=["id"])
    with pytest.raises(ValueError, match="schema differs"):
        t.merge(
            spark,
            spark.createDataFrame([(1.5,)], "x double"),
            keys=["x"],
        )


def test_optimize_compacts_and_purges_dvs(spark, tmp_path):
    """OPTIMIZE rewrites the small-file debris into one commit of
    dataChange:false adds, physically drops DV-deleted rows (DV
    purge), keeps old versions time-travelable, and vacuum then
    reclaims the debris + the purged .bin."""
    t = DeltaLiteTable(str(tmp_path / "t"))
    for i in range(4):  # four 1-row commits -> small-file debris
        t.write(_df(spark, [(i, f"v{i}")]).coalesce(1), mode="append")
    t.delete(spark, "id = 1")                                  # v4 (DV)
    res = t.optimize(spark)                                    # v5
    assert res["version"] == 5 and res["files_after"] == 1
    assert res["files_before"] == 4
    assert sorted(r.id for r in t.read(spark).collect()) == [0, 2, 3]
    acts = [json.loads(l) for l in
            open(os.path.join(t.log_dir, f"{5:020d}.json"))]
    adds = [a["add"] for a in acts if "add" in a]
    assert all(a["dataChange"] is False for a in adds)
    assert all(not a.get("deletionVector") for a in adds)  # DV purged
    ops = {h["version"]: h.get("operation") for h in t.history()}
    assert ops[5] == "OPTIMIZE"
    # pre-optimize version still readable until vacuum
    assert sorted(r.id for r in t.read(spark, version=3).collect()) == [
        0, 1, 2, 3
    ]
    removed = t.vacuum(retain_last=1)
    assert sum(p.endswith(".parquet") for p in removed) == 4
    assert any(p.endswith(".bin") for p in removed)
    assert sorted(r.id for r in t.read(spark).collect()) == [0, 2, 3]


def test_optimize_zorder_clusters_files(spark, tmp_path):
    """OPTIMIZE ZORDER BY: rewritten files cover compact ranges on
    BOTH clustered columns (footer min/max prunable), row set
    unchanged, commitInfo records the layout."""
    import json as _json
    import os as _os

    from data_lakehouse_platform_spark.sources.delta_lite import (
        DeltaLiteTable,
    )
    from pyspark.sql import functions as F

    t = DeltaLiteTable(str(tmp_path / "zt"))
    # 4k rows over a 64x64 grid, written hash-shuffled so every input
    # file spans the full range of both dims
    df = (
        spark.range(4096)
        .select(
            F.col("id"),
            (F.col("id") % 64).alias("x"),
            (F.col("id") / 64).cast("long").alias("y"),
        )
        .repartition(8, "id")
    )
    t.write(df)
    v = t.optimize(spark, target_file_bytes=5_000, zorder_by=["x", "y"])
    assert sorted(r.id for r in t.read(spark).collect()) == list(
        range(4096)
    )
    # every rewritten file's x-range AND y-range must be a small slice
    # of the 0..63 domain — the multi-dim locality Z-order buys
    _meta, live, _p = t._replay(t.latest_version())
    paths = [str(tmp_path / "zt" / p) for p in live]
    assert len(paths) >= 4
    import pyarrow.parquet as _pq

    def col_span(path, col):
        md = _pq.ParquetFile(path).metadata
        lo, hi = None, None
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            for j in range(rg.num_columns):
                c = rg.column(j)
                if c.path_in_schema == col and c.statistics:
                    s = c.statistics
                    lo = s.min if lo is None else min(lo, s.min)
                    hi = s.max if hi is None else max(hi, s.max)
        return hi - lo

    for col in ("x", "y"):
        spans = [col_span(p, col) for p in paths]
        assert sum(spans) / len(spans) <= 52, (col, spans)  # unclustered = 63
    log_file = _os.path.join(
        str(tmp_path / "zt"), "_delta_log",
        f"{v['version']:020d}.json",
    )
    ci = next(
        a["commitInfo"]
        for a in map(_json.loads, open(log_file))
        if "commitInfo" in a
    )
    assert ci["operationParameters"]["zOrderBy"] == ["x", "y"]
    with pytest.raises(ValueError, match="zorder_by"):
        t.optimize(spark, zorder_by=["nope"])


def test_table_changes_snapshot_diff(spark, tmp_path):
    """table_changes diffs two versions: keyed classification into
    insert/delete/update pre+post images; unkeyed degrades to
    insert/delete pairs; DV deletes and merges are reflected."""
    from data_lakehouse_platform_spark.sources.delta_lite import (
        DeltaLiteTable,
    )

    t = DeltaLiteTable(str(tmp_path / "cd"))
    t.write(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "id long, val string"
        )
    )
    t.delete(spark, "id = 2")                       # v1: DV delete
    t.merge(
        spark,
        spark.createDataFrame(
            [(3, "C"), (4, "d")], "id long, val string"
        ),
        keys=["id"],
    )                                               # v2: update + insert

    ch = t.table_changes(spark, 0, keys=["id"])
    got = sorted(
        (r.id, r.val, r._change_type) for r in ch.collect()
    )
    assert got == [
        (2, "b", "delete"),
        (3, "C", "update_postimage"),
        (3, "c", "update_preimage"),
        (4, "d", "insert"),
    ]
    # unkeyed: updates decompose into delete+insert
    ch2 = t.table_changes(spark, 0)
    kinds = sorted(
        (r.id, r._change_type) for r in ch2.collect()
    )
    assert kinds == [
        (2, "delete"), (3, "delete"), (3, "insert"), (4, "insert")
    ]
    # identical versions diff to empty
    assert t.table_changes(spark, 2, 2, keys=["id"]).count() == 0
    with pytest.raises(ValueError, match="version range"):
        t.table_changes(spark, 2, 0)


def test_table_changes_null_keyed_rows(spark, tmp_path):
    """The keyed diff treats a NULL key like any other key (null-safe
    match): unchanged NULL-keyed rows emit nothing, and an updated one
    emits an update_preimage / update_postimage pair — never a
    delete + insert."""
    schema = "k bigint, g string, v double"
    t = DeltaLiteTable(str(tmp_path / "nullkey"))
    t.write(spark.createDataFrame([(None, "a", 1.0), (1, "b", 2.0)], schema))
    t.write(
        spark.createDataFrame([(None, "a", 1.0), (1, "b", 2.0)], schema),
        mode="overwrite",
    )
    assert t.table_changes(spark, 0, 1, keys=["k"]).count() == 0

    t.write(
        spark.createDataFrame([(None, "a", 9.0), (1, "b", 2.0)], schema),
        mode="overwrite",
    )
    cdf = t.table_changes(spark, 1, 2, keys=["k"]).collect()
    assert sorted((r._change_type, r.v) for r in cdf) == [
        ("update_postimage", 9.0),
        ("update_preimage", 1.0),
    ]
    assert all(r.k is None for r in cdf)


def test_dv_delete_on_partitioned_table(spark, tmp_path):
    """DV deletes compose with hive partitioning: tombstones cross
    partition boundaries, partition pruning still applies them, and a
    subsequent OPTIMIZE purges the DVs while keeping the layout."""
    from data_lakehouse_platform_spark.sources.delta_lite import (
        DeltaLiteTable,
    )

    t = DeltaLiteTable(str(tmp_path / "pdv"))
    df = spark.createDataFrame(
        [(i, ["a", "b"][i % 2]) for i in range(10)],
        "id long, k string",
    )
    t.write(df, partition_by=["k"])
    res = t.delete(spark, "id IN (0, 1, 2)")
    assert res["deleted_rows"] == 3
    got = t.read(spark)
    assert sorted(r.id for r in got.collect()) == [3, 4, 5, 6, 7, 8, 9]
    # partition-filtered read applies the tombstones of its files
    assert sorted(
        r.id for r in got.filter("k = 'a'").collect()
    ) == [4, 6, 8]
    # time travel to before the delete
    assert len(t.read(spark, version=0).collect()) == 10
    # OPTIMIZE purges DVs, keeps the partition layout and the rows
    t.optimize(spark)
    meta, live, _p = t._replay(t.latest_version())
    assert meta["partitionColumns"] == ["k"]
    assert all("deletionVector" not in a for a in live.values())
    assert all(a["partitionValues"].get("k") in ("a", "b")
               for a in live.values())
    assert sorted(r.id for r in t.read(spark).collect()) == [
        3, 4, 5, 6, 7, 8, 9
    ]


def test_merge_is_file_scoped_cow(spark, tmp_path):
    """Round-5 MERGE contract: only the data files that CONTAIN
    matched rows are rewritten — an unmatched file's add action
    survives the merge with its original path (real Delta's COW file
    scoping; a 100 TB upsert touching one partition must not rewrite
    the table)."""
    t = DeltaLiteTable(str(tmp_path / "fs"))
    # two single-file commits -> two distinct data files
    t.write(_df(spark, [(1, "a"), (2, "b")]).coalesce(1))
    t.write(_df(spark, [(10, "x"), (11, "y")]).coalesce(1), mode="append")
    _m, live_before, _p = t._replay(t.latest_version())
    assert len(live_before) == 2
    # keys 10/12 touch ONLY the second file
    res = t.merge(spark, _df(spark, [(10, "X2"), (12, "new")]), keys=["id"])
    assert res["files_rewritten"] == 1 and res["files_untouched"] == 1
    _m, live_after, _p = t._replay(t.latest_version())
    untouched = set(live_before) & set(live_after)
    assert len(untouched) == 1  # file 1's add action carried unchanged
    path = next(iter(untouched))
    assert live_before[path] == live_after[path]
    assert sorted((r.id, r.val) for r in t.read(spark).collect()) == [
        (1, "a"), (2, "b"), (10, "X2"), (11, "y"), (12, "new")
    ]
    # the MERGE commit holds removes ONLY for touched files
    actions = t._actions(t.latest_version())
    removed = [a["remove"]["path"] for a in actions if "remove" in a]
    assert len(removed) == 1 and path not in removed
    ci = next(a["commitInfo"] for a in actions if "commitInfo" in a)
    assert ci["operation"] == "MERGE"  # stamped at commit time, no retag


def test_merge_pure_insert_touches_no_files(spark, tmp_path):
    t = DeltaLiteTable(str(tmp_path / "ins"))
    t.write(_df(spark, [(1, "a")]).coalesce(1))
    res = t.merge(spark, _df(spark, [(2, "b")]), keys=["id"])
    assert res["files_rewritten"] == 0 and res["files_untouched"] == 1
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 2]
    # no remove actions in a pure-insert merge
    assert not any("remove" in a for a in t._actions(res["version"]))


def test_merge_file_scoped_preserves_other_files_dv(spark, tmp_path):
    """An untouched file's deletion-vector descriptor rides through a
    merge of OTHER files unchanged (deleted rows stay dead)."""
    t = DeltaLiteTable(str(tmp_path / "dvk"))
    t.write(_df(spark, [(1, "a"), (2, "b")]).coalesce(1))
    t.write(_df(spark, [(10, "x"), (11, "y")]).coalesce(1), mode="append")
    t.delete(spark, "id = 2")  # DV on file 1
    res = t.merge(spark, _df(spark, [(11, "Y2")]), keys=["id"])  # file 2
    assert res["files_rewritten"] == 1
    _m, live, _p = t._replay(t.latest_version())
    dvs = [a for a in live.values() if a.get("deletionVector")]
    assert len(dvs) == 1  # file 1's DV survived the merge untouched
    assert sorted((r.id, r.val) for r in t.read(spark).collect()) == [
        (1, "a"), (10, "x"), (11, "Y2")
    ]


def test_add_paths_url_encoded_in_log(spark, tmp_path):
    """Delta spec: add.path is URL-encoded; partition values needing
    hive escaping ('x:y' -> dir 'k=x%3Ay') must land in the log with
    the '%' itself encoded ('%25') so external readers decode to the
    real on-disk file — and our reader must decode on read."""
    t = DeltaLiteTable(str(tmp_path / "enc"))
    df = spark.createDataFrame(
        [(1, "x:y"), (2, "plain")], "id int, k string"
    )
    t.write(df, partition_by=["k"])
    actions = t._actions(0)
    raw_paths = [a["add"]["path"] for a in actions if "add" in a]
    enc = [p for p in raw_paths if "x%253Ay" in p]
    assert enc, f"hive-escaped dir must be %-encoded in the log: {raw_paths}"
    # decoded path exists on disk; raw log spelling does not
    import urllib.parse
    dec = urllib.parse.unquote(enc[0])
    assert os.path.exists(os.path.join(t.path, dec))
    assert not os.path.exists(os.path.join(t.path, enc[0]))
    got = sorted((r.id, r.k) for r in t.read(spark).collect())
    assert got == [(1, "x:y"), (2, "plain")]
    # overwrite must REMOVE by the same encoded spelling (replay pairs
    # them after decoding)
    t.write(spark.createDataFrame([(9, "z")], "id int, k string"),
            mode="overwrite")
    assert sorted((r.id, r.k) for r in t.read(spark).collect()) == [(9, "z")]
    rm = [a["remove"]["path"] for a in t._actions(1) if "remove" in a]
    assert any("x%253Ay" in p for p in rm)
    # checkpoint round-trips the encoding, and DELETE still resolves
    # file coordinates on the encoded table
    t.write(df, mode="append")
    t.delete(spark, "id = 1")
    t.checkpoint()
    t.clean_log()
    got = sorted((r.id, r.k) for r in t.read(spark).collect())
    assert got == [(2, "plain"), (9, "z")]


def test_external_encoded_log_read(spark, tmp_path):
    """A log written by ANOTHER engine with percent-encoded add.path
    (e.g. a space in the file name) reads correctly — the reader
    decodes before joining with the table root."""
    import json as _json
    root = tmp_path / "ext"
    os.makedirs(root / "_delta_log")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, val string")
    df.coalesce(1).write.parquet(str(root / "stage"))
    part = next(
        f for f in os.listdir(root / "stage") if f.endswith(".parquet")
    )
    os.rename(root / "stage" / part, root / "stage" / "my file.parquet")
    schema = df.schema.json()
    actions = [
        {"commitInfo": {"timestamp": 1, "operation": "WRITE"}},
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "x", "format": {"provider": "parquet",
         "options": {}}, "schemaString": schema, "partitionColumns": [],
         "configuration": {}, "createdTime": 1}},
        {"add": {"path": "stage/my%20file.parquet", "partitionValues": {},
         "size": 1, "modificationTime": 1, "dataChange": True}},
    ]
    with open(root / "_delta_log" / f"{0:020d}.json", "w") as fh:
        for a in actions:
            fh.write(_json.dumps(a) + "\n")
    t = DeltaLiteTable(str(root))
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 2]


def test_checkpoint_retains_remove_tombstones(spark, tmp_path):
    """Delta spec: checkpoints retain remove tombstones until
    retention expires — external vacuum / conflict detection must
    still see recently removed files after clean_log()."""
    import pyarrow.parquet as pq

    t = DeltaLiteTable(str(tmp_path / "tomb"))
    t.write(_df(spark, [(1, "a")]).coalesce(1))              # v0
    t.write(_df(spark, [(2, "b")]).coalesce(1), "overwrite")  # v1 removes
    removed = [
        a["remove"]["path"] for a in t._actions(1) if "remove" in a
    ]
    assert len(removed) == 1
    t.checkpoint()
    cp = pq.read_table(
        os.path.join(t.log_dir, f"{1:020d}.checkpoint.parquet")
    ).to_pylist()
    tombs = [r["remove"]["path"] for r in cp if r.get("remove")]
    assert tombs == removed
    # a re-added path clears its tombstone
    t.write(_df(spark, [(3, "c")]).coalesce(1), mode="append")  # v2
    assert set(t._tombstones(2)) == {
        __import__("urllib.parse", fromlist=["unquote"]).unquote(removed[0])
    }
    # the tombstoned file is NOT resurrected by checkpoint replay
    t.clean_log()
    assert sorted(r.id for r in t.read(spark).collect()) == [2, 3]


def test_merge_conditional_clauses(spark, tmp_path):
    """whenMatchedDelete / whenMatchedUpdate(condition): delete-marked
    source rows remove their targets, the update condition gates
    replacement (unchanged rows keep target values), unmatched source
    rows insert — all one atomic file-scoped version."""
    t = DeltaLiteTable(str(tmp_path / "mc"))
    t.write(_df(spark, [(1, "a"), (2, "b"), (3, "c"), (4, "d")]).coalesce(1))
    src = _df(spark, [(1, "DEL"), (2, "b"), (3, "C2"), (9, "new")])
    res = t.merge(
        spark,
        src,
        keys=["id"],
        matched_delete_condition="s.val = 'DEL'",
        matched_update_condition="s.val <> t.val",
    )
    assert res["version"] == 1
    got = sorted((r.id, r.val) for r in t.read(spark).collect())
    # 1 deleted; 2 matched but equal -> kept; 3 updated; 9 inserted
    assert got == [(2, "b"), (3, "C2"), (4, "d"), (9, "new")]
    ops = {h["version"]: h.get("operation") for h in t.history()}
    assert ops[1] == "MERGE"
    # default behavior unchanged: no clauses -> update every match
    t2 = DeltaLiteTable(str(tmp_path / "mc2"))
    t2.write(_df(spark, [(1, "a")]).coalesce(1))
    t2.merge(spark, _df(spark, [(1, "A2")]), keys=["id"])
    assert [(r.id, r.val) for r in t2.read(spark).collect()] == [(1, "A2")]


def test_merge_clauses_file_scoped_and_null_condition(spark, tmp_path):
    """Clause merges stay file-scoped (untouched files carry), and a
    NULL-evaluating condition means not-satisfied (delta semantics) —
    the target row survives unchanged."""
    t = DeltaLiteTable(str(tmp_path / "mcf"))
    t.write(_df(spark, [(1, "a"), (2, None)]).coalesce(1))
    t.write(_df(spark, [(10, "x")]).coalesce(1), mode="append")
    _m, live_before, _p = t._replay(t.latest_version())
    # s.val <> t.val is NULL when t.val is NULL -> row 2 kept as-is
    res = t.merge(
        spark,
        _df(spark, [(1, "A2"), (2, "B2")]),
        keys=["id"],
        matched_update_condition="s.val <> t.val",
    )
    assert res["files_rewritten"] == 1 and res["files_untouched"] == 1
    _m, live_after, _p = t._replay(t.latest_version())
    assert len(set(live_before) & set(live_after)) == 1  # file 2 carried
    got = sorted(
        (r.id, r.val) for r in t.read(spark).collect()
    )
    assert got == [(1, "A2"), (2, None), (10, "x")]


def test_update_file_scoped(spark, tmp_path):
    """UPDATE ... SET ... WHERE: matching rows get the SET expressions
    (cast back to the column type), non-matching rows in touched files
    rewrite byte-identical, untouched files carry, history reads
    UPDATE, and time travel still sees the pre-update values."""
    t = DeltaLiteTable(str(tmp_path / "up"))
    t.write(_df(spark, [(1, "a"), (2, "b")]).coalesce(1))
    t.write(_df(spark, [(10, "x")]).coalesce(1), mode="append")
    _m, live_before, _p = t._replay(t.latest_version())
    res = t.update(
        spark, "id = 2", {"val": "upper(concat(val, '!'))"}
    )
    assert res["version"] == 2
    assert res["files_rewritten"] == 1 and res["files_untouched"] == 1
    _m, live_after, _p = t._replay(t.latest_version())
    assert len(set(live_before) & set(live_after)) == 1
    got = sorted((r.id, r.val) for r in t.read(spark).collect())
    assert got == [(1, "a"), (2, "B!"), (10, "x")]
    ops = {h["version"]: h.get("operation") for h in t.history()}
    assert ops[2] == "UPDATE"
    assert sorted(
        (r.id, r.val) for r in t.read(spark, version=1).collect()
    ) == [(1, "a"), (2, "b"), (10, "x")]
    # no-match predicate: no new version
    res = t.update(spark, "id = 999", {"val": "'zz'"})
    assert res == {
        "version": 2, "files_rewritten": 0, "files_untouched": 2
    }
    # unknown SET column refused
    with pytest.raises(ValueError, match="unknown columns"):
        t.update(spark, "id = 1", {"nope": "'x'"})
    # NULL predicate result = not matched
    t2 = DeltaLiteTable(str(tmp_path / "up2"))
    t2.write(_df(spark, [(1, None), (2, "b")]).coalesce(1))
    t2.update(spark, "val = 'b'", {"val": "'B'"})
    assert sorted(
        (r.id, r.val) for r in t2.read(spark).collect()
    ) == [(1, None), (2, "B")]


def test_update_composes_with_dv(spark, tmp_path):
    """UPDATE over a DV-filtered snapshot: already-deleted rows stay
    dead through the rewrite; the rewritten file needs no DV."""
    t = DeltaLiteTable(str(tmp_path / "updv"))
    t.write(_df(spark, [(1, "a"), (2, "b"), (3, "c")]).coalesce(1))
    t.delete(spark, "id = 1")
    t.update(spark, "id >= 2", {"val": "concat(val, val)"})
    got = sorted((r.id, r.val) for r in t.read(spark).collect())
    assert got == [(2, "bb"), (3, "cc")]
    _m, live, _p = t._replay(t.latest_version())
    assert all(not a.get("deletionVector") for a in live.values())


def test_write_merge_schema_evolution(spark, tmp_path):
    """mergeSchema append: new columns evolve the table schema (one
    metaData re-emit in the commit), old rows read NULL for them, time
    travel keeps the old schema, and type conflicts refuse."""
    t = DeltaLiteTable(str(tmp_path / "ms"))
    t.write(_df(spark, [(1, "a")]).coalesce(1))
    wide = spark.createDataFrame(
        [(2, "b", 9.5)], "id int, val string, score double"
    )
    with pytest.raises(ValueError, match="merge_schema"):
        t.write(wide, mode="append")
    v = t.write(wide, mode="append", merge_schema=True)
    got = sorted(
        (r.id, r.val, r.score) for r in t.read(spark).collect()
    )
    assert got == [(1, "a", None), (2, "b", 9.5)]
    # the evolving commit carries a metaData action with the union
    kinds = [next(iter(a)) for a in t._actions(v)]
    assert "metaData" in kinds
    # time travel: version 0 still has the narrow schema
    assert t.read(spark, version=0).columns == ["id", "val"]
    assert t.read(spark).columns == ["id", "val", "score"]
    # a third append with the ORIGINAL narrow frame also needs
    # mergeSchema=False to fail (schema now differs the other way)
    t.write(_df(spark, [(3, "c")]).coalesce(1), mode="append",
            merge_schema=True)
    assert t.read(spark).filter("id = 3").collect()[0].score is None
    # type conflict refused even under mergeSchema
    bad = spark.createDataFrame([(4, 1.0, 1.0)],
                                "id int, val double, score double")
    with pytest.raises(ValueError, match="conflicts"):
        t.write(bad, mode="append", merge_schema=True)


def test_delete_rewrite_strategy_uncapped(spark, tmp_path):
    """delete(strategy='rewrite'): mass deletes rewrite only the
    touched files with matching rows dropped — no driver-side row
    materialization, no cap; 'auto' falls back to it past the DV cap."""
    t = DeltaLiteTable(str(tmp_path / "dr"))
    t.write(_df(spark, [(1, "a"), (2, "b")]).coalesce(1))
    t.write(_df(spark, [(10, "x"), (11, "y")]).coalesce(1), mode="append")
    _m, live_before, _p = t._replay(t.latest_version())
    res = t.delete(spark, "id = 10", strategy="rewrite")
    assert res["files"] == 1
    _m, live_after, _p = t._replay(t.latest_version())
    assert len(set(live_before) & set(live_after)) == 1  # file 1 carried
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 2, 11]
    ops = {h["version"]: h.get("operation") for h in t.history()}
    assert ops[2] == "DELETE"
    # no DV anywhere (the rewrite purges, never tombstones)
    _m, live, _p = t._replay(t.latest_version())
    assert all(not a.get("deletionVector") for a in live.values())
    # no-match: no new version
    assert t.delete(spark, "id = 999", strategy="rewrite") == {
        "version": 2, "deleted_rows": 0, "files": 0
    }

    # auto: surgical deletes still take the DV path...
    r2 = t.delete(spark, "id = 1")  # auto
    assert r2["deleted_rows"] == 1
    _m, live, _p = t._replay(t.latest_version())
    assert any(a.get("deletionVector") for a in live.values())
    # ...and a match set past the cap falls back to the rewrite path
    # (shrink the cap instead of building 2M rows)
    import data_lakehouse_platform_spark.sources.delta_lite as dl
    old = dl.MAX_DELETE_ROWS
    dl.MAX_DELETE_ROWS = 1
    try:
        r3 = t.delete(spark, "id >= 2")  # matches 2 rows > cap
    finally:
        dl.MAX_DELETE_ROWS = old
    assert r3["deleted_rows"] is None  # rewrite path took it
    assert sorted(r.id for r in t.read(spark).collect()) == []


def test_writer_protocol_guards(spark, tmp_path):
    """Write-side protocol twin of the reader refusals: appendOnly
    tables accept appends and compaction but refuse every mutating
    verb; dormant declared-but-unused features pass; tables declaring
    CHECK constraints / enabled CDF / unknown writer features refuse
    all writes."""
    t = DeltaLiteTable(str(tmp_path / "ao"))
    t.write(_df(spark, [(1, "a")]).coalesce(1))

    def _retag(config=None, writer_features=None, mwv=None):
        # external engine flips table properties / protocol
        actions = []
        if config is not None:
            meta, _l, _p = t._replay(t.latest_version())
            meta = dict(meta)
            meta["configuration"] = config
            actions.append({"metaData": meta})
        if writer_features is not None or mwv is not None:
            actions.append({
                "protocol": {
                    "minReaderVersion": 1,
                    "minWriterVersion": mwv or 7,
                    **({"writerFeatures": writer_features}
                       if writer_features is not None else {}),
                }
            })
        v = t.latest_version() + 1
        with open(os.path.join(t.log_dir, f"{v:020d}.json"), "w") as fh:
            fh.write(json.dumps({"commitInfo": {"timestamp": 0}}) + "\n")
            for a in actions:
                fh.write(json.dumps(a) + "\n")

    # appendOnly: appends + compaction OK, mutations refused
    _retag(config={"delta.appendOnly": "true"})
    t.write(_df(spark, [(2, "b")]).coalesce(1), mode="append")
    t.optimize(spark)
    for fn in (
        lambda: t.write(_df(spark, [(9, "z")]), mode="overwrite"),
        lambda: t.delete(spark, "id = 1"),
        lambda: t.update(spark, "id = 1", {"val": "'x'"}),
        lambda: t.merge(spark, _df(spark, [(1, "u")]), keys=["id"]),
        lambda: t.restore(0),
    ):
        with pytest.raises(DeltaProtocolError, match="append-only"):
            fn()
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 2]

    # CHECK constraints declared -> ENFORCED since r7 (staged rows
    # validated pre-commit; tests/test_delta_evolution.py drills this)
    _retag(config={"delta.constraints.c1": "id > 100"})
    from data_lakehouse_platform_spark.sources.delta_lite import (
        DeltaConstraintViolation,
    )

    with pytest.raises(DeltaConstraintViolation, match="c1"):
        t.write(_df(spark, [(3, "c")]), mode="append")
    _retag(config={})

    # CDF enabled -> SUPPORTED since r6 (appends infer as inserts, no
    # change files needed; mutating verbs write cdc — test_delta_cdf)
    _retag(config={"delta.enableChangeDataFeed": "true"})
    v_cdf = t.write(_df(spark, [(3, "c")]), mode="append")
    ch = t.table_changes(spark, v_cdf - 1, v_cdf)
    assert [(r.id, r._change_type) for r in ch.collect()] == [
        (3, "insert")
    ]

    # dormant features (declared, unused on this table) pass
    _retag(config={}, writer_features=[
        "appendOnly", "invariants", "checkConstraints",
        "generatedColumns", "deletionVectors",
    ])
    t.write(_df(spark, [(3, "c")]).coalesce(1), mode="append")

    # unknown writer feature -> refuse everything
    _retag(writer_features=["icebergCompatV2", "appendOnly"])
    with pytest.raises(DeltaProtocolError, match="icebergCompatV2"):
        t.write(_df(spark, [(4, "d")]), mode="append")
    # v7+ without a feature list is malformed -> refuse
    _retag(writer_features=None, mwv=9)
    with pytest.raises(DeltaProtocolError, match="malformed"):
        t.write(_df(spark, [(4, "d")]), mode="append")
