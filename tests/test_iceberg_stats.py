"""Manifest column statistics (value/null counts, lower/upper bounds
in the spec's single-value binary serialization) and predicate scan
pruning on iceberg_lite tables — the Iceberg twin of Delta data
skipping.  Pins the written stats themselves, conservative omission,
skipping soundness (pruned read == unpruned filter, always), identity-
partition pruning, and stats carry through MERGE manifest surgery."""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F

from data_lakehouse_platform_spark.sources.avro_lite import read_container
from data_lakehouse_platform_spark.sources.iceberg_lite import (
    IcebergLiteTable,
)


def _entries(t: IcebergLiteTable):
    meta = t.metadata()
    snap = next(
        s
        for s in meta["snapshots"]
        if int(s["snapshot-id"]) == t.current_snapshot_id()
    )
    out = []
    _, ml = read_container(snap["manifest-list"])
    for r in ml:
        if int(r.get("content") or 0) != 0:
            continue
        _, es = read_container(r["manifest_path"])
        out.extend(e for e in es if int(e["status"]) != 2)
    return out


def _bounds(entry, fid):
    lo = {kv["key"]: kv["value"] for kv in entry["data_file"]["lower_bounds"] or []}
    hi = {kv["key"]: kv["value"] for kv in entry["data_file"]["upper_bounds"] or []}
    return lo.get(fid), hi.get(fid)


def test_write_emits_manifest_bounds(spark, tmp_path):
    t = IcebergLiteTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, "alpha", 1.5), (9, "omega", None)],
        "id int, name string, score double",
    ).coalesce(1)
    t.write(df)
    es = _entries(t)
    assert len(es) == 1
    # field ids are 1-based in schema order: id=1, name=2, score=3
    lo, hi = _bounds(es[0], 1)
    assert struct.unpack("<i", lo)[0] == 1
    assert struct.unpack("<i", hi)[0] == 9
    lo, hi = _bounds(es[0], 2)
    assert lo == b"alpha" and hi == b"omega"
    lo, hi = _bounds(es[0], 3)
    assert struct.unpack("<d", lo)[0] == 1.5
    ncs = {
        kv["key"]: kv["value"]
        for kv in es[0]["data_file"]["null_value_counts"]
    }
    assert ncs[3] == 1 and ncs[1] == 0
    vcs = {
        kv["key"]: kv["value"]
        for kv in es[0]["data_file"]["value_counts"]
    }
    assert vcs[1] == 2


def test_long_string_and_allnull_omit_bounds(spark, tmp_path):
    t = IcebergLiteTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(1, "x" * 100, None), (2, "short", None)],
        "id int, s string, v double",
    ).coalesce(1)
    t.write(df)
    e = _entries(t)[0]
    assert _bounds(e, 2) == (None, None)  # 100-char string: omitted
    assert _bounds(e, 3) == (None, None)  # all-null double: omitted
    ncs = {
        kv["key"]: kv["value"]
        for kv in e["data_file"]["null_value_counts"]
    }
    assert ncs[3] == 2
    # all-null reasoning still prunes on v; long string never prunes
    kept, total = t.files_matching(spark, "v = 1.0")
    assert (len(kept), total) == (0, 1)
    kept, _ = t.files_matching(spark, "s = 'zzz'")
    assert len(kept) == 1


def test_skipping_prunes_and_result_exact(spark, tmp_path):
    t = IcebergLiteTable(str(tmp_path / "t"))
    for lo in (0, 100, 200, 300):
        t.write(
            spark.createDataFrame(
                [(lo + i, f"v{lo + i}") for i in range(10)],
                "id int, v string",
            ).coalesce(1),
            mode="append",
        )
    kept, total = t.files_matching(spark, "id >= 200 AND id < 205")
    assert total == 4 and len(kept) == 1
    got = sorted(
        r.id
        for r in t.read(spark, predicate="id >= 200 AND id < 205").collect()
    )
    assert got == list(range(200, 205))
    kept, _ = t.files_matching(spark, "id IN (5, 305)")
    assert len(kept) == 2
    # string bounds: 'v107' falls in BOTH [v100,v109] and [v0,v9]
    # (lexicographic: 'v107' < 'v9'), so exactly two files survive
    kept, _ = t.files_matching(spark, "v = 'v107'")
    assert len(kept) == 2
    kept, _ = t.files_matching(spark, "v = 'u999'")  # below every range
    assert len(kept) == 0
    # provably-empty predicate returns an EMPTY frame, correct schema
    empty = t.read(spark, predicate="id > 10000")
    assert empty.count() == 0 and empty.columns == ["id", "v"]


def test_unsupported_predicate_keeps_all(spark, tmp_path):
    t = IcebergLiteTable(str(tmp_path / "t"))
    for lo in (0, 100):
        t.write(
            spark.createDataFrame(
                [(lo + i,) for i in range(5)], "id int"
            ).coalesce(1),
            mode="append",
        )
    kept, total = t.files_matching(spark, "id % 100 = 3")
    assert len(kept) == total == 2
    got = sorted(
        r.id for r in t.read(spark, predicate="id % 100 = 3").collect()
    )
    assert got == [3, 103]


def test_identity_partition_prunes_without_bounds(spark, tmp_path):
    t = IcebergLiteTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(i, ["eu", "us"][i % 2], float(i)) for i in range(20)],
        "id int, region string, v double",
    )
    t.write(df, partition_by=["region"])
    kept, total = t.files_matching(spark, "region = 'eu'")
    assert 0 < len(kept) < total
    assert all("region=eu" in p for p in kept)
    got = sorted(
        r.id for r in t.read(spark, predicate="region = 'eu'").collect()
    )
    assert got == [i for i in range(20) if i % 2 == 0]
    # bounds on a non-partition column prune WITHIN the partition set
    kept2, _ = t.files_matching(spark, "region = 'eu' AND id > 1000")
    assert len(kept2) == 0


def test_day_transform_partition_is_conservative(spark, tmp_path):
    t = IcebergLiteTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [("2024-01-05", 1), ("2024-06-05", 2)], "d string, id int"
    ).select(F.col("d").cast("date").alias("d"), "id")
    t.write(df, partition_by=[("d", "day")])
    # the day-transform value is not equated to the column; the DATE
    # column's own manifest bounds still prune
    kept, total = t.files_matching(spark, "d >= DATE '2024-06-01'")
    assert len(kept) < total or total == 1
    got = t.read(spark, predicate="d >= DATE '2024-06-01'").count()
    assert got == 1


def test_timestamp_bounds_roundtrip(spark, tmp_path):
    t = IcebergLiteTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [("2024-01-01 00:00:00",), ("2024-01-02 00:00:00",)],
        "ts string",
    ).select(F.col("ts").cast("timestamp").alias("ts"))
    t.write(df.coalesce(1), mode="append")
    df2 = spark.createDataFrame(
        [("2024-08-01 00:00:00",), ("2024-08-02 00:00:00",)],
        "ts string",
    ).select(F.col("ts").cast("timestamp").alias("ts"))
    t.write(df2.coalesce(1), mode="append")
    kept, total = t.files_matching(
        spark, "ts >= TIMESTAMP '2024-07-01 00:00:00'"
    )
    assert (len(kept), total) == (1, 2)
    assert (
        t.read(
            spark, predicate="ts >= TIMESTAMP '2024-07-01 00:00:00'"
        ).count()
        == 2
    )


def test_delete_prunes_scan_and_stays_exact(spark, tmp_path):
    t = IcebergLiteTable(str(tmp_path / "t"))
    for lo in (0, 100):
        t.write(
            spark.createDataFrame(
                [(lo + i,) for i in range(10)], "id int"
            ).coalesce(1),
            mode="append",
        )
    # out-of-range predicate: pruned to nothing, NO commit
    v0 = t.current_snapshot_id()
    res = t.delete(spark, "id > 5000")
    assert res == {
        "snapshot_id": v0, "rows_deleted": 0, "files_touched": 0,
    }
    res = t.delete(spark, "id BETWEEN 100 AND 102")
    assert res["rows_deleted"] == 3 and res["files_touched"] == 1
    assert t.read(spark).count() == 17


def test_skipping_soundness_randomized(spark, tmp_path):
    import random

    rnd = random.Random(11)
    t = IcebergLiteTable(str(tmp_path / "t"))
    for _ in range(5):
        rows = [
            (
                rnd.randrange(0, 40),
                rnd.choice(["a", "b", None]),
                round(rnd.uniform(-3, 3), 2),
            )
            for _ in range(15)
        ]
        t.write(
            spark.createDataFrame(
                rows, "id int, tag string, x double"
            ).coalesce(1),
            mode="append",
        )
    base = t.read(spark)
    nonesafe = lambda r: tuple((x is None, x) for x in r)  # noqa: E731
    preds = [
        "id = 7",
        "id < 10 AND tag = 'a'",
        "tag IN ('a','b') OR x > 2.5",
        "NOT (id >= 20)",
        "x BETWEEN -0.5 AND 0.5",
        "tag IS NULL AND id > 30",
        "id != 3",
    ]
    for _ in range(8):
        lo = rnd.randrange(0, 40)
        preds.append(f"id >= {lo} AND id < {lo + rnd.randrange(1, 6)}")
    for pred in preds:
        want = sorted(map(tuple, base.filter(pred).collect()), key=nonesafe)
        got = sorted(
            map(tuple, t.read(spark, predicate=pred).collect()),
            key=nonesafe,
        )
        assert got == want, pred
