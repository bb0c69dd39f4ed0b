"""Zero-copy adoption (r8): Delta CONVERT TO DELTA — the migration
on-ramp for data that already exists as plain parquet."""

from __future__ import annotations

import os

import pytest

from data_lakehouse_platform_spark.sources.delta_lite import (
    DeltaLiteTable,
    DeltaProtocolError,
)


def _plain_parquet_dir(spark, tmp_path, name="plain", n=50):
    p = str(tmp_path / name)
    spark.range(n).selectExpr(
        "id", "CAST(id * 2 AS DOUBLE) AS v", "CAST(id % 3 AS STRING) AS tag"
    ).repartition(3).write.parquet(p)
    return p


# -- Delta CONVERT -------------------------------------------------------


def test_convert_to_delta_in_place(spark, tmp_path):
    p = _plain_parquet_dir(spark, tmp_path)
    before = sorted(
        tuple(r) for r in spark.read.parquet(p).collect()
    )
    files_before = {
        f for f in os.listdir(p) if f.endswith(".parquet")
    }
    t = DeltaLiteTable.convert_from_parquet(spark, p)
    got = sorted(tuple(r) for r in t.read(spark).collect())
    assert got == before
    # zero copy: exactly the original files, untouched
    assert {
        f for f in os.listdir(p) if f.endswith(".parquet")
    } == files_before
    # version 0 exists and the full verb set now applies
    assert t.all_versions() == [0]
    t.write(
        spark.createDataFrame(
            [(999, 1.0, "x")], "id long, v double, tag string"
        ),
        mode="append",
    )
    assert t.read(spark).count() == 51
    t.delete(spark, "id = 0")
    assert t.read(spark).count() == 50
    # time travel back to the converted state
    assert sorted(
        tuple(r) for r in t.read(spark, version=0).collect()
    ) == before


def test_convert_refuses_existing_table_and_hive_dirs(spark, tmp_path):
    p = _plain_parquet_dir(spark, tmp_path, "t1")
    DeltaLiteTable.convert_from_parquet(spark, p)
    with pytest.raises(DeltaProtocolError, match="already has"):
        DeltaLiteTable.convert_from_parquet(spark, p)

    hp = str(tmp_path / "hive")
    spark.range(10).selectExpr(
        "id", "CAST(id % 2 AS STRING) AS part"
    ).write.partitionBy("part").parquet(hp)
    with pytest.raises(DeltaProtocolError, match="hive-partition"):
        DeltaLiteTable.convert_from_parquet(spark, hp)

    with pytest.raises(FileNotFoundError, match="no parquet"):
        os.makedirs(str(tmp_path / "empty"))
        DeltaLiteTable.convert_from_parquet(
            spark, str(tmp_path / "empty")
        )


def test_convert_stats_enable_skipping(spark, tmp_path):
    """CONVERT writes numRecords stats; point predicates can then use
    per-file pruning metadata immediately (conservative: min/max
    unknown, so files aren't dropped — but counts are exact)."""
    p = _plain_parquet_dir(spark, tmp_path, "t2")
    t = DeltaLiteTable.convert_from_parquet(spark, p)
    import json as _json

    _meta, live, _proto = t._replay(0)
    for a in live.values():
        assert _json.loads(a["stats"])["numRecords"] >= 0


def test_convert_schema_covers_nested_subdirs(spark, tmp_path):
    """ADVICE r8 (low): convert registers files found recursively, so
    the committed schemaString must be inferred with
    recursiveFileLookup — a nested non-hive subdirectory whose files
    carry the data must not disagree with the committed schema."""
    root = tmp_path / "conv"
    nested = root / "batch-2020" / "part-a"
    os.makedirs(str(nested))
    spark.range(7).selectExpr(
        "id", "CAST(id AS DOUBLE) AS v"
    ).coalesce(1).write.parquet(str(root / "w"))
    f = next(
        f for f in os.listdir(str(root / "w")) if f.endswith(".parquet")
    )
    # ALL data sits nested; root has no direct parquet children
    os.rename(str(root / "w" / f), str(nested / "f.parquet"))
    import shutil

    shutil.rmtree(str(root / "w"))
    t = DeltaLiteTable.convert_from_parquet(spark, str(root))
    got = t.read(spark)
    assert [fl.name for fl in got.schema.fields] == ["id", "v"]
    assert got.count() == 7
