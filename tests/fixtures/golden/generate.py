#!/usr/bin/env python
"""Generate the golden format fixtures: Delta and Iceberg tables
written by THIS engine from a fixed seed dataset.  Committed to git so
every later round proves it can still READ its own earlier output
(format drift across rounds is otherwise invisible without the JVM
runtimes — VERDICT r8, What's missing #1).

Families:
  delta_table / iceberg_table             flat layout, DV delete,
                                          classic checkpoint (r9)
  delta_partitioned / iceberg_partitioned hive-partitioned + column-
                                          mapped Delta (rename + DV
                                          delete + checkpoint); hidden
                                          bucket[4]-partitioned
                                          Iceberg with an equality-
                                          delete upsert (r9)
  delta_v2ckpt                            v2-checkpoint policy (uuid
                                          manifest + sidecar) plus a
                                          minor log compaction (r10)
  iceberg_v3dv                            v3 table with a Puffin
                                          deletion-vector snapshot
                                          (read-only surface) (r10)
  iceberg_schema_evolved                  add, rename, drop + re-add
                                          and an int->long promotion,
                                          one append under each schema
                                          (FROZEN, see below)
  iceberg_spec_evolved                    identity-spec files, then
                                          bucket[4]-spec files, then a
                                          position delete across both
                                          (FROZEN, see below)

A plain run only builds families whose directory is MISSING (additive
— committed bytes never churn); set GOLDEN_FORCE=1 to rebuild all,
then review the git diff of the log/metadata files by hand.

The two FROZEN families model tables another Iceberg writer evolved.
They were built by commit 3d2cccd ("Add schema-evolved and
spec-evolved Iceberg golden fixtures"), whose iceberg_lite still had
the schema- and partition-evolution write verbs (add_column,
rename_column, drop_column, update_column_type, update_spec).  Those
verbs are retired, so this script can no longer rebuild them: to
change either fixture, run that commit's generate.py.  GOLDEN_FORCE
leaves them alone.
"""

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.abspath(os.path.join(HERE, "..", "..", "..")))


def seed_df(spark):
    from pyspark.sql import functions as F

    return (
        spark.range(20)
        .select(
            F.col("id").cast("int").alias("id"),
            (F.col("id") % 3).cast("int").alias("bucket"),
            F.concat(F.lit("row-"), F.col("id")).alias("name"),
            (F.col("id") * 2.5).alias("score"),
        )
        .coalesce(1)
    )


def _build_flat(spark, dpath, ipath):
    from pyspark.sql import functions as F

    from data_lakehouse_platform_spark.sources.delta_lite import (
        DeltaLiteTable,
    )
    from data_lakehouse_platform_spark.sources.iceberg_lite import (
        IcebergLiteTable,
    )

    df = seed_df(spark)
    dt = DeltaLiteTable(dpath)
    dt.write(df)                       # v0: create
    dt.write(df.filter("id >= 20"), mode="append")  # v1: empty append
    dt.write(
        seed_df(spark)
        .withColumn("score", F.col("score") + 1)
        .filter("id < 5"),
        mode="append",
    )                                  # v2: append
    dt.delete(spark, "id = 1")         # v3: delete (remove + rewrite)
    dt.checkpoint()                    # classic checkpoint

    it = IcebergLiteTable(ipath)
    it.write(df)                       # s1: create/append
    it.write(seed_df(spark).filter("id < 5"), mode="append")  # s2
    it.delete(spark, "id = 2")         # s3: delete
    print("delta versions:", dt.all_versions())
    print("iceberg snapshots:",
          [s["snapshot-id"] for s in it.metadata().get("snapshots", [])])


def _build_partitioned(spark, dpp, ipp):
    from pyspark.sql import functions as F

    from data_lakehouse_platform_spark.sources.delta_lite import (
        DeltaLiteTable,
    )
    from data_lakehouse_platform_spark.sources.iceberg_lite import (
        IcebergLiteTable,
    )

    dp = DeltaLiteTable(dpp)
    dp.write(seed_df(spark), partition_by=["bucket"])
    dp.upgrade_column_mapping()
    dp.rename_column("name", "label")
    dp.delete(spark, "id = 4")
    dp.checkpoint()

    ip = IcebergLiteTable(ipp)
    ip.write(seed_df(spark), partition_by=[("id", "bucket[4]")])
    ip.upsert(
        spark,
        seed_df(spark).filter("id < 3").withColumn(
            "score", F.col("score") + 10
        ),
        keys=["id"],
    )
    print("delta_part versions:", dp.all_versions())
    print("iceberg_part snapshots:",
          [s["snapshot-id"] for s in ip.metadata().get("snapshots", [])])


def add_dv_snapshot(t, dv_positions_by_file):
    """Hand-commit a v3 deletion-vector snapshot onto a table this
    engine wrote: one Puffin file holding a DV per referenced data
    file, one delete manifest whose entries carry the v3 DV fields
    (referenced_data_file 143 / content_offset 144 /
    content_size_in_bytes 145), a new manifest list carrying the
    current snapshot's manifests forward, and a new metadata.json at
    format-version 3.  Bypasses _commit_metadata_json on purpose —
    that choke point refuses v3 commits; this models ANOTHER engine's
    v3 output for the read path to consume."""
    import copy
    import uuid as uuidlib

    from data_lakehouse_platform_spark.sources.avro_lite import (
        write_container,
    )
    from data_lakehouse_platform_spark.sources.iceberg_lite import (
        _ML_SCHEMA,
        _manifest_schema,
    )
    from data_lakehouse_platform_spark.sources.puffin import write_dv_file

    meta = t.metadata()
    snaps = meta["snapshots"]
    cur = next(
        s for s in snaps
        if int(s["snapshot-id"]) == meta["current-snapshot-id"]
    )
    snap_id = max(int(s["snapshot-id"]) for s in snaps) + 1
    seq = int(meta.get("last-sequence-number", 0)) + 1

    ppath = os.path.join(t.metadata_dir, f"dv-{uuidlib.uuid4().hex}.puffin")
    blob_metas = write_dv_file(
        ppath, dv_positions_by_file, snapshot_id=snap_id,
        sequence_number=seq,
    )

    msch = copy.deepcopy(_manifest_schema([]))
    (df_field,) = [
        f for f in msch["fields"] if f["name"] == "data_file"
    ]
    df_field["type"]["fields"] += [
        {"name": "referenced_data_file", "type": ["null", "string"],
         "default": None, "field-id": 143},
        {"name": "content_offset", "type": ["null", "long"],
         "default": None, "field-id": 144},
        {"name": "content_size_in_bytes", "type": ["null", "long"],
         "default": None, "field-id": 145},
    ]
    entries = [
        {
            "status": 1, "snapshot_id": snap_id,
            "sequence_number": seq, "file_sequence_number": seq,
            "data_file": {
                "content": 1,
                "file_path": ppath,
                "file_format": "PUFFIN",
                "partition": {},
                "record_count": int(m["properties"]["cardinality"]),
                "file_size_in_bytes": os.path.getsize(ppath),
                "referenced_data_file":
                    m["properties"]["referenced-data-file"],
                "content_offset": m["offset"],
                "content_size_in_bytes": m["length"],
            },
        }
        for m in blob_metas
    ]
    mpath = os.path.join(
        t.metadata_dir, f"m-dv-{uuidlib.uuid4().hex}.avro"
    )
    write_container(
        mpath, msch, entries,
        extra_metadata={
            "schema": json.dumps({"type": "struct", "fields": []}).encode(),
            "partition-spec": json.dumps([]).encode(),
            "partition-spec-id": b"0",
            "format-version": b"3",
            "content": b"deletes",
        },
    )
    ml_rows = [
        {
            "manifest_path": mpath,
            "manifest_length": os.path.getsize(mpath),
            "partition_spec_id": 0, "content": 1,
            "sequence_number": seq, "min_sequence_number": seq,
            "added_snapshot_id": snap_id,
            "added_files_count": len(entries),
            "existing_files_count": 0, "deleted_files_count": 0,
            "added_rows_count": sum(
                e["data_file"]["record_count"] for e in entries
            ),
            "existing_rows_count": 0, "deleted_rows_count": 0,
        }
    ] + t._manifest_list_rows(cur)
    ml_path = os.path.join(
        t.metadata_dir, f"snap-{snap_id}-1-{uuidlib.uuid4().hex}.avro"
    )
    write_container(ml_path, _ML_SCHEMA, ml_rows,
                    extra_metadata={"format-version": b"3"})
    new_meta = copy.deepcopy(meta)
    new_meta["format-version"] = 3
    new_meta["snapshots"] = snaps + [{
        "snapshot-id": snap_id, "sequence-number": seq,
        "parent-snapshot-id": int(cur["snapshot-id"]),
        "timestamp-ms": int(cur.get("timestamp-ms", 0)) + 1,
        "manifest-list": ml_path,
        "summary": {"operation": "overwrite", "added-dvs": "1"},
    }]
    new_meta["current-snapshot-id"] = snap_id
    new_meta["last-sequence-number"] = seq
    v = 1 + max(
        int(f.split(".")[0][1:])
        for f in os.listdir(t.metadata_dir)
        if f.endswith(".metadata.json") and f.startswith("v")
    )
    with open(os.path.join(t.metadata_dir,
                           f"v{v}.metadata.json"), "w") as fh:
        json.dump(new_meta, fh)
    with open(os.path.join(t.metadata_dir, "version-hint.text"),
              "w") as fh:
        fh.write(str(v))
    return snap_id


def _build_v2ckpt(spark, dvp):
    """Third family (r10): the v2-checkpoint-policy + minor-log-
    compaction housekeeping layout — uuid-named checkpoint manifest,
    file-action sidecar, and a {start}.{end}.compacted.json range —
    drift-pinned like the other two families."""
    from pyspark.sql import functions as F

    from data_lakehouse_platform_spark.sources.delta_lite import (
        DeltaLiteTable,
    )

    dv = DeltaLiteTable(dvp)
    dv.write(seed_df(spark))                          # v0: create
    dv.write(seed_df(spark).filter("id < 5")
             .withColumn("score", F.col("score") + 1),
             mode="append")                           # v1: append
    dv.upgrade_v2_checkpoints()                       # v2: policy flip
    dv.delete(spark, "id = 7")                        # v3: delete
    dv.write(seed_df(spark).filter("id = 7")
             .withColumn("score", F.lit(99.0)),
             mode="append")                           # v4: append
    dv.compact_log(0, 2)                              # 0.2.compacted
    dv.checkpoint()                                   # V2 layout @ v4
    print("delta_v2ckpt versions:", dv.all_versions())



def _build_v3dv(spark, path):
    """Fourth family (r10): a v3 table whose delete is a Puffin
    deletion vector — pins the puffin writer's bytes and the v3 DV
    read path against drift.  Two data files; the DV retracts
    positions 0 and 2 of the six-row file (ids 0 and 2)."""
    import pyarrow.parquet as pq

    from data_lakehouse_platform_spark.sources.iceberg_lite import (
        IcebergLiteTable,
    )

    t = IcebergLiteTable(path)
    t.write(seed_df(spark).filter("id < 6"))
    t.write(seed_df(spark).filter("id >= 6"), mode="append")
    files, _ = t.plan_files()
    file_a = next(
        p for p, _s, _pt in files if pq.read_metadata(p).num_rows == 6
    )
    add_dv_snapshot(t, {file_a: [0, 2]})
    print("iceberg_v3dv snapshots:",
          [s["snapshot-id"] for s in t.metadata().get("snapshots", [])])


def main():
    from data_lakehouse_platform_spark.session import get_spark

    spark = get_spark("golden-fixtures", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    force = os.environ.get("GOLDEN_FORCE") == "1"

    flat = [os.path.join(HERE, "delta_table"),
            os.path.join(HERE, "iceberg_table")]
    part = [os.path.join(HERE, "delta_partitioned"),
            os.path.join(HERE, "iceberg_partitioned")]
    v2c = [os.path.join(HERE, "delta_v2ckpt")]
    v3dv = [os.path.join(HERE, "iceberg_v3dv")]
    for group, build in ((flat, _build_flat), (part, _build_partitioned),
                         (v2c, _build_v2ckpt), (v3dv, _build_v3dv)):
        if not force and all(os.path.isdir(p) for p in group):
            print(f"{[os.path.basename(p) for p in group]} present; "
                  "skipping (GOLDEN_FORCE=1 rebuilds)")
            continue
        for p in group:
            if os.path.isdir(p):
                shutil.rmtree(p)
        build(spark, *group)


if __name__ == "__main__":
    main()
