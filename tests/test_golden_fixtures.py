"""Golden format fixtures (r9): a Delta and an Iceberg table written by
THIS engine in an earlier round are committed under
tests/fixtures/golden/.  Every later round must still (a) READ them
bit-exactly and (b) write logs of the same ACTION SHAPE — so format
drift across rounds is caught even without the JVM runtimes to
cross-validate against (VERDICT r8, What's missing #1).

Regenerate (only on an intentional format change) with
tests/fixtures/golden/generate.py and review the diff by hand.
"""

from __future__ import annotations

import json
import os
import re

import pytest

from data_lakehouse_platform_spark.sources.delta_lite import DeltaLiteTable
from data_lakehouse_platform_spark.sources.iceberg_lite import (
    IcebergLiteTable,
)

GOLDEN = os.path.join(os.path.dirname(__file__), "fixtures", "golden")


def _seed_rows():
    return [
        (i, i % 3, f"row-{i}", i * 2.5) for i in range(20)
    ]


def test_golden_delta_reads_bit_exact(spark):
    t = DeltaLiteTable(os.path.join(GOLDEN, "delta_table"))
    assert t.all_versions() == [0, 1, 2, 3]
    # v0 = the seed
    v0 = sorted(tuple(r) for r in t.read(spark, version=0).collect())
    assert v0 == sorted(_seed_rows())
    # latest = seed + bumped-score dups of ids 0-4, minus every id=1
    expect = [r for r in _seed_rows() if r[0] != 1]
    expect += [
        (i, i % 3, f"row-{i}", i * 2.5 + 1.0) for i in range(5) if i != 1
    ]
    latest = sorted(tuple(r) for r in t.read(spark).collect())
    assert latest == sorted(expect)


def test_golden_iceberg_reads_bit_exact(spark, iceberg_golden):
    t = IcebergLiteTable(iceberg_golden("iceberg_table"))
    snaps = [int(s["snapshot-id"]) for s in t.metadata()["snapshots"]]
    assert snaps == [1, 2, 3]
    s1 = sorted(
        tuple(r) for r in t.read(spark, snapshot_id=1).collect()
    )
    assert s1 == sorted(_seed_rows())
    expect = [r for r in _seed_rows() if r[0] != 2]
    expect += [
        (i, i % 3, f"row-{i}", i * 2.5) for i in range(5) if i != 2
    ]
    latest = sorted(tuple(r) for r in t.read(spark).collect())
    assert latest == sorted(expect)


def _delta_log_shape(log_dir: str) -> list[list[str]]:
    """Per version: sorted list of 'actionType:key1,key2,...' strings —
    the log's structural shape with every value stripped."""
    shape = []
    for f in sorted(os.listdir(log_dir)):
        if not re.fullmatch(r"\d{20}\.json", f):
            continue
        acts = []
        with open(os.path.join(log_dir, f)) as fh:
            for line in fh:
                if not line.strip():
                    continue
                a = json.loads(line)
                (k, body), = a.items()
                keys = ",".join(sorted(body)) if isinstance(body, dict) else ""
                acts.append(f"{k}:{keys}")
        shape.append(sorted(acts))
    return shape


def test_fresh_delta_write_matches_golden_log_shape(spark, tmp_path):
    """A fresh run of the generator sequence must produce commits with
    the same action types and the same per-action key sets as the
    committed fixture — a writer-side format drift (dropped stats,
    renamed field, lost commitInfo) flips this before it ships."""
    import sys

    sys.path.insert(0, GOLDEN)
    from generate import seed_df  # noqa: E402
    from pyspark.sql import functions as F

    t = DeltaLiteTable(str(tmp_path / "fresh"))
    df = seed_df(spark)
    t.write(df)
    t.write(df.filter("id >= 20"), mode="append")
    t.write(
        seed_df(spark).withColumn("score", F.col("score") + 1)
        .filter("id < 5"),
        mode="append",
    )
    t.delete(spark, "id = 1")
    t.checkpoint()
    fresh = _delta_log_shape(t.log_dir)
    golden = _delta_log_shape(
        os.path.join(GOLDEN, "delta_table", "_delta_log")
    )
    assert fresh == golden
    # checkpoint sidecar naming stays stable too
    cp_names = [
        re.sub(r"\d{20}", "V", f)
        for f in sorted(os.listdir(t.log_dir))
        if "checkpoint" in f or f == "_last_checkpoint"
    ]
    golden_cp = [
        re.sub(r"\d{20}", "V", f)
        for f in sorted(
            os.listdir(os.path.join(GOLDEN, "delta_table", "_delta_log"))
        )
        if "checkpoint" in f or f == "_last_checkpoint"
    ]
    assert cp_names == golden_cp


def test_fresh_iceberg_write_matches_golden_metadata_shape(
    spark, tmp_path
):
    import sys

    sys.path.insert(0, GOLDEN)
    from generate import seed_df  # noqa: E402

    t = IcebergLiteTable(str(tmp_path / "fresh_i"))
    df = seed_df(spark)
    t.write(df)
    t.write(seed_df(spark).filter("id < 5"), mode="append")
    t.delete(spark, "id = 2")

    def meta_shape(tbl):
        m = tbl.metadata()
        return (
            sorted(m),
            sorted(m["snapshots"][-1]),
            sorted(m["snapshots"][-1].get("summary", {})),
        )

    golden = IcebergLiteTable(os.path.join(GOLDEN, "iceberg_table"))
    assert meta_shape(t) == meta_shape(golden)


def test_golden_partitioned_delta_reads_bit_exact(spark):
    """r9 second family: hive-partitioned + column-mapped (renamed) +
    DV-deleted + checkpointed — the layout an adopted production table
    actually has."""
    t = DeltaLiteTable(os.path.join(GOLDEN, "delta_partitioned"))
    got = t.read(spark)
    assert sorted(got.columns) == ["bucket", "id", "label", "score"]
    rows = sorted(
        (r.id, r.bucket, r.label, r.score) for r in got.collect()
    )
    assert rows == sorted(
        (i, i % 3, f"row-{i}", i * 2.5) for i in range(20) if i != 4
    )


def test_golden_partitioned_iceberg_reads_bit_exact(spark, iceberg_golden):
    """r9 second family: hidden bucket[4] partitioning + a one-snapshot
    equality-delete upsert (merge-on-read) — ids 0-2 carry the
    upserted +10 scores, the equality delete retracts their originals."""
    t = IcebergLiteTable(iceberg_golden("iceberg_partitioned"))
    rows = sorted(
        (r.id, r.bucket, r.name, r.score) for r in t.read(spark).collect()
    )
    expect = sorted(
        (i, i % 3, f"row-{i}", i * 2.5 + (10.0 if i < 3 else 0.0))
        for i in range(20)
    )
    assert rows == expect
    # time travel before the upsert sees the original scores
    first = sorted(
        (r.id, r.score)
        for r in t.read(spark, snapshot_id=1).collect()
    )
    assert first == sorted((i, i * 2.5) for i in range(20))


def test_fresh_partitioned_writes_match_golden_shapes(spark, tmp_path):
    import sys

    sys.path.insert(0, GOLDEN)
    from generate import _build_partitioned

    _build_partitioned(
        spark, str(tmp_path / "dp"), str(tmp_path / "ip")
    )
    fresh = _delta_log_shape(str(tmp_path / "dp" / "_delta_log"))
    golden = _delta_log_shape(
        os.path.join(GOLDEN, "delta_partitioned", "_delta_log")
    )
    assert fresh == golden

    def meta_shape(p):
        t = IcebergLiteTable(p)
        m = t.metadata()
        return (
            sorted(m),
            [sorted(s) for s in m["snapshots"]],
            sorted(m["partition-specs"][0]["fields"][0]),
        )

    assert meta_shape(str(tmp_path / "ip")) == meta_shape(
        os.path.join(GOLDEN, "iceberg_partitioned")
    )


def test_golden_v2ckpt_delta_reads_bit_exact(spark):
    """r10 third family: v2-checkpoint policy (uuid manifest +
    sidecar) plus a minor log compaction — the two housekeeping
    surfaces r8/r9 added, now drift-pinned like the other families."""
    t = DeltaLiteTable(os.path.join(GOLDEN, "delta_v2ckpt"))
    assert t.all_versions() == [0, 1, 2, 3, 4]
    seed = _seed_rows()
    v0 = sorted(tuple(r) for r in t.read(spark, version=0).collect())
    assert v0 == sorted(seed)
    # v3 = seed + bumped dups of ids 0-4, minus id=7
    v3_expect = [r for r in seed if r[0] != 7]
    v3_expect += [(i, i % 3, f"row-{i}", i * 2.5 + 1.0) for i in range(5)]
    v3 = sorted(tuple(r) for r in t.read(spark, version=3).collect())
    assert v3 == sorted(v3_expect)
    # latest adds id=7 back at score 99
    latest_expect = v3_expect + [(7, 1, "row-7", 99.0)]
    latest = sorted(tuple(r) for r in t.read(spark).collect())
    assert latest == sorted(latest_expect)
    # layout: uuid-named V2 manifest, sidecar dir, compacted range
    log = os.listdir(os.path.join(GOLDEN, "delta_v2ckpt", "_delta_log"))
    assert any(
        re.fullmatch(
            r"\d{20}\.checkpoint\.[0-9a-f-]{36}\.parquet", f
        )
        for f in log
    )
    assert "_sidecars" in log
    assert (
        "00000000000000000000.00000000000000000002.compacted.json" in log
    )


def test_fresh_v2ckpt_build_matches_golden_shapes(spark, tmp_path):
    """A fresh generator run reproduces the same commit action shapes,
    the same compacted-file action shape, and the same (normalized)
    checkpoint file naming as the committed fixture."""
    import sys

    sys.path.insert(0, GOLDEN)
    from generate import _build_v2ckpt

    _build_v2ckpt(spark, str(tmp_path / "dv"))
    fresh_log = str(tmp_path / "dv" / "_delta_log")
    golden_log = os.path.join(GOLDEN, "delta_v2ckpt", "_delta_log")
    assert _delta_log_shape(fresh_log) == _delta_log_shape(golden_log)

    def compacted_shape(log_dir):
        (name,) = [f for f in os.listdir(log_dir) if "compacted" in f]
        acts = []
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                if line.strip():
                    a = json.loads(line)
                    (k, body), = a.items()
                    acts.append(
                        f"{k}:"
                        + ",".join(sorted(body))
                        if isinstance(body, dict)
                        else k
                    )
        return (name, sorted(acts))

    assert compacted_shape(fresh_log) == compacted_shape(golden_log)

    def norm_names(log_dir):
        out = []
        for f in sorted(os.listdir(log_dir)):
            n = re.sub(r"\d{20}", "V", f)
            n = re.sub(r"[0-9a-f-]{36}", "U", n)
            out.append(n)
        return sorted(out)

    assert norm_names(fresh_log) == norm_names(golden_log)
    # sidecar dir holds the same count of parquet sidecars
    fs = os.listdir(os.path.join(fresh_log, "_sidecars"))
    gs = os.listdir(os.path.join(golden_log, "_sidecars"))
    assert len(fs) == len(gs) and all(f.endswith(".parquet") for f in fs)


def test_golden_v3dv_iceberg_reads_bit_exact(spark, iceberg_golden):
    """r10 fourth family: a v3 table with a Puffin deletion-vector
    snapshot — pins the Puffin writer's bytes and the DV read path
    (ids 0 and 2 retracted from the six-row file; time travel to the
    pre-DV snapshot sees everything)."""
    t = IcebergLiteTable(iceberg_golden("iceberg_v3dv"))
    assert t.metadata()["format-version"] == 3
    rows = sorted(
        (r.id, r.bucket, r.name, r.score) for r in t.read(spark).collect()
    )
    assert rows == sorted(
        (i, i % 3, f"row-{i}", i * 2.5) for i in range(20) if i not in (0, 2)
    )
    pre = sorted(r.id for r in t.read(spark, snapshot_id=2).collect())
    assert pre == list(range(20))
    # the committed puffin blob still passes its CRC + magic checks
    from data_lakehouse_platform_spark.sources.puffin import (
        read_dv_positions,
        read_footer,
    )

    (pf,) = [
        os.path.join(GOLDEN, "iceberg_v3dv", "metadata", f)
        for f in os.listdir(
            os.path.join(GOLDEN, "iceberg_v3dv", "metadata")
        )
        if f.endswith(".puffin")
    ]
    (blob,) = read_footer(pf)["blobs"]
    assert blob["type"] == "deletion-vector-v1"
    assert blob["properties"]["cardinality"] == "2"
    assert read_dv_positions(pf, blob["offset"], blob["length"]) == [0, 2]


def test_fresh_v3dv_build_matches_golden_shapes(
    spark, tmp_path, iceberg_golden
):
    """A fresh generator run reproduces the same snapshot/metadata
    shape and an identical DV decode as the committed fixture."""
    import sys

    sys.path.insert(0, GOLDEN)
    from generate import _build_v3dv

    _build_v3dv(spark, str(tmp_path / "v3dv"))
    fresh = IcebergLiteTable(str(tmp_path / "v3dv"))
    golden = IcebergLiteTable(iceberg_golden("iceberg_v3dv"))

    def shape(t):
        m = t.metadata()
        return (
            m["format-version"],
            sorted(m),
            [sorted(s) for s in m["snapshots"]],
            [s["summary"].get("operation") for s in m["snapshots"]],
        )

    assert shape(fresh) == shape(golden)
    got = sorted(r.id for r in fresh.read(spark).collect())
    want = sorted(r.id for r in golden.read(spark).collect())
    assert got == want


def _seed_row(i):
    return (i, i % 3, f"row-{i}", i * 2.5)


def test_golden_schema_evolved_iceberg_reads_bit_exact(spark, iceberg_golden):
    """Schema-evolved fixture: one data file per schema (add ``extra``,
    rename ``name`` -> ``label``, drop and re-add ``score``, promote
    ``id`` int -> long).  Every snapshot reads through ITS OWN schema,
    with older files resolved by field id: a renamed column keeps its
    values, an added column reads NULL, a re-added name reads NULL
    (new field id, never the dropped data), an int file casts up."""
    t = IcebergLiteTable(iceberg_golden("iceberg_schema_evolved"))
    snaps = t.metadata()["snapshots"]
    assert [int(s["snapshot-id"]) for s in snaps] == [1, 2, 3, 4, 5]
    assert [int(s["schema-id"]) for s in snaps] == [0, 1, 2, 4, 5]

    def extra(i):
        return i * 100 if i >= 4 else None

    def new_score(i):
        return float(-i) if i >= 8 else None

    base = [("id", "int"), ("bucket", "int")]
    expect = {
        1: (base + [("name", "string"), ("score", "double")],
            [_seed_row(i) for i in range(4)]),
        2: (base + [("name", "string"), ("score", "double"),
                    ("extra", "bigint")],
            [_seed_row(i) + (extra(i),) for i in range(6)]),
        3: (base + [("label", "string"), ("score", "double"),
                    ("extra", "bigint")],
            [_seed_row(i) + (extra(i),) for i in range(8)]),
        4: (base + [("label", "string"), ("extra", "bigint"),
                    ("score", "double")],
            [_seed_row(i)[:3] + (extra(i), new_score(i))
             for i in range(10)]),
        5: ([("id", "bigint")] + base[1:]
            + [("label", "string"), ("extra", "bigint"),
               ("score", "double")],
            [_seed_row(i)[:3] + (extra(i), new_score(i))
             for i in range(12)]),
    }
    for sid, (dtypes, rows) in expect.items():
        df = t.read(spark, snapshot_id=sid)
        assert df.dtypes == dtypes, sid
        assert sorted(tuple(r) for r in df.collect()) == sorted(rows), sid
    latest = t.read(spark)
    assert latest.dtypes == expect[5][0]
    assert sorted(tuple(r) for r in latest.collect()) == sorted(expect[5][1])


def test_golden_schema_evolved_incremental_read(spark, iceberg_golden):
    """The incremental append scan projects every file through the
    CURRENT schema by field id, pre-rename and pre-promotion files
    included."""
    t = IcebergLiteTable(iceberg_golden("iceberg_schema_evolved"))
    got = sorted(tuple(r) for r in t.incremental_read(spark, 3).collect())
    assert got == [
        (i, i % 3, f"row-{i}", i * 100, float(-i)) for i in range(8, 12)
    ]
    full = t.incremental_read(spark, None)
    assert full.columns == ["id", "bucket", "label", "extra", "score"]
    assert sorted(r.id for r in full.collect()) == list(range(12))


def test_golden_spec_evolved_iceberg_reads_bit_exact(spark, iceberg_golden):
    """Spec-evolved fixture: ids 0-9 under an identity spec on
    ``bucket``, ids 10-19 under ``bucket[4]`` of ``id``, then one
    position delete over both (ids 1 and 11).  Every snapshot reads
    exactly; each manifest keeps its own spec id; a dict partition
    filter on a field that only one spec has is refused; predicate
    reads and manifest-stat pruning stay exact across specs."""
    from data_lakehouse_platform_spark.sources.avro_lite import (
        read_container,
    )
    from data_lakehouse_platform_spark.sources.iceberg_lite import (
        IcebergProtocolError,
    )

    t = IcebergLiteTable(iceberg_golden("iceberg_spec_evolved"))
    meta = t.metadata()
    assert [int(s["snapshot-id"]) for s in meta["snapshots"]] == [1, 2, 3]
    assert [
        [f["transform"] for f in s["fields"]]
        for s in meta["partition-specs"]
    ] == [["identity"], ["bucket[4]"]]
    expect = {
        1: [_seed_row(i) for i in range(10)],
        2: [_seed_row(i) for i in range(20)],
        3: [_seed_row(i) for i in range(20) if i not in (1, 11)],
    }
    for sid, rows in expect.items():
        got = sorted(
            tuple(r) for r in t.read(spark, snapshot_id=sid).collect()
        )
        assert got == sorted(rows), sid

    cur = next(s for s in meta["snapshots"] if s["snapshot-id"] == 3)
    _, ml = read_container(cur["manifest-list"])
    assert {
        int(r["partition_spec_id"]) for r in ml if int(r["content"]) == 0
    } == {0, 1}
    data_files, deletes = t.plan_files()
    assert sorted({tuple(part) for _p, _s, part in data_files}) == [
        ("bucket",), ("id_bucket",)
    ]
    assert [d["kind"] for d in deletes] == ["pos"]

    with pytest.raises(IcebergProtocolError, match="not\\s+present on every"):
        t.plan_files(partition_filter={"bucket": 0})
    got = sorted(
        r.id for r in t.read(spark, predicate="bucket = 0").collect()
    )
    assert got == [i for i in range(20) if i % 3 == 0]
    kept, total = t.files_matching(spark, "id >= 10")
    assert total == 7 and len(kept) == 4
    got = sorted(r.id for r in t.read(spark, predicate="id >= 10").collect())
    assert got == [i for i in range(10, 20) if i != 11]
