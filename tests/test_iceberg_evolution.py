"""Iceberg schema evolution as another writer leaves it: this engine's
own writes stamp field ids into parquet footers, and the sink's append
into the frozen ``iceberg_schema_evolved`` fixture (add, rename, drop
+ re-add, int->long promotion; tests/fixtures/golden/generate.py)
follows the CURRENT schema.  The fixture's per-snapshot reads are
pinned in test_golden_fixtures.py."""

from __future__ import annotations

import glob
import json
import os
from decimal import Decimal

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from data_lakehouse_platform_spark.sources.iceberg_lite import (
    IcebergLiteTable,
)


@pytest.fixture
def t(iceberg_golden):
    """A relocated copy of the frozen fixture, private to the test."""
    return IcebergLiteTable(iceberg_golden("iceberg_schema_evolved"))


def _mk(spark, tmp_path, name="t"):
    t = IcebergLiteTable(str(tmp_path / name))
    df = spark.range(6).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
        F.concat(F.lit("row"), F.col("id").cast("string")).alias("s"),
    )
    t.write(df)
    return t


def test_own_writes_carry_field_ids(spark, tmp_path):
    t = _mk(spark, tmp_path)
    files = glob.glob(os.path.join(t.path, "data", "**", "*.parquet"),
                      recursive=True)
    assert files
    for f in files:
        ids = {
            fld.name: (fld.metadata or {}).get(b"PARQUET:field_id")
            for fld in pq.read_schema(f)
        }
        assert ids == {"k": b"1", "v": b"2", "s": b"3"}


def test_append_to_evolved_table_follows_current_schema(spark, t):
    before = {p for p, _s, _pt in t.plan_files()[0]}
    # the pre-evolution shape is refused: no implicit evolution
    with pytest.raises(ValueError, match="schema differs"):
        t.write(
            spark.createDataFrame(
                [(12, 0, "row-12", 30.0)],
                "id int, bucket int, name string, score double",
            ),
            mode="append",
        )
    t.write(
        spark.createDataFrame(
            [(12, 0, "row-12", 1200, -12.0)],
            "id long, bucket int, label string, extra long, score double",
        ),
        mode="append",
    )
    new = [p for p, _s, _pt in t.plan_files()[0] if p not in before]
    assert new
    for f in new:
        ids = {
            fld.name: (fld.metadata or {}).get(b"PARQUET:field_id")
            for fld in pq.read_schema(f)
        }
        # the TABLE's ids, not positional ones: score was re-added as 6
        assert ids == {"id": b"1", "bucket": b"2", "label": b"3",
                       "extra": b"5", "score": b"6"}
    got = {r.id: (r.label, r.extra, r.score) for r in t.read(spark).collect()}
    assert got[12] == ("row-12", 1200, -12.0)
    assert got[0] == ("row-0", None, None) and len(got) == 13


# -- reads of the frozen fixture, one evolution step per test --------
# fixture rows: id i in 0..11, bucket i % 3, name/label "row-i",
# old score i * 2.5 (field 4, dropped), extra i * 100 from id 4 on,
# re-added score -i (field 6) from id 8 on.  Snapshot k adds 2 ids
# (4 in the first), each under the schema of its snapshot.

_SNAP_IDS = {1: 4, 2: 6, 3: 8, 4: 10, 5: 12}  # snapshot -> ids 0..n-1


def _latest_row(i):
    return (i, i % 3, f"row-{i}", i * 100 if i >= 4 else None,
            float(-i) if i >= 8 else None)


def test_rename_reads_old_files_through_field_id(spark, t):
    """``name`` became ``label`` at snapshot 3: files written before the
    rename answer a read, a predicate and a stats prune on the NEW
    name, because all three resolve field id 3."""
    assert "name" not in t.read(spark).columns
    got = t.read(spark, predicate="label = 'row-1'").collect()
    assert [(r.id, r.label) for r in got] == [(1, "row-1")]
    kept, total = t.files_matching(spark, "label = 'row-5'")
    assert total == 5 and len(kept) == 1
    # the snapshot before the rename still reads under the old name
    old = t.read(spark, snapshot_id=2)
    assert "label" not in old.columns
    assert sorted(r.name for r in old.collect()) == sorted(
        f"row-{i}" for i in range(6)
    )


def test_drop_then_readd_same_name_reads_null_not_old_data(spark, t):
    """``score`` (field 4) was dropped and re-added as field 6: rows
    from before the re-add read NULL, never the dropped values, while
    time travel to before the drop still sees them."""
    got = {r.id: r.score for r in t.read(spark).collect()}
    assert got == {i: _latest_row(i)[4] for i in range(12)}
    with_score = sorted(
        r.id
        for r in t.read(spark, predicate="score IS NOT NULL").collect()
    )
    assert with_score == [8, 9, 10, 11]
    before_drop = {
        r.id: r.score for r in t.read(spark, snapshot_id=3).collect()
    }
    assert before_drop == {i: i * 2.5 for i in range(8)}


def test_type_promotion_casts_old_files_up(spark, t):
    """``id`` went int -> long at snapshot 5: every file reads as
    bigint, and the 4-byte bounds of the int-era files still prune."""
    df = t.read(spark)
    assert dict(df.dtypes)["id"] == "bigint"
    assert sorted(r.id for r in df.collect()) == list(range(12))
    kept, total = t.files_matching(spark, "id >= 10")
    assert total == 5 and len(kept) == 1
    kept, _t = t.files_matching(spark, "id = 3")
    assert len(kept) == 1
    assert [r.id for r in t.read(spark, predicate="id = 3").collect()] == [3]


def _promote(t, new_types):
    """Commit a safe type promotion as another engine's ``ALTER COLUMN
    ... TYPE`` leaves it: a new current schema in the next metadata
    version, written by hand, with every data file untouched."""
    meta = t.metadata()
    cur = next(
        s for s in meta["schemas"]
        if s["schema-id"] == meta["current-schema-id"]
    )
    sid = max(s["schema-id"] for s in meta["schemas"]) + 1
    meta["schemas"].append({
        **cur, "schema-id": sid,
        "fields": [
            {**f, "type": new_types.get(f["name"], f["type"])}
            for f in cur["fields"]
        ],
    })
    meta["current-schema-id"] = sid
    hint = os.path.join(t.metadata_dir, "version-hint.text")
    with open(hint) as fh:
        v = int(fh.read()) + 1
    with open(os.path.join(t.metadata_dir, f"v{v}.metadata.json"),
              "w") as fh:
        json.dump(meta, fh)
    with open(hint, "w") as fh:
        fh.write(str(v))


def test_float_and_decimal_promotion_cast_old_files_up(spark, tmp_path):
    """float -> double and decimal(10,2) -> decimal(20,2): the file
    written before the promotion reads through the cast to the current
    types, beside a file written after it, and its 4-byte float bounds
    still prune."""
    t = IcebergLiteTable(str(tmp_path / "promo"))
    t.write(
        spark.range(3).select(
            F.col("id").alias("k"),
            (F.col("id") + 0.5).cast("float").alias("x"),
            F.col("id").cast("decimal(10,2)").alias("amt"),
        ).coalesce(1)
    )
    _promote(t, {"x": "double", "amt": "decimal(20,2)"})
    assert dict(t.read(spark).dtypes) == {
        "k": "bigint", "x": "double", "amt": "decimal(20,2)"
    }
    t.write(
        spark.range(3, 5).select(
            F.col("id").alias("k"),
            (F.col("id") + 0.5).alias("x"),
            F.col("id").cast("decimal(20,2)").alias("amt"),
        ).coalesce(1),
        mode="append",
    )
    got = sorted(tuple(r) for r in t.read(spark).collect())
    assert got == [(i, i + 0.5, Decimal(f"{i}.00")) for i in range(5)]
    kept, total = t.files_matching(spark, "x > 3.0")
    assert total == 2 and len(kept) == 1
    assert [r.k for r in t.read(spark, predicate="x < 1.0").collect()] == [0]


def test_add_column_then_append_then_time_travel(spark, t):
    """An append after the evolutions lands under the current schema;
    the snapshot from before ``extra`` existed still reads four
    columns and its four rows."""
    sid = t.write(
        spark.createDataFrame(
            [(12, 0, "row-12", 1200, -12.0)],
            "id long, bucket int, label string, extra long, score double",
        ),
        mode="append",
    )
    assert sid == 6
    first = t.read(spark, snapshot_id=1)
    assert first.columns == ["id", "bucket", "name", "score"]
    assert sorted(tuple(r) for r in first.collect()) == [
        (i, i % 3, f"row-{i}", i * 2.5) for i in range(4)
    ]
    got = sorted(tuple(r) for r in t.read(spark).collect())
    assert got == [_latest_row(i) for i in range(13)]


@pytest.mark.parametrize("sid", sorted(_SNAP_IDS))
def test_time_travel_predicate_read_per_schema(spark, t, sid):
    """A predicate read at each snapshot resolves the predicate column
    under THAT snapshot's schema and returns exactly its rows."""
    got = sorted(
        r.id
        for r in t.read(spark, snapshot_id=sid, predicate="bucket = 1")
        .collect()
    )
    assert got == [i for i in range(_SNAP_IDS[sid]) if i % 3 == 1]


@pytest.mark.parametrize("start", [1, 2, 4])
def test_incremental_read_from_each_evolution(spark, t, start):
    """The append scan after snapshot ``start`` returns the later ids
    under the CURRENT schema, across the rename, drop and promotion."""
    df = t.incremental_read(spark, start)
    assert df.columns == ["id", "bucket", "label", "extra", "score"]
    got = sorted(tuple(r) for r in df.collect())
    assert got == [_latest_row(i) for i in range(_SNAP_IDS[start], 12)]


def test_upsert_matches_old_schema_files_by_field_id(spark, t):
    """The equality delete of an upsert on ``id`` retracts rows of the
    int-era, pre-rename files too: deletes match on field id 1, whatever
    the file calls or types it."""
    src = [(2, 2, "new-2", 7, 2.0), (9, 0, "new-9", 9, 9.0)]
    t.upsert(
        spark,
        spark.createDataFrame(
            src,
            "id long, bucket int, label string, extra long, score double",
        ),
        keys=["id"],
    )
    got = sorted(tuple(r) for r in t.read(spark).collect())
    want = [_latest_row(i) for i in range(12) if i not in (2, 9)] + src
    assert got == sorted(want)


def test_delete_by_renamed_column_on_old_files(spark, t):
    """A position delete driven by a predicate on the renamed column
    finds its row in a file written under the old name."""
    res = t.delete(spark, "label = 'row-1'")
    assert res["rows_deleted"] == 1 and res["files_touched"] == 1
    got = sorted(r.id for r in t.read(spark).collect())
    assert got == [i for i in range(12) if i != 1]
    assert 1 in {r.id for r in t.read(spark, snapshot_id=5).collect()}


def test_rewrite_projects_every_file_to_current_schema(spark, t):
    """Compaction rewrites the five per-schema files as current-schema
    files with the table's field ids; values, the dropped column's
    NULLs included, read the same, and the old snapshots still do."""
    before = sorted(tuple(r) for r in t.read(spark).collect())
    res = t.rewrite_data_files(spark)
    assert res["rewritten_files"] == 5
    assert sorted(tuple(r) for r in t.read(spark).collect()) == before
    for p, _s, _pt in t.plan_files()[0]:
        ids = {
            fld.name: (fld.metadata or {}).get(b"PARQUET:field_id")
            for fld in pq.read_schema(p)
        }
        assert ids == {"id": b"1", "bucket": b"2", "label": b"3",
                       "extra": b"5", "score": b"6"}
    assert sorted(
        r.score for r in t.read(spark, snapshot_id=3).collect()
    ) == [i * 2.5 for i in range(8)]
