from __future__ import annotations

import os
import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from data_lakehouse_platform_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_MED = os.environ.get("SPARK_GRAFT_TEST_SF_DIR_MED", "/root/testdata/sf0.01")

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = get_spark("dlp-tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def assert_matches_oracle(spark_df, duck_con, oracle_sql: str, *, float_tol: float = 0.0):
    """Replicate the driver's compare: row count, column-name set, and
    order-insensitive value comparison on name-sorted columns."""
    import math

    cols = sorted(spark_df.columns)
    spark_rows = [tuple(row[c] for c in cols) for row in spark_df.collect()]

    duck_res = duck_con.execute(oracle_sql)
    duck_cols = [d[0] for d in duck_res.description]
    assert sorted(duck_cols) == cols, f"schema mismatch: spark={cols} duck={sorted(duck_cols)}"
    idx = [duck_cols.index(c) for c in cols]
    duck_rows = [tuple(r[i] for i in idx) for r in duck_res.fetchall()]

    assert len(spark_rows) == len(duck_rows), (
        f"row count mismatch: spark={len(spark_rows)} duck={len(duck_rows)}"
    )

    def norm(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "nan"
            return round(v, 9)
        return v

    s_sorted = sorted([tuple(norm(v) for v in r) for r in spark_rows], key=repr)
    d_sorted = sorted([tuple(norm(v) for v in r) for r in duck_rows], key=repr)

    def cell_eq(a, b):
        # with a nonzero tolerance, floats compare by |a-b| <= tol on
        # the sorted pairing (independent bucketing would both fail
        # in-tolerance near-ties and pass ~2x-tolerance differences)
        if float_tol > 0.0 and isinstance(a, float) and isinstance(b, float):
            return abs(a - b) <= float_tol
        return a == b

    mismatches = [
        (a, b)
        for a, b in zip(s_sorted, d_sorted)
        if not (len(a) == len(b) and all(cell_eq(x, y) for x, y in zip(a, b)))
    ]
    assert not mismatches, f"value mismatch (first 3): {mismatches[:3]}"


GOLDEN = Path(__file__).resolve().parent / "fixtures" / "golden"


def relocate_iceberg_table(src: str, dst: str) -> str:
    """Copy the Iceberg table at ``src`` to ``dst`` and point every
    path its metadata records at the copy.  Iceberg metadata holds
    absolute paths (table location, manifest lists, manifests, data
    and delete files), so a plain copy of a committed fixture would
    still read the files of the checkout that generated it.  Rewritten
    here: position-delete parquet (``file_path`` column), Puffin
    footers, manifests and manifest lists (with the file sizes and
    manifest lengths they record) and every metadata.json."""
    import io
    import json
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_lakehouse_platform_spark.sources import avro_lite, puffin

    shutil.copytree(src, dst)
    mdir = os.path.join(dst, "metadata")
    metas = [f for f in os.listdir(mdir) if f.endswith(".metadata.json")]
    with open(os.path.join(mdir, metas[0])) as fh:
        old = json.load(fh)["location"]

    def fix(v):
        if isinstance(v, str) and (v == old or v.startswith(old + "/")):
            return dst + v[len(old):]
        if isinstance(v, dict):
            return {k: fix(x) for k, x in v.items()}
        if isinstance(v, list):
            return [fix(x) for x in v]
        return v

    def rewrite_avro(path, rows_fn):
        with open(path, "rb") as fh:
            buf = io.BytesIO(fh.read())
        buf.read(len(avro_lite.MAGIC))
        codec = avro_lite._Codec({"type": "map", "values": "bytes"})
        file_meta = codec.decode(buf, codec.schema)
        schema, rows = avro_lite.read_container(path)
        avro_lite.write_container(
            path, schema, rows_fn(rows),
            codec=file_meta["avro.codec"].decode(),
            extra_metadata={
                k: v for k, v in file_meta.items()
                if not k.startswith("avro.")
            },
        )

    lists = [f for f in os.listdir(mdir) if f.startswith("snap-")]
    manifests = {
        fix(r["manifest_path"])
        for f in lists
        for r in avro_lite.read_container(os.path.join(mdir, f))[1]
    }
    for m in manifests:  # delete payloads that name data files
        for e in avro_lite.read_container(m)[1]:
            d = e["data_file"]
            p = fix(d["file_path"])
            if d["file_format"] == "PUFFIN" and d["content"] == 1:
                footer, blobs = puffin.read_footer(p), []
                with open(p, "rb") as fh:
                    for b in footer["blobs"]:
                        fh.seek(b["offset"])
                        blobs.append((fix(b), fh.read(b["length"])))
                puffin.write_file(p, blobs, footer.get("properties"))
            elif d["content"] == 1:
                t = pq.read_table(p)
                i = t.schema.get_field_index("file_path")
                paths = pa.array(
                    [fix(x) for x in t.column(i).to_pylist()], pa.string()
                )
                pq.write_table(t.set_column(i, t.schema.field(i), paths), p)
                crc = os.path.join(
                    os.path.dirname(p), f".{os.path.basename(p)}.crc"
                )
                if os.path.exists(crc):  # Hadoop's checksum of the old bytes
                    os.remove(crc)

    def fix_entries(rows):
        rows = fix(rows)
        for e in rows:
            e["data_file"]["file_size_in_bytes"] = os.path.getsize(
                e["data_file"]["file_path"]
            )
        return rows

    def fix_list(rows):
        rows = fix(rows)
        for r in rows:
            r["manifest_length"] = os.path.getsize(r["manifest_path"])
        return rows

    for m in manifests:
        rewrite_avro(m, fix_entries)
    for f in lists:
        rewrite_avro(os.path.join(mdir, f), fix_list)
    for f in metas:
        with open(os.path.join(mdir, f)) as fh:
            meta = fix(json.load(fh))
        with open(os.path.join(mdir, f), "w") as fh:
            json.dump(meta, fh)
    return dst


@pytest.fixture
def iceberg_golden(tmp_path):
    """``iceberg_golden(name)`` -> path of a relocated copy of the
    committed Iceberg golden fixture ``name``, under ``tmp_path``."""

    def copy(name: str) -> str:
        return relocate_iceberg_table(
            str(GOLDEN / name), str(tmp_path / "golden" / name)
        )

    return copy
