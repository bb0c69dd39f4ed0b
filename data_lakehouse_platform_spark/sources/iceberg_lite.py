"""Dependency-free Apache Iceberg table reader (v1/v2) and sink writer.

Iceberg is an interop EDGE here, not a second table engine: the
engine's native format is DeltaLiteTable.  The contract has two
parts.  (a) READ what an Iceberg writer produced: v1/v2 snapshots and
time travel, position deletes and sequence-gated equality deletes,
field-id schema evolution and mixed-spec reads, manifest-stat
pruning, v3 Puffin deletion vectors (any other v3 construct refuses
by name), and the incremental append scan the streaming source
(sources/iceberg_stream.py) tails.  (b) The WRITE verbs the two
streaming sinks and their tables need: :meth:`~IcebergLiteTable.write`,
:meth:`~IcebergLiteTable.upsert`, :meth:`~IcebergLiteTable.delete`,
:meth:`~IcebergLiteTable.rewrite_data_files` and
:meth:`~IcebergLiteTable.committed_batches`.  Table maintenance —
MERGE, restore, vacuum, schema evolution, Z-order — lives on
DeltaLiteTable; a table another engine evolved or expired still reads.

The reference stack's interchange formats are the open table formats
(delta_lite covers Delta); Iceberg is the other one a migrating user
may hold.  No Iceberg runtime jar ships in this container (JARS.md),
but the table format is a PUBLIC spec (https://iceberg.apache.org/spec/)
whose metadata is plain JSON + Avro, so a snapshot read needs no jar:

* ``metadata/v{N}.metadata.json`` (or ``{seq}-{uuid}.metadata.json``)
  holds the snapshot list; ``version-hint.text`` points at the current
  one for filesystem catalogs;
* each snapshot names a MANIFEST LIST (Avro): one row per manifest,
  with ``content`` 0 = data manifests, 1 = delete manifests (v2);
* each manifest (Avro) holds ``manifest_entry`` rows: ``status``
  (0 existing / 1 added / 2 deleted) + a ``data_file`` record with
  ``file_path``, ``file_format``, and for v2 a ``content`` field
  (0 data / 1 position deletes / 2 equality deletes);
* POSITION DELETES are parquet files of (file_path, pos) pairs —
  applied here via the same ``_metadata.row_index`` anti-join
  delta_lite uses for deletion vectors (both formats index 0-based
  row positions within the named data file);
* EQUALITY DELETES (v2) match rows on their ``equality_ids`` columns
  and apply only to data files with sequence number STRICTLY BELOW
  the delete's (spec sequencing, manifest-level inheritance honored):
  per-row file sequences ride a bounded file->seq map and each delete
  file becomes one null-safe anti-join.

Avro decoding is writer-schema-driven (sources/avro_lite.py), so
manifests written by any engine decode without this module hard-coding
Iceberg's Avro schemas.  COLUMN RESOLUTION IS BY FIELD-ID (the spec's
schema-evolution rule) whenever data files carry parquet field-id
metadata: renamed columns read their old physical names from
pre-rename files, later-added columns read as NULL — never the silent
all-NULL misread of a by-name projection.  Capability boundary,
refused loudly rather than misread: format-version > 2, non-parquet
data files, equality deletes without equality_ids or referencing
unknown field ids, absent columns whose NULL type cannot be
synthesized.

WRITES (:meth:`IcebergLiteTable.write`) produce v2 tables with
append/overwrite snapshots — data parquet under ``data/``, a
spec-shaped manifest + manifest list per commit (field-ids from the
spec's manifest tables, ``schema`` / ``partition-spec`` /
``format-version`` Avro file metadata), a new ``v{N}.metadata.json``
+ ``version-hint.text``.

PARTITIONING (Iceberg's "hidden partitioning"): writes accept
``partition_by=[("col", "identity"|"day"|"month"), ...]`` — the
transform values are computed as derived columns and the stage write
is ``partitionBy`` over them (one distributed pass, no driver loop;
the SOURCE columns stay in the data files as the spec requires, only
the derived transform columns land in directory names).  Each data
file's partition tuple is recorded in its manifest entry's
``partition`` record (avro field-ids from the table's partition
spec), which is what makes SCAN PLANNING work at 100 TB: ``read(...,
partition_filter=...)`` prunes data files from the MANIFEST alone —
no parquet footer is opened for a pruned file.  File-level pruning on
partition values is exact (every row in a data file shares the
file's partition tuple).  Unsupported transforms (bucket/truncate/
hour/...) refuse loudly on both read-plan and write paths.

STORAGE BOUNDARY — single POSIX filesystem ONLY (same boundary as
delta_lite, same reason): the optimistic commit writes
``v{N}.metadata.json`` with ``O_CREAT | O_EXCL`` put-if-absent and
repoints ``version-hint.text``; object stores have no compare-and-set
PUT, so two racing writers would silently drop a commit.  The
reference runs on MinIO (``s3a://``), so migrating users need a real
Iceberg catalog (REST/Hive/Glue — the catalog IS Iceberg's answer to
this) or an external single-writer guarantee before pointing this
module at s3a paths.  The commit primitive is isolated in
:meth:`IcebergLiteTable._commit_metadata_json` as the seam a
catalog-backed implementation would replace.
"""

from __future__ import annotations

import json
import os
import re
import time
import urllib.parse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_lakehouse_platform_spark.sources.avro_lite import read_container


class IcebergProtocolError(RuntimeError):
    """Table requires Iceberg features this reader does not speak."""


_VFILE_RE = re.compile(r"^v(\d+)\.metadata\.json$")
_SEQFILE_RE = re.compile(r"^(\d+)-[0-9a-fA-F-]+(?:\.gz)?\.metadata\.json$")


def _local_path(uri: str) -> str:
    """Iceberg metadata stores full URIs; strip the scheme for local
    filesystem access (file:///x, file:/x -> /x).  Percent-decoding
    applies only to URI forms — a bare path is already the literal
    on-disk name (hive-escaped partition dirs legitimately contain
    ``%XX`` sequences that must NOT be decoded)."""
    is_uri = False
    if "://" in uri:
        is_uri = True
        uri = uri.split("://", 1)[1]
        if not uri.startswith("/"):
            uri = "/" + uri
    elif uri.startswith("file:"):
        is_uri = True
        uri = uri[len("file:"):]
    return urllib.parse.unquote(uri) if is_uri else uri


# -- write-side Avro schemas (field-ids from the Iceberg spec's
# manifest-list / manifest-entry tables) --------------------------------

_ML_SCHEMA = {
    "type": "record", "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
    ],
}

def _manifest_schema(partition_fields: list[dict] | None = None) -> dict:
    """manifest_entry Avro schema; ``partition_fields`` are the r102
    partition-record fields ({"name", "type", "field-id"} each, nullable
    unions added here) for the table's partition spec."""
    part = [
        {"name": pf["name"], "type": ["null", pf["type"]],
         "default": None, "field-id": pf["field-id"]}
        for pf in (partition_fields or [])
    ]
    return {
        "type": "record", "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": ["null", "long"],
             "default": None, "field-id": 1},
            {"name": "sequence_number", "type": ["null", "long"],
             "default": None, "field-id": 3},
            {"name": "file_sequence_number", "type": ["null", "long"],
             "default": None, "field-id": 4},
            {"name": "data_file", "field-id": 2, "type": {
                "type": "record", "name": "r2",
                "fields": [
                    {"name": "content", "type": "int", "field-id": 134},
                    {"name": "file_path", "type": "string",
                     "field-id": 100},
                    {"name": "file_format", "type": "string",
                     "field-id": 101},
                    {"name": "partition", "field-id": 102, "type": {
                        "type": "record", "name": "r102",
                        "fields": part}},
                    {"name": "record_count", "type": "long",
                     "field-id": 103},
                    {"name": "file_size_in_bytes", "type": "long",
                     "field-id": 104},
                    # per-column stats (spec data_file fields 109/110/
                    # 125/128), avro-encoded the way Iceberg encodes
                    # maps in manifests: arrays of key/value records
                    # keyed by FIELD ID.  Bounds are the spec's
                    # single-value binary serialization.
                    _kv_map_field("value_counts", 109, 119, 120, "long"),
                    _kv_map_field(
                        "null_value_counts", 110, 121, 122, "long"
                    ),
                    _kv_map_field("lower_bounds", 125, 126, 127, "bytes"),
                    _kv_map_field("upper_bounds", 128, 129, 130, "bytes"),
                    # spec data_file field 135: the field ids an
                    # equality delete file (content=2) matches rows on.
                    # Nullable with a None default so every existing
                    # data/position-delete writer keeps encoding
                    # unchanged (avro_lite fills schema defaults for
                    # keys a record omits).
                    {"name": "equality_ids", "field-id": 135,
                     "default": None,
                     "type": ["null", {"type": "array", "items": "int",
                                       "element-id": 136}]},
                ]}},
        ],
    }


def _new_manifest_row(
    path: str,
    content: int,
    spec_id: int,
    snap_id: int,
    seq: int,
    added_files: int,
    added_rows: int,
    min_seq: int | None = None,
    existing_files: int = 0,
) -> dict:
    """The ``_ML_SCHEMA`` manifest-list row for a manifest the current
    commit wrote (content 0 data, 1 deletes)."""
    return {
        "manifest_path": path,
        "manifest_length": os.path.getsize(path),
        "partition_spec_id": spec_id, "content": content,
        "sequence_number": seq,
        "min_sequence_number": seq if min_seq is None else min_seq,
        "added_snapshot_id": snap_id,
        "added_files_count": added_files,
        "existing_files_count": existing_files, "deleted_files_count": 0,
        "added_rows_count": added_rows,
        "existing_rows_count": 0, "deleted_rows_count": 0,
    }


def _kv_map_field(
    name: str, fid: int, kid: int, vid: int, vtype: str
) -> dict:
    """A nullable Iceberg manifest 'map' field: Avro array of
    key/value records (key = column field-id)."""
    return {
        "name": name,
        "field-id": fid,
        "default": None,
        "type": [
            "null",
            {
                "type": "array",
                "logicalType": "map",
                "items": {
                    "type": "record",
                    "name": f"k{kid}_v{vid}",
                    "fields": [
                        {"name": "key", "type": "int", "field-id": kid},
                        {"name": "value", "type": vtype, "field-id": vid},
                    ],
                },
            },
        ],
    }

# Spark -> Iceberg primitive type names (metadata.json schema)
_SPARK_TO_ICEBERG = {
    "boolean": "boolean",
    "integer": "int",
    "long": "long",
    "float": "float",
    "double": "double",
    "string": "string",
    "date": "date",
    "timestamp": "timestamptz",
    "timestamp_ntz": "timestamp",
    "binary": "binary",
}

# -- partition transforms (spec §Partition Transforms) -------------------
# Exact, engine-portable transforms: identity on discrete types,
# day/month on date-ish sources (int days / months since epoch, computed
# in the engine's pinned-UTC session so the value is calendar-stable),
# bucket[N] (murmur3_x86_32 per Appendix B, built from pure Spark
# expressions so the hot path stays JVM-side), and truncate[W]
# (integer floor-to-multiple / string prefix).

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

# identity source type -> avro value type for the manifest partition
# record (day -> int with the date logical type, month -> plain int)
_IDENTITY_AVRO = {
    "int": "int",
    "long": "long",
    "string": "string",
    "date": {"type": "int", "logicalType": "date"},
}


# murmur3_x86_32 (seed 0) as PURE Spark expressions.  Every step is
# 32-bit modular arithmetic carried in BIGINTs; the multiply is split
# 16/16 so no intermediate exceeds 2^49 (ANSI-overflow-safe).
_U32 = 0xFFFFFFFF


def _mm_mul32(a, c: int):
    lo = a.bitwiseAND(F.lit(0xFFFF)) * F.lit(c)
    hi = (
        (F.shiftright(a, 16) * F.lit(c)).bitwiseAND(F.lit(0xFFFF))
        * F.lit(65536)
    )
    return (lo + hi).bitwiseAND(F.lit(_U32))


def _mm_rotl(x, r: int):
    return (
        F.shiftleft(x, r).bitwiseAND(F.lit(_U32))
    ).bitwiseOR(F.shiftright(x, 32 - r))


def _mm_mix_k1(k1):
    return _mm_mul32(_mm_rotl(_mm_mul32(k1, 0xCC9E2D51), 15), 0x1B873593)


def _mm_mix_h1(h1, k1):
    h1 = _mm_rotl(h1.bitwiseXOR(k1), 13)
    return (_mm_mul32(h1, 5) + F.lit(0xE6546B64)).bitwiseAND(F.lit(_U32))


# NOTE on tree size: every murmur step references its input several
# times, so composing the whole hash as ONE Column multiplies subtrees
# (fmix alone re-references its input ~72x) — the analyzed expression
# explodes to ~10^5 nodes and the serialized task OOMs.  The hash is
# therefore attached through a CHAIN of withColumn steps: each step's
# input is a column leaf, so every expression stays a few dozen nodes
# and the optimizer collapses the Projects.


def _mm_fmix_chain(df, out: str, length):
    for step in (
        lambda h: h.bitwiseXOR(length),
        lambda h: h.bitwiseXOR(F.shiftright(h, 16)),
        lambda h: _mm_mul32(h, 0x85EBCA6B),
        lambda h: h.bitwiseXOR(F.shiftright(h, 13)),
        lambda h: _mm_mul32(h, 0xC2B2AE35),
        lambda h: h.bitwiseXOR(F.shiftright(h, 16)),
    ):
        df = df.withColumn(out, step(F.col(out)))
    return df


def _mm_attach_hash_long(df, out: str, v):
    """out <- murmur3_x86_32 of v's 8-byte little-endian form (two
    32-bit blocks, low then high); sign-extending shift is fixed up by
    the mask, so negatives hash exactly like Java's.  NULL in -> NULL
    out (every step propagates)."""
    lo, hi = f"{out}__lo", f"{out}__hi"
    df = df.withColumn(lo, v.cast("long").bitwiseAND(F.lit(_U32)))
    df = df.withColumn(
        hi, F.shiftright(v.cast("long"), 32).bitwiseAND(F.lit(_U32))
    )
    df = df.withColumn(
        out, _mm_mix_h1(F.lit(0).cast("long"), _mm_mix_k1(F.col(lo)))
    )
    df = df.withColumn(out, _mm_mix_h1(F.col(out), _mm_mix_k1(F.col(hi))))
    return _mm_fmix_chain(df, out, F.lit(8)).drop(lo, hi)


def _mm_attach_hash_utf8(df, out: str, col):
    """out <- murmur3_x86_32 over the string's UTF-8 bytes: 4-byte
    little-endian blocks folded with a higher-order aggregate, then
    the (<=3-byte) tail — all expression-level, no Python in the
    executor path.  Bytes are addressed through hex() + substring
    (2 hex chars per byte), portable across JVMs."""
    hxc, nc = f"{out}__hx", f"{out}__n"
    raw = F.encode(col, "UTF-8")
    df = df.withColumn(hxc, F.hex(raw))
    df = df.withColumn(nc, F.octet_length(raw).cast("long"))
    hx, n = F.col(hxc), F.col(nc)
    nblocks = (n / F.lit(4)).cast("long")

    def _byte(hex_pos):  # 1-based hex-char position -> byte value
        return F.conv(F.substring(hx, hex_pos, 2), 16, 10).cast("long")

    def _block(i):  # i: 0-based block index (Column)
        base = (i.cast("long") * F.lit(8)) + F.lit(1)
        return (
            _byte(base)
            + _byte(base + F.lit(2)) * F.lit(256)
            + _byte(base + F.lit(4)) * F.lit(65536)
            + _byte(base + F.lit(6)) * F.lit(16777216)
        )

    # sequence is always ascending (max guard); slice trims to the
    # true block count so nblocks=0 folds over an empty array.
    idx = F.slice(
        F.sequence(
            F.lit(0).cast("long"),
            F.greatest(nblocks - F.lit(1), F.lit(0).cast("long")),
        ),
        1,
        nblocks.cast("int"),
    )
    df = df.withColumn(
        out,
        F.aggregate(
            idx,
            F.lit(0).cast("long"),
            lambda acc, i: _mm_mix_h1(acc, _mm_mix_k1(_block(i))),
        ),
    )
    rem = n % F.lit(4)
    tail_base = nblocks * F.lit(8) + F.lit(1)
    tlc = f"{out}__tl"
    df = df.withColumn(
        tlc,
        F.when(rem >= 1, _byte(tail_base)).otherwise(F.lit(0))
        + F.when(
            rem >= 2, _byte(tail_base + F.lit(2)) * F.lit(256)
        ).otherwise(F.lit(0))
        + F.when(
            rem >= 3, _byte(tail_base + F.lit(4)) * F.lit(65536)
        ).otherwise(F.lit(0)),
    )
    df = df.withColumn(
        out,
        F.when(
            rem > 0, F.col(out).bitwiseXOR(_mm_mix_k1(F.col(tlc)))
        ).otherwise(F.col(out)),
    )
    return _mm_fmix_chain(df, out, n).drop(hxc, nc, tlc)


def murmur3_32(data: bytes) -> int:
    """Pure-Python murmur3_x86_32 (seed 0) — the spec Appendix B
    bucket hash.  Driver-side twin of the Spark expressions above:
    used to compute partition_filter values for point lookups (prune
    by bucket WITHOUT scanning) and as the cross-check oracle in
    tests.  Returns the SIGNED int32 Java would."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = 0
    n = len(data)
    for i in range(0, n - n % 4, 4):
        k = int.from_bytes(data[i:i + 4], "little")
        k = (k * c1) & _U32
        k = ((k << 15) | (k >> 17)) & _U32
        k = (k * c2) & _U32
        h ^= k
        h = ((h << 13) | (h >> 19)) & _U32
        h = (h * 5 + 0xE6546B64) & _U32
    rem = n % 4
    if rem:
        k = int.from_bytes(data[n - rem:], "little")
        k = (k * c1) & _U32
        k = ((k << 15) | (k >> 17)) & _U32
        k = (k * c2) & _U32
        h ^= k
    h ^= n
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & _U32
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & _U32
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


def bucket_partition_value(value, n: int, src_type: str) -> int | None:
    """bucket[N] partition value of a LITERAL (spec: (murmur3 &
    Integer.MAX_VALUE) % N) — build a ``partition_filter`` for a point
    lookup so the manifest pruner skips every other bucket."""
    if value is None:
        return None
    if src_type in ("int", "long"):
        b = int(value).to_bytes(8, "little", signed=True)
    elif src_type == "date":
        import datetime as _dt

        days = (
            (value - _dt.date(1970, 1, 1)).days
            if isinstance(value, _dt.date)
            else int(value)
        )
        b = days.to_bytes(8, "little", signed=True)
    elif src_type in ("timestamp", "timestamptz"):
        import datetime as _dt

        if isinstance(value, _dt.datetime):
            # an aware value counts from the UTC epoch (its own zone's
            # midnight would shift it by the offset); integer timedelta
            # division keeps every microsecond
            epoch = _dt.datetime(
                1970, 1, 1,
                tzinfo=_dt.timezone.utc if value.tzinfo else None,
            )
            micros = (value - epoch) // _dt.timedelta(microseconds=1)
        else:
            micros = int(value)
        b = micros.to_bytes(8, "little", signed=True)
    elif src_type == "string":
        b = str(value).encode("utf-8")
    else:
        raise IcebergProtocolError(
            f"bucket transform on {src_type} not supported here"
        )
    return (murmur3_32(b) & 0x7FFFFFFF) % n


_BUCKET_RE = re.compile(r"^bucket\[(\d+)\]$")
_TRUNC_RE = re.compile(r"^truncate\[(\d+)\]$")

_BUCKETABLE = ("int", "long", "date", "timestamp", "timestamptz", "string")


def _spec_field_name(col: str, transform: str) -> str:
    """Iceberg's conventional partition-field names."""
    if transform == "identity":
        return col
    if _BUCKET_RE.match(transform):
        return f"{col}_bucket"
    if _TRUNC_RE.match(transform):
        return f"{col}_trunc"
    return f"{col}_{transform}"


def _attach_transform(
    df: DataFrame, cname: str, col: str, transform: str, src_type: str
) -> DataFrame:
    """Attach the partition-transform value as column ``cname``.
    bucket[N] goes through the withColumn hash chain (see the tree-size
    note above); every other transform is one small expression."""
    m = _BUCKET_RE.match(transform)
    if m:
        nb = int(m.group(1))
        if nb <= 0:
            raise IcebergProtocolError(f"bucket[{nb}] needs N > 0")
        if src_type not in _BUCKETABLE:
            raise IcebergProtocolError(
                f"bucket() on {src_type} column {col!r} is not "
                "supported here (int/long/date/timestamp/string)"
            )
        if src_type in ("int", "long"):
            df = _mm_attach_hash_long(df, cname, F.col(col))
        elif src_type == "date":
            df = _mm_attach_hash_long(
                df, cname, F.datediff(F.col(col), F.lit("1970-01-01"))
            )
        elif src_type in ("timestamp", "timestamptz"):
            df = _mm_attach_hash_long(df, cname, F.unix_micros(F.col(col)))
        else:
            df = _mm_attach_hash_utf8(df, cname, F.col(col))
        return df.withColumn(
            cname,
            (
                F.col(cname).bitwiseAND(F.lit(0x7FFFFFFF)) % F.lit(nb)
            ).cast("int"),
        )
    return df.withColumn(cname, _transform_expr(col, transform, src_type))


def _transform_expr(col: str, transform: str, src_type: str):
    """Spark expression computing the partition value for one field
    (non-bucket transforms; bucket needs :func:`_attach_transform`).
    ``src_type`` is the ICEBERG source type (already mapped)."""
    m = _TRUNC_RE.match(transform)
    if m:
        w = int(m.group(1))
        if w <= 0:
            raise IcebergProtocolError(f"truncate[{w}] needs W > 0")
        if src_type in ("int", "long"):
            c = F.col(col)
            # floor-to-multiple: v - (((v % W) + W) % W), exact for
            # negatives (Spark % truncates toward zero)
            return c - (((c % w) + w) % w)
        if src_type == "string":
            return F.substring(F.col(col), 1, w)
        raise IcebergProtocolError(
            f"truncate() on {src_type} column {col!r} is not supported "
            "here (int/long/string)"
        )
    if transform == "identity":
        if src_type not in _IDENTITY_AVRO:
            raise IcebergProtocolError(
                f"identity partitioning on {src_type} column {col!r} is "
                "not supported here (timestamps are not directory-stable)"
                " — use the day() or month() transform instead"
            )
        return F.col(col)
    if transform == "day":
        if src_type not in ("date", "timestamp", "timestamptz"):
            raise IcebergProtocolError(
                f"day() needs a date/timestamp source, got {src_type} "
                f"for {col!r}"
            )
        return F.datediff(F.col(col).cast("date"), F.lit("1970-01-01"))
    if transform == "month":
        if src_type not in ("date", "timestamp", "timestamptz"):
            raise IcebergProtocolError(
                f"month() needs a date/timestamp source, got {src_type} "
                f"for {col!r}"
            )
        d = F.col(col).cast("date")
        return (F.year(d) - F.lit(1970)) * F.lit(12) + F.month(d) - F.lit(1)
    if transform == "year":
        if src_type not in ("date", "timestamp", "timestamptz"):
            raise IcebergProtocolError(
                f"year() needs a date/timestamp source, got {src_type} "
                f"for {col!r}"
            )
        return F.year(F.col(col).cast("date")) - F.lit(1970)
    if transform == "hour":
        if src_type not in ("timestamp", "timestamptz"):
            raise IcebergProtocolError(
                f"hour() needs a timestamp source, got {src_type} "
                f"for {col!r}"
            )
        # hours from epoch as an exact integer FLOOR division (plain
        # div truncates toward zero — wrong for pre-1970 instants)
        m = F.unix_micros(F.col(col))
        h = F.lit(3_600_000_000)
        return ((m - (((m % h) + h) % h)) / h).cast("int")
    raise IcebergProtocolError(
        f"partition transform {transform!r} not supported here "
        "(identity/year/month/day/hour/bucket[N]/truncate[W] only) — "
        "use an Iceberg runtime"
    )


def _partition_avro_type(transform: str, src_type: str):
    if transform == "identity":
        return _IDENTITY_AVRO[src_type]
    if transform == "day":
        return {"type": "int", "logicalType": "date"}
    if _BUCKET_RE.match(transform):
        return "int"
    if _TRUNC_RE.match(transform):
        return {"int": "int", "long": "long", "string": "string"}[src_type]
    return "int"  # month / year / hour


def _hive_dir_value(raw: str, transform: str, src_type: str):
    """Directory-name string back to the typed partition value."""
    if raw == _HIVE_NULL:
        return None
    if transform in ("day", "month", "year", "hour") or _BUCKET_RE.match(
        transform
    ):
        return int(raw)
    if src_type in ("int", "long"):
        return int(raw)
    if src_type == "date":
        import datetime as _dt

        return (_dt.date.fromisoformat(raw) - _dt.date(1970, 1, 1)).days
    return urllib.parse.unquote(raw)


def _decode_bound(b, ice_type: str, tz_name):
    """Iceberg single-value binary (spec Appendix D) -> a Python
    comparable for the skipping domain; None when absent or
    undecodable (callers then keep the file).  NaN/Inf float bounds
    decode to None — a NaN lower bound would make every comparison
    False and wrongly SKIP.  External engines truncate string bounds
    (lower rounded down, upper's last char incremented), which stays
    conservative after decoding."""
    import datetime
    import math
    import struct
    from decimal import Decimal

    from data_lakehouse_platform_spark.sources.skipping import (
        _to_session_naive,
    )

    if b is None:
        return None
    try:
        if ice_type == "int":
            return struct.unpack("<i", b)[0]
        if ice_type == "date":
            return datetime.date(1970, 1, 1) + datetime.timedelta(
                days=struct.unpack("<i", b)[0]
            )
        if ice_type == "long":
            # a 4-byte bound was written while the column was still an
            # int (int -> long promotion keeps the old files' stats)
            return struct.unpack("<i" if len(b) == 4 else "<q", b)[0]
        if ice_type in ("timestamptz", "timestamp"):
            micros = struct.unpack("<q", b)[0]
            base = datetime.datetime(
                1970, 1, 1, tzinfo=datetime.timezone.utc
            ) + datetime.timedelta(microseconds=micros)
            if ice_type == "timestamptz":
                return _to_session_naive(base, tz_name)
            return base.replace(tzinfo=None)
        if ice_type in ("float", "double"):
            # float -> double promotion: old files keep 4-byte bounds
            v = struct.unpack("<f" if len(b) == 4 else "<d", b)[0]
            return None if (math.isnan(v) or math.isinf(v)) else v
        if ice_type == "string":
            return b.decode("utf-8")
        if ice_type == "boolean":
            return b[0] != 0
        if ice_type.startswith("decimal("):
            scale = int(ice_type[:-1].split(",")[1])
            unscaled = int.from_bytes(b, "big", signed=True)
            return Decimal(unscaled).scaleb(-scale)
    except Exception:
        return None
    return None


def _partition_domain_value(raw, ice_type: str, tz_name):
    """A typed identity-partition value from a manifest entry -> a
    Python comparable (identity values are exact: min == max)."""
    import datetime

    try:
        if ice_type == "date":
            return datetime.date(1970, 1, 1) + datetime.timedelta(
                days=int(raw)
            )
        if ice_type in ("int", "long"):
            return int(raw)
        if ice_type == "string":
            return str(raw)
        if ice_type in ("float", "double"):
            return float(raw)
    except (TypeError, ValueError):
        return None
    return None


class IcebergLiteTable:
    # One position-delete file per ~this many matched rows: a mass
    # delete range-shards by (file_path, pos) instead of funneling
    # every pair through one task (see :meth:`delete`).  Class-level
    # so tests can shrink it to exercise the multi-shard path.
    ROWS_PER_DELETE_FILE = 10_000_000

    def __init__(
        self,
        path: str,
        metadata_file: str | None = None,
        commit_backend=None,
    ):
        from data_lakehouse_platform_spark.sources.commit_backend import (
            PosixCommitSlots,
        )

        self.path = path
        self.metadata_dir = os.path.join(path, "metadata")
        self.metadata_file = metadata_file
        # The catalog/LogStore seam (sources/commit_backend.py): the
        # v{N}.metadata.json put-if-absent goes through this backend —
        # swap in CoordinatedCommitSlots for object stores.
        self.commit_backend = commit_backend or PosixCommitSlots()

    # -- metadata resolution --------------------------------------------

    def _resolve_metadata_file(self) -> str:
        if self.metadata_file:
            return self.metadata_file
        hint = os.path.join(self.metadata_dir, "version-hint.text")
        if os.path.exists(hint):
            with open(hint) as fh:
                v = fh.read().strip()
            cand = os.path.join(self.metadata_dir, f"v{v}.metadata.json")
            if os.path.exists(cand):
                return cand
        best: tuple[int, str] | None = None
        if os.path.isdir(self.metadata_dir):
            for f in os.listdir(self.metadata_dir):
                m = _VFILE_RE.match(f) or _SEQFILE_RE.match(f)
                if m:
                    key = (int(m.group(1)), f)
                    if best is None or key > best:
                        best = key
        if best is None:
            raise FileNotFoundError(
                f"no Iceberg metadata under {self.metadata_dir}"
            )
        return os.path.join(self.metadata_dir, best[1])

    @staticmethod
    def _v3_features(meta: dict) -> list[str]:
        """Enumerate which v3 constructs a refused table actually uses,
        parsed from metadata.json alone — so a migrating user gets a
        feature list ("this table uses row lineage and variant
        columns"), not a bare "v3 unsupported"."""
        feats: list[str] = []
        # Row lineage (next-row-id / first-row-id) is NOT listed since
        # r10: plain reads are lineage-agnostic (the ids are hidden
        # metadata) — every spec-compliant v3 table carries
        # next-row-id, so refusing on it would make the v3 read path
        # vacuous.
        v3_scalar = {"variant", "timestamp_ns", "timestamptz_ns",
                     "unknown"}
        found_types: set[str] = set()
        has_defaults = False

        def walk(fields):
            nonlocal has_defaults
            for f in fields or []:
                if "initial-default" in f or "write-default" in f:
                    has_defaults = True
                t = f.get("type")
                if isinstance(t, str):
                    if t in v3_scalar or t.startswith(
                        ("geometry", "geography")
                    ):
                        found_types.add(t)
                elif isinstance(t, dict):
                    walk(t.get("fields"))
                    for k in ("element", "key", "value"):
                        v = t.get(k)
                        if isinstance(v, str) and (
                            v in v3_scalar
                            or v.startswith(("geometry", "geography"))
                        ):
                            found_types.add(v)

        for s in meta.get("schemas", []):
            walk(s.get("fields"))
        if found_types:
            feats.append(
                "v3 column types: " + ", ".join(sorted(found_types))
            )
        if has_defaults:
            feats.append("column default values (initial/write-default)")
        # Puffin deletion vectors are NOT listed here since r10: the
        # read path applies them (sources/puffin.py + _read_files'
        # dv lane), so their presence no longer forces a refusal.
        if meta.get("encryption-keys"):
            feats.append("table encryption keys")
        return feats

    def metadata(self) -> dict:
        with open(self._resolve_metadata_file()) as fh:
            meta = json.load(fh)
        fv = meta.get("format-version", 1)
        if fv == 3:
            # r10: a v3 table whose feature scan comes back EMPTY is
            # structurally v2 — schema, snapshots, and manifest lists
            # are the v2 shapes, no row lineage / DVs / v3 types /
            # defaults / encryption in play — so READ it instead of
            # refusing on the version number alone.  Any named v3
            # construct still refuses loudly (misreading deletion or
            # lineage semantics is corruption, not degradation), and
            # MUTATIONS refuse at the commit choke point regardless:
            # this writer emits v2 manifests without the row-id
            # assignment v3 readers require (_commit_metadata_json).
            feats = self._v3_features(meta)
            if feats:
                raise IcebergProtocolError(
                    "format-version=3; this reader speaks v1/v2 and "
                    "refuses rather than misread (v3 changes deletion "
                    "and lineage semantics); the table uses: "
                    + "; ".join(feats)
                )
        elif fv not in (1, 2):
            raise IcebergProtocolError(
                f"format-version={fv}; this reader speaks v1/v2 (and "
                "v3 only when the table uses no v3-specific "
                "construct) and refuses rather than misread"
            )
        return meta

    def snapshots(self) -> list[dict]:
        return self.metadata().get("snapshots", [])

    def current_snapshot_id(self) -> int | None:
        return self._head(self.metadata())

    @staticmethod
    def _head(meta: dict) -> int | None:
        sid = meta.get("current-snapshot-id")
        return None if sid in (None, -1) else int(sid)

    # -- snapshot read ---------------------------------------------------

    def _manifest_paths(self, snap: dict) -> list[tuple[str, int, int]]:
        """(manifest path, content, sequence_number) triples — content
        0 data, 1 deletes; the manifest's sequence number is the
        inheritance default for entries whose own is null (spec:
        sequence-number inheritance)."""
        if "manifest-list" in snap:
            _, rows = read_container(_local_path(snap["manifest-list"]))
            return [
                (
                    _local_path(r["manifest_path"]),
                    int(r.get("content") or 0),
                    int(r.get("sequence_number") or 0),
                )
                for r in rows
            ]
        # v1 tables may embed the manifest list inline (no sequencing)
        return [(_local_path(p), 0, 0) for p in snap.get("manifests", [])]

    def _manifest_list_rows(self, snap: dict) -> list[dict]:
        """A snapshot's manifest-list rows normalized to ``_ML_SCHEMA``
        for carry-forward into a NEW snapshot's list — provenance
        fields (``added_snapshot_id``, ``sequence_number``,
        ``min_sequence_number``, file/row counts) PRESERVED VERBATIM:
        external engines use added_snapshot_id for incremental /
        changelog scans and min_sequence_number for delete-file
        pruning, so re-stamping them on carry (as appends once did
        here) misattributes files in history-derived scans."""
        if "manifest-list" not in snap:
            # v1 inline list: no sequencing/provenance to preserve
            return [
                {
                    "manifest_path": _local_path(p),
                    "manifest_length": os.path.getsize(_local_path(p)),
                    "partition_spec_id": 0, "content": 0,
                    "sequence_number": 0, "min_sequence_number": 0,
                    "added_snapshot_id": int(snap.get("snapshot-id") or 0),
                    "added_files_count": 0, "existing_files_count": 0,
                    "deleted_files_count": 0, "added_rows_count": 0,
                    "existing_rows_count": 0, "deleted_rows_count": 0,
                }
                for p in snap.get("manifests", [])
            ]
        _, rows = read_container(_local_path(snap["manifest-list"]))
        out = []
        for r in rows:
            d = {f["name"]: r.get(f["name"]) for f in _ML_SCHEMA["fields"]}
            d["manifest_path"] = _local_path(r["manifest_path"])
            if d.get("manifest_length") is None:
                d["manifest_length"] = os.path.getsize(d["manifest_path"])
            for f in _ML_SCHEMA["fields"]:
                if d[f["name"]] is None and f["name"] != "manifest_path":
                    d[f["name"]] = 0
            out.append(d)
        return out

    def _live_files(
        self, snap: dict
    ) -> tuple[list[tuple[str, int, dict]], list[dict]]:
        """Replay the snapshot's manifests: returns
        ((data file path, sequence, partition dict) triples,
        delete-file dicts with {path, seq, kind, equality_ids})."""
        data_files: list[tuple[str, int, dict]] = []
        deletes: list[dict] = []
        for mpath, mcontent, mseq in self._manifest_paths(snap):
            _, entries = read_container(mpath)
            for e in entries:
                if int(e.get("status") or 0) == 2:  # DELETED entry
                    continue
                df = e["data_file"]
                content = int(df.get("content") or 0)
                fmt = str(df.get("file_format", "")).upper()
                seq = e.get("sequence_number")
                seq = mseq if seq is None else int(seq)
                path = _local_path(df["file_path"])
                if fmt == "PUFFIN":
                    # v3 deletion vector: a position-delete entry whose
                    # bitmap lives at a byte range of a Puffin file,
                    # scoped to exactly one referenced data file
                    rdf = df.get("referenced_data_file")
                    off = df.get("content_offset")
                    sz = df.get("content_size_in_bytes")
                    if (
                        content != 1
                        or rdf is None
                        or off is None
                        or sz is None
                    ):
                        raise IcebergProtocolError(
                            f"puffin entry {path} is not a well-formed "
                            "deletion vector (needs content=1 + "
                            "referenced_data_file + content_offset + "
                            "content_size_in_bytes) — refusing rather "
                            "than misread deletes"
                        )
                    deletes.append(
                        {
                            "path": path, "seq": seq, "kind": "dv",
                            "referenced": _local_path(str(rdf)),
                            "offset": int(off), "size": int(sz),
                        }
                    )
                    continue
                if fmt != "PARQUET":
                    raise IcebergProtocolError(
                        f"data file format {fmt or '?'} not supported; "
                        "parquet only"
                    )
                if content == 2:
                    eq_ids = df.get("equality_ids")
                    if not eq_ids:
                        raise IcebergProtocolError(
                            f"equality delete file {path} carries no "
                            "equality_ids — cannot determine the match "
                            "columns; refusing rather than resurrect "
                            "deleted rows"
                        )
                    deletes.append(
                        {"path": path, "seq": seq, "kind": "eq",
                         "equality_ids": [int(i) for i in eq_ids]}
                    )
                elif content == 1 or mcontent == 1:
                    deletes.append(
                        {"path": path, "seq": seq, "kind": "pos"}
                    )
                else:
                    part = df.get("partition")
                    data_files.append(
                        (path, seq, dict(part) if part else {})
                    )
        return data_files, deletes

    def plan_files(
        self,
        snapshot_id: int | None = None,
        partition_filter=None,
    ) -> tuple[list[tuple[str, int, dict]], list[dict]]:
        """Scan planning: the snapshot's live (data file, sequence,
        partition) triples after MANIFEST-ONLY partition pruning, plus
        its delete files.  ``partition_filter`` is either a dict of
        {partition field name: value-or-collection} equality matches or
        a callable over the partition dict; pruning never opens a
        parquet footer, so at 100 TB this is metadata-sized work."""
        meta = self.metadata()
        snaps = {int(s["snapshot-id"]): s for s in meta.get("snapshots", [])}
        if snapshot_id is None:
            snapshot_id = self.current_snapshot_id()
            if snapshot_id is None:
                raise FileNotFoundError(
                    f"table at {self.path} has no current snapshot"
                )
        if snapshot_id not in snaps:
            raise FileNotFoundError(
                f"snapshot {snapshot_id} not in table (have "
                f"{sorted(snaps)})"
            )
        data_files, deletes = self._live_files(snaps[snapshot_id])
        if partition_filter is not None:
            if callable(partition_filter):
                keep = partition_filter
            else:
                flt = dict(partition_filter)
                known = {k for _, _, part in data_files for k in part}
                unknown = set(flt) - known
                if data_files and unknown:
                    raise IcebergProtocolError(
                        f"partition_filter names {sorted(unknown)} not in "
                        f"the table's partition spec (have {sorted(known)})"
                    )
                # spec evolution: a key absent from SOME live file makes
                # an equality partition filter unsound (that file may
                # hold matching rows under another layout) — refuse
                # instead of silently dropping rows
                partial = {
                    k
                    for k in flt
                    if any(k not in part for _, _, part in data_files)
                }
                if partial:
                    raise IcebergProtocolError(
                        f"partition key(s) {sorted(partial)} are not "
                        "present on every live data file (the partition "
                        "spec evolved) — use read(predicate=...) for "
                        "exact pruning, or rewrite_data_files() to "
                        "migrate the layout"
                    )

                def keep(part, _flt=flt):
                    for k, want in _flt.items():
                        have = part.get(k)
                        if isinstance(want, (list, tuple, set, frozenset)):
                            if have not in want:
                                return False
                        elif have != want:
                            return False
                    return True

            data_files = [t for t in data_files if keep(t[2])]
        return data_files, deletes

    _STAT_KEYS = (
        "value_counts", "null_value_counts", "lower_bounds", "upper_bounds"
    )

    def _live_data_entries(self, snap: dict) -> dict[str, dict]:
        """{abs data-file path: manifest ``data_file`` record} for a
        snapshot's live data files.  Metadata-only."""
        out: dict[str, dict] = {}
        for mpath, mcontent, _mseq in self._manifest_paths(snap):
            if mcontent == 1:
                continue
            _, entries = read_container(mpath)
            for e in entries:
                if int(e.get("status") or 0) == 2:
                    continue
                dfile = e["data_file"]
                if int(dfile.get("content") or 0) != 0:
                    continue
                out[os.path.abspath(_local_path(dfile["file_path"]))] = dfile
        return out

    def _live_file_stats(self, snap: dict) -> dict[str, dict]:
        """{abs data-file path: raw manifest stats} for a snapshot's
        live files — record_count plus the avro map-arrays
        (null_value_counts / lower_bounds / upper_bounds) folded to
        {field id: value} dicts.  A second metadata-only manifest pass,
        read only when a predicate asks for skipping."""

        def _fold(dfile, key):
            return {int(kv["key"]): kv["value"] for kv in dfile.get(key) or []}

        return {
            path: {
                "record_count": int(dfile.get("record_count") or 0),
                "null_value_counts": _fold(dfile, "null_value_counts"),
                "lower_bounds": _fold(dfile, "lower_bounds"),
                "upper_bounds": _fold(dfile, "upper_bounds"),
            }
            for path, dfile in self._live_data_entries(snap).items()
        }

    def _file_skip_domain(
        self,
        path: str,
        part: dict,
        stats_by_path: dict[str, dict],
        fields: list[dict],
        identity_cols: dict[str, str],
        tz_name,
    ) -> dict:
        """One data file's skipping domain {lowercase column ->
        (lo, hi, null_count, num_records)} from manifest bounds plus
        exact identity-partition values (see sources/skipping.py)."""
        st = stats_by_path.get(os.path.abspath(path)) or {}
        nr = st.get("record_count")
        ncs = st.get("null_value_counts") or {}
        lobs = st.get("lower_bounds") or {}
        upbs = st.get("upper_bounds") or {}
        dom: dict = {}
        for f in fields:
            fid = int(f["id"])
            ity = f["type"]
            if not isinstance(ity, str):
                continue
            lo = _decode_bound(lobs.get(fid), ity, tz_name)
            hi = _decode_bound(upbs.get(fid), ity, tz_name)
            nc = ncs.get(fid)
            nc = int(nc) if isinstance(nc, int) else None
            if lo is None and hi is None and nc is None and nr is None:
                continue
            dom[str(f["name"]).lower()] = (lo, hi, nc, nr)
        # identity partition values are EXACT (min == max == value) and
        # win over (looser or absent) column bounds
        for pname, colname in identity_cols.items():
            if pname not in part:
                continue
            fld = next(
                (f for f in fields if f["name"] == colname), None
            )
            if fld is None or not isinstance(fld["type"], str):
                continue
            raw = part[pname]
            if raw is None:
                dom[colname.lower()] = (None, None, 1, 1)
                continue
            val = _partition_domain_value(raw, fld["type"], tz_name)
            if val is not None:
                dom[colname.lower()] = (val, val, 0, nr)
        return dom

    def _prune_by_predicate(
        self,
        spark: SparkSession,
        meta: dict,
        data_files: list[tuple[str, int, dict]],
        predicate: str,
        snapshot_id: int | None,
    ) -> list[tuple[str, int, dict]]:
        """Drop data files whose manifest bounds / null counts /
        identity-partition values prove no row can satisfy
        ``predicate`` — conservative (anything not understood keeps
        the file), metadata-only.  Shared by :meth:`read`,
        :meth:`files_matching` and :meth:`delete`."""
        from data_lakehouse_platform_spark.sources.skipping import (
            _predicate_tree, _session_tz, _skip_possible,
        )

        if not data_files:
            return data_files
        tree = _predicate_tree(spark, predicate)
        if tree is None:
            return data_files
        sid = (
            snapshot_id
            if snapshot_id is not None
            else self.current_snapshot_id()
        )
        snap = next(
            s
            for s in meta.get("snapshots", [])
            if int(s["snapshot-id"]) == sid
        )
        fields, _csid = self._current_schema(meta)
        stats = self._live_file_stats(snap)
        identity_cols = {
            pf["name"]: self._field_names_by_id(meta).get(
                int(pf["source-id"]), pf["name"]
            )
            for pf in self._table_spec(meta)
            if pf["transform"] == "identity"
        }
        tz = _session_tz(spark)
        return [
            (p, s, part)
            for p, s, part in data_files
            if _skip_possible(
                tree,
                self._file_skip_domain(
                    p, part, stats, fields, identity_cols, tz
                ),
            )
        ]

    def files_matching(
        self,
        spark: SparkSession,
        predicate: str,
        snapshot_id: int | None = None,
    ) -> tuple[list[str], int]:
        """(data files a predicate-scoped read scans, total live) —
        manifest-bounds skipping observability, the iceberg twin of
        DeltaLiteTable.files_matching.  Metadata-only."""
        meta = self.metadata()
        data_files, _deletes = self.plan_files(snapshot_id)
        total = len(data_files)
        kept = self._prune_by_predicate(
            spark, meta, data_files, predicate, snapshot_id
        )
        return sorted(p for p, _s, _pt in kept), total

    def read(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        partition_filter=None,
        predicate: str | None = None,
    ) -> DataFrame:
        """Snapshot read (current snapshot or time travel by id).

        Identity-partitioned source columns are PRESENT in Iceberg data
        files (unlike hive layouts), so reading the parquet directly
        yields complete rows; position deletes are applied by
        (file, row-position) anti-join.  ``partition_filter`` prunes
        data files from manifest partition values (see
        :meth:`plan_files`) — exact file-level filtering, since every
        row in a data file shares the file's partition tuple.

        ``predicate`` (a SQL boolean expression) is BOTH a filter and
        a scan-pruning hint: files whose manifest lower/upper bounds,
        null counts, or identity-partition values prove no row can
        match are dropped before Spark lists them (Iceberg's scan
        filtering), and the predicate is then applied to the surviving
        rows — the result is exact whether or not anything was
        skippable.
        """
        meta = self.metadata()
        data_files, deletes = self.plan_files(snapshot_id, partition_filter)
        if predicate is not None and data_files:
            data_files = self._prune_by_predicate(
                spark, meta, data_files, predicate, snapshot_id
            )
            if not data_files:
                # every file provably unmatched: an EMPTY result in the
                # snapshot's schema (the read below raises on no files)
                fields, _csid = self._current_schema(meta)
                ddl = ", ".join(
                    f"`{f['name']}` "
                    f"{self._iceberg_type_to_spark_ddl(f['type'])}"
                    for f in fields
                )
                return spark.createDataFrame([], ddl)
        if not data_files:
            raise FileNotFoundError(
                f"snapshot {snapshot_id or self.current_snapshot_id()} "
                "has no data files"
                + (" matching the partition filter"
                   if partition_filter is not None else "")
            )
        # EXPLICIT time travel reads through the SNAPSHOT's schema
        # (spec rule): a snapshot taken before a column drop still
        # shows the column.  Current-table reads always use the
        # current schema — a metadata-only evolution applies to the
        # latest snapshot immediately.
        snap = None
        if snapshot_id is not None:
            snap = next(
                (
                    s
                    for s in meta.get("snapshots", [])
                    if int(s["snapshot-id"]) == snapshot_id
                ),
                None,
            )
        if snap is not None and "schema-id" in snap:
            sid = int(snap["schema-id"])
            if any(
                int(s.get("schema-id", -1)) == sid
                for s in meta.get("schemas", [])
            ):
                meta = {**meta, "current-schema-id": sid}
        out = self._read_files(spark, meta, data_files, deletes)
        if predicate is not None:
            out = out.filter(predicate)
        return out

    def _read_files(
        self,
        spark: SparkSession,
        meta: dict,
        data_files: list[tuple[str, int, dict]],
        deletes: list[dict],
    ) -> DataFrame:
        """Read the given data files with all applicable position and
        equality deletes applied (the shared core of :meth:`read` and
        :meth:`rewrite_data_files`).

        Column resolution is BY FIELD-ID when the parquet files carry
        Iceberg field-id metadata (the spec's rule): a renamed column
        still reads its old physical name from pre-rename files, and a
        column added after a file was written reads as NULL — instead
        of the silent all-NULL misread a by-name projection would
        produce.  Files without field-id metadata (plain Spark/pandas
        parquet, this module's own writes) fall back to by-name.
        Footer schemas are read once per file at PLANNING time (Spark
        reads the same footers at execution anyway); files sharing a
        resolution group scan together.
        """
        pos = [d for d in deletes if d["kind"] == "pos"]
        eq = [d for d in deletes if d["kind"] == "eq"]
        dv = [d for d in deletes if d["kind"] == "dv"]
        strip = lambda c: F.regexp_replace(  # noqa: E731
            c, "^[a-zA-Z0-9+.-]+:/+", "/"
        )
        # __ib_path/__ib_pos are attached per scan group when deletes
        # need them (metadata columns must be referenced pre-projection)
        df = self._resolved_scan(
            spark, meta, [p for p, _s, _pt in data_files],
            with_meta=bool(pos or eq or dv),
        )
        if dv:
            # Puffin deletion vectors (v3): each descriptor names a
            # byte range holding one referenced file's bitmap.  Decode
            # in EXECUTOR tasks (one task per blob, mapInPandas over
            # the descriptor list — a DV is bounded by its one file's
            # deleted-row count, and blobs are range-addressed so a
            # task never reads the whole Puffin file), then anti-join
            # on (path, pos) exactly like parquet position deletes.
            import pandas as _pd

            desc = spark.createDataFrame(
                [
                    (
                        d["path"], d["offset"], d["size"],
                        os.path.abspath(d["referenced"]),
                    )
                    for d in dv
                ],
                "puffin string, off long, size long, target string",
            ).repartition(min(len(dv), 32))

            def _decode_dvs(batches):
                from data_lakehouse_platform_spark.sources.puffin import (
                    read_dv_positions,
                )

                for pdf in batches:
                    for row in pdf.itertuples(index=False):
                        positions = read_dv_positions(
                            row.puffin, row.off, row.size
                        )
                        yield _pd.DataFrame(
                            {
                                "__ib_path": row.target,
                                "__ib_pos": _pd.Series(
                                    positions, dtype="int64"
                                ),
                            }
                        )

            dv_rows = desc.mapInPandas(
                _decode_dvs, "__ib_path string, __ib_pos long"
            )
            df = df.join(
                dv_rows, on=["__ib_path", "__ib_pos"], how="left_anti"
            )
        if pos:
            # Position-delete parquet: (file_path, pos[, row]).  Both
            # sides normalize to a scheme-less local path so the join
            # key matches _metadata.file_path regardless of URI
            # spelling.  File paths are unique per Iceberg commit (uuid
            # names), so the exact path match already scopes the delete
            # to its target file generation.
            pdel = (
                spark.read.parquet(*[d["path"] for d in pos])
                .select(
                    strip(F.col("file_path")).alias("__ib_path"),
                    F.col("pos").cast("long").alias("__ib_pos"),
                )
            )
            # No forced broadcast: delete files carry parquet size
            # stats, so Spark broadcasts small ones on its own and a
            # corpus-sized delete set degrades to a shuffled anti-join
            # instead of a driver OOM.
            df = df.join(
                pdel, on=["__ib_path", "__ib_pos"], how="left_anti"
            )
        if eq:
            # Equality deletes apply to rows of data files STRICTLY
            # OLDER than the delete (data seq < delete seq, per spec) —
            # attach each row's file sequence via a BROADCAST join
            # against a tiny (path, seq) DataFrame (one row per data
            # file; plan size stays O(1) in file count, where a literal
            # create_map would bloat the plan at millions of files).
            # Each path is keyed under BOTH its raw and URL-encoded
            # spelling: __ib_path comes from _metadata.file_path, whose
            # URI form percent-encodes some characters — a raw-only key
            # would NULL the lookup and the seq<delete-seq gate, and
            # equality deletes would silently stop applying.
            id_to_name = self._field_names_by_id(meta)
            seq_rows = []
            for p, s, _pt in data_files:
                ap = os.path.abspath(p)
                for k in {ap, urllib.parse.quote(ap, safe="/=")}:
                    seq_rows.append((k, int(s)))
            sdf = F.broadcast(
                spark.createDataFrame(
                    seq_rows, "__ib_path string, __ib_seq long"
                )
            )
            df = df.join(sdf, on="__ib_path", how="left")
            for d in sorted(eq, key=lambda d: (d["seq"], d["path"])):
                try:
                    cols = [id_to_name[i] for i in d["equality_ids"]]
                except KeyError as ex:
                    raise IcebergProtocolError(
                        f"equality delete {d['path']} references unknown "
                        f"field id {ex} — schema evolution beyond this "
                        "reader; use an Iceberg runtime"
                    )
                edel = spark.read.parquet(d["path"]).select(
                    *[F.col(c).alias(f"__ed_{c}") for c in cols]
                )
                cond = F.col("__ib_seq") < F.lit(d["seq"])
                for c in cols:
                    cond = cond & F.col(c).eqNullSafe(F.col(f"__ed_{c}"))
                df = df.join(edel, on=cond, how="left_anti")
            df = df.drop("__ib_seq")
        if pos or eq or dv:
            df = df.drop("__ib_path", "__ib_pos")
        return df

    # Iceberg primitive -> Spark cast target (for NULL synthesis of
    # columns added after a data file was written)
    _ICEBERG_TO_SPARK = {
        "boolean": "boolean",
        "int": "int",
        "long": "long",
        "float": "float",
        "double": "double",
        "string": "string",
        "date": "date",
        "timestamptz": "timestamp",
        "timestamp": "timestamp_ntz",
        "binary": "binary",
    }

    def _iceberg_type_to_spark_ddl(self, t) -> str | None:
        """Iceberg schema-JSON type -> Spark DDL string (for NULL
        synthesis of columns added after a file was written), nested
        types included; None when unmappable."""
        if isinstance(t, str):
            if t.startswith("decimal"):
                return t
            return self._ICEBERG_TO_SPARK.get(t)
        if not isinstance(t, dict):
            return None
        tt = t.get("type")
        if tt == "struct":
            inner = []
            for f in t.get("fields", []):
                ft = self._iceberg_type_to_spark_ddl(f["type"])
                if ft is None:
                    return None
                inner.append(f"`{f['name']}`:{ft}")
            return f"struct<{','.join(inner)}>"
        if tt == "list":
            et = self._iceberg_type_to_spark_ddl(t.get("element"))
            return None if et is None else f"array<{et}>"
        if tt == "map":
            kt = self._iceberg_type_to_spark_ddl(t.get("key"))
            vt = self._iceberg_type_to_spark_ddl(t.get("value"))
            return None if kt is None or vt is None else f"map<{kt},{vt}>"
        return None

    def _resolved_scan(
        self,
        spark: SparkSession,
        meta: dict,
        paths: list[str],
        with_meta: bool,
    ) -> DataFrame:
        """Scan ``paths`` with field-id column resolution (see
        :meth:`_read_files`); ``with_meta`` additionally attaches the
        ``__ib_path`` / ``__ib_pos`` delete-join columns."""
        import pyarrow.parquet as pq

        strip = lambda c: F.regexp_replace(  # noqa: E731
            c, "^[a-zA-Z0-9+.-]+:/+", "/"
        )
        id_to_name = self._field_names_by_id(meta)
        id_to_type = self._field_types_by_id(meta)

        def _with_meta(d: DataFrame) -> DataFrame:
            if not with_meta:
                return d
            return d.withColumn(
                "__ib_path", strip(F.col("_metadata.file_path"))
            ).withColumn("__ib_pos", F.col("_metadata.row_index"))

        if not id_to_name:
            return _with_meta(spark.read.parquet(*paths))

        groups: dict[tuple, list[str]] = {}
        for p in paths:
            sch = pq.read_schema(p)
            # physical arrow type joins the signature: files written
            # before and after a type promotion (int32 vs int64) must
            # scan in SEPARATE groups — one mixed spark.read.parquet
            # would fail on the footer-inferred narrow type — and then
            # unify through the cast below.
            phys_type = {f.name: str(f.type) for f in sch}
            fid_to_phys: dict[int, str] = {}
            for f in sch:
                fid = (f.metadata or {}).get(b"PARQUET:field_id")
                if fid is not None:
                    fid_to_phys[int(fid)] = f.name
            # the leading bool keeps id-stamped and id-less files in
            # SEPARATE scan groups even when their column projections
            # agree: a mixed group would let Spark infer a read schema
            # carrying parquet field-ids from one footer and then
            # refuse the id-less file ("read schema expects field Ids")
            if fid_to_phys:
                sig = (True,) + tuple(
                    (
                        lname,
                        fid_to_phys.get(fid),
                        phys_type.get(fid_to_phys.get(fid)),
                    )
                    for fid, lname in sorted(id_to_name.items())
                )
            else:  # no field-id metadata: by-name fallback
                sig = (False,) + tuple(
                    (
                        lname,
                        lname if lname in sch.names else None,
                        phys_type.get(lname),
                    )
                    for fid, lname in sorted(id_to_name.items())
                )
            groups.setdefault(sig, []).append(p)

        parts = []
        # repr key: signatures mix str and None, which don't compare
        for sig, gpaths in sorted(groups.items(), key=lambda kv: repr(kv)):
            d = _with_meta(spark.read.parquet(*gpaths))
            phys_by_lname = {s[0]: s[1] for s in sig[1:]}
            cols = []
            for fid, lname in sorted(id_to_name.items()):
                phys = phys_by_lname[lname]
                if phys is not None:
                    # cast to the CURRENT schema type: after a safe
                    # type promotion (another writer's int->long,
                    # float->double, decimal widening) older files
                    # still hold the narrower physical type; a no-op
                    # for unevolved tables.
                    stype = self._iceberg_type_to_spark_ddl(
                        id_to_type.get(fid)
                    )
                    c = F.col(phys)
                    if stype is not None:
                        c = c.cast(stype)
                    cols.append(c.alias(lname))
                    continue
                # column added to the table after these files were
                # written: spec says read as NULL
                itype = id_to_type.get(fid)
                stype = self._iceberg_type_to_spark_ddl(itype)
                if stype is None:
                    raise IcebergProtocolError(
                        f"column {lname!r} (field id {fid}, type "
                        f"{itype!r}) is absent from data file(s) "
                        f"{gpaths[:2]} and its NULL type cannot be "
                        "synthesized here — use an Iceberg runtime"
                    )
                cols.append(F.lit(None).cast(stype).alias(lname))
            if with_meta:
                cols += [F.col("__ib_path"), F.col("__ib_pos")]
            parts.append(d.select(*cols))
        out = parts[0]
        for d in parts[1:]:
            out = out.unionByName(d)
        return out

    @staticmethod
    def _field_names_by_id(meta: dict) -> dict[int, str]:
        """Top-level field id -> name for the current schema (v2
        ``schemas`` list or v1 inline ``schema``)."""
        schema = None
        if "schemas" in meta:
            sid = meta.get("current-schema-id", 0)
            schema = next(
                (s for s in meta["schemas"] if s.get("schema-id") == sid),
                None,
            )
        if schema is None:
            schema = meta.get("schema", {})
        return {
            int(f["id"]): f["name"] for f in schema.get("fields", [])
        }

    def history(self) -> list[dict]:
        return self.metadata().get("snapshot-log", [])

    # -- incremental (between-snapshot) append scan ----------------------

    def _snapshot_chain(
        self, from_snapshot_id: int | None, to_snapshot_id: int
    ) -> list[dict]:
        """Snapshots strictly after ``from_snapshot_id`` up to and
        including ``to_snapshot_id``, oldest first, following
        parent-snapshot-id links.  Raises when the chain is broken
        (an intermediate snapshot was expired — the incremental range
        is then honestly unrecoverable, same posture as delta_lite's
        cleaned-log refusal) or when ``from`` is not an ancestor of
        ``to``."""
        meta = self.metadata()
        snaps = {
            int(s["snapshot-id"]): s for s in meta.get("snapshots", [])
        }
        if to_snapshot_id not in snaps:
            raise FileNotFoundError(
                f"snapshot {to_snapshot_id} not in table "
                f"(have {sorted(snaps)})"
            )
        chain: list[dict] = []
        cur: int | None = to_snapshot_id
        while cur is not None and cur != from_snapshot_id:
            s = snaps.get(cur)
            if s is None:
                raise IcebergProtocolError(
                    f"snapshot {cur} was expired — the incremental "
                    f"range ..{to_snapshot_id} no longer derives from "
                    "the table's snapshot lineage"
                )
            chain.append(s)
            p = s.get("parent-snapshot-id")
            cur = int(p) if p is not None else None
        if from_snapshot_id is not None and cur != from_snapshot_id:
            raise ValueError(
                f"snapshot {from_snapshot_id} is not an ancestor of "
                f"{to_snapshot_id}"
            )
        chain.reverse()
        return chain

    def incremental_append_files(
        self,
        from_snapshot_id: int | None,
        to_snapshot_id: int | None = None,
        on_change: str = "error",
    ) -> list[tuple[int, str, int, dict]]:
        """The data files APPENDED in ``(from_snapshot_id,
        to_snapshot_id]`` as ``(snapshot_id, path, sequence,
        partition)`` tuples, oldest snapshot first — Iceberg's
        incremental append scan (Spark's ``start-snapshot-id`` /
        ``end-snapshot-id`` read options), the primitive a changelog
        consumer or streaming tail rides.

        Per snapshot: ``append`` contributes the files its commit
        added (live-set difference vs the parent — exact, metadata-
        sized); ``replace`` (compaction) contributes NOTHING (no
        logical data change, the delta-source dataChange=false rule);
        ``delete``/``overwrite`` are not representable as appends —
        ``on_change='error'`` (default) refuses loudly,
        ``'skip'`` skips the snapshot, ``'emit_added'`` emits the
        files it added anyway (the ignoreChanges analog: rewritten
        rows re-emit, consumers must dedup)."""
        if on_change not in ("error", "skip", "emit_added"):
            raise ValueError(
                "on_change must be error|skip|emit_added, got "
                f"{on_change!r}"
            )
        if to_snapshot_id is None:
            to_snapshot_id = self.current_snapshot_id()
            if to_snapshot_id is None:
                raise FileNotFoundError(
                    f"table at {self.path} has no current snapshot"
                )
        meta = self.metadata()
        snaps = {
            int(s["snapshot-id"]): s for s in meta.get("snapshots", [])
        }
        out: list[tuple[int, str, int, dict]] = []
        for s in self._snapshot_chain(from_snapshot_id, to_snapshot_id):
            sid = int(s["snapshot-id"])
            op = str((s.get("summary") or {}).get("operation", ""))
            if op == "replace":
                continue  # compaction: no logical rows changed
            if op not in ("append",) and on_change == "error":
                raise IcebergProtocolError(
                    f"snapshot {sid} is a {op or 'unknown'!s} commit — "
                    "an incremental APPEND scan cannot represent it; "
                    "pass on_change='skip' or 'emit_added', or diff "
                    "the snapshots instead"
                )
            if op not in ("append",) and on_change == "skip":
                continue
            live, _dels = self._live_files(s)
            parent = s.get("parent-snapshot-id")
            before: set[str] = set()
            if parent is not None:
                psnap = snaps.get(int(parent))
                if psnap is None:
                    raise IcebergProtocolError(
                        f"snapshot {sid}'s parent {parent} was expired "
                        "— added-file attribution is unrecoverable"
                    )
                plive, _pdels = self._live_files(psnap)
                before = {p for p, _seq, _part in plive}
            out.extend(
                (sid, p, seq, part)
                for p, seq, part in live
                if p not in before
            )
        return out

    def incremental_read(
        self,
        spark: SparkSession,
        from_snapshot_id: int | None,
        to_snapshot_id: int | None = None,
        on_change: str = "error",
    ) -> DataFrame:
        """Read the rows appended in ``(from, to]`` — the files from
        :meth:`incremental_append_files`, resolved through the TO
        snapshot's schema (field-id resolution, so renames/drops
        between the range's snapshots read correctly), with NO delete
        files applied: the scan serves rows as they were appended,
        exactly like Iceberg's incremental append scan."""
        if to_snapshot_id is None:
            to_snapshot_id = self.current_snapshot_id()
        files = self.incremental_append_files(
            from_snapshot_id, to_snapshot_id, on_change=on_change
        )
        if not files:
            return self.read(
                spark, snapshot_id=to_snapshot_id
            ).limit(0)
        meta = self.metadata()
        snap = next(
            s
            for s in meta.get("snapshots", [])
            if int(s["snapshot-id"]) == to_snapshot_id
        )
        if "schema-id" in snap and any(
            int(s.get("schema-id", -1)) == int(snap["schema-id"])
            for s in meta.get("schemas", [])
        ):
            meta = {**meta, "current-schema-id": int(snap["schema-id"])}
        return self._read_files(
            spark,
            meta,
            [(p, seq, part) for _sid, p, seq, part in files],
            deletes=[],
        )

    def _table_spec(self, meta: dict) -> list[dict]:
        """The table's default partition-spec fields, int-normalized."""
        spec = next(
            (
                s
                for s in meta.get("partition-specs", [])
                if s.get("spec-id") == meta.get("default-spec-id", 0)
            ),
            {"fields": []},
        )
        return [
            {
                "name": f["name"],
                "transform": f["transform"],
                "source-id": int(f["source-id"]),
                "field-id": int(f["field-id"]),
            }
            for f in spec.get("fields", [])
        ]

    def _field_types_by_id(self, meta: dict) -> dict[int, str]:
        schema = None
        if "schemas" in meta:
            sid = meta.get("current-schema-id", 0)
            schema = next(
                (s for s in meta["schemas"] if s.get("schema-id") == sid),
                None,
            )
        if schema is None:
            schema = meta.get("schema", {})
        return {
            int(f["id"]): f["type"] for f in schema.get("fields", [])
        }

    def _commit_metadata_json(self, meta: dict) -> int:
        """Write the next v{N}.metadata.json put-if-absent (through the
        pluggable commit backend — the catalog seam) and point
        version-hint.text at it (HadoopCatalog commit shape).  A lost
        slot race aborts: every caller computed its metadata against
        the version it read, so taking a later slot would drop the
        intervening commit."""
        from data_lakehouse_platform_spark.sources.commit_backend import (
            ConcurrentModificationError,
        )

        if int(meta.get("format-version", 1)) == 3:
            # v3 tables are READ-only here (r10): this writer emits v2
            # manifests with no first-row-id assignment, so a commit
            # would hand a v3 reader a table violating its row-lineage
            # invariants.  One choke point covers every mutation verb.
            raise IcebergProtocolError(
                "this engine reads v3 tables that use no v3-specific "
                "construct, but refuses to COMMIT to one: its v2 "
                "manifests lack the row-id assignment v3 readers "
                "require — copy into a fresh v2 table to mutate"
            )
        mdir = self.metadata_dir
        version = 1
        for f in os.listdir(mdir):
            m = _VFILE_RE.match(f)
            if m:
                version = max(version, int(m.group(1)) + 1)
        target = os.path.join(mdir, f"v{version}.metadata.json")
        if not self.commit_backend.put_if_absent(
            target, json.dumps(meta).encode()
        ):
            raise ConcurrentModificationError(
                f"metadata version {version} was committed concurrently "
                "— re-read the table and retry"
            )
        with open(os.path.join(mdir, "version-hint.text"), "w") as fh:
            fh.write(str(version))
        return version

    # -- write (migrate-out edge) ---------------------------------------

    def _iceberg_schema(self, df) -> list[dict]:
        """Spark schema -> Iceberg schema JSON fields, NESTED types
        included: struct fields, list elements, and map keys/values
        each get a unique field-id per the spec's schema JSON.
        Top-level columns keep ids 1..n (the flat writer's historical
        assignment, so appends to existing tables compare equal);
        nested ids continue after n in traversal order — deterministic,
        so re-deriving the schema from a same-shaped DataFrame
        reproduces identical ids."""
        schema = df.schema
        n_top = len(schema.fields)
        counter = [n_top]

        def conv(dt, where: str):
            tn = dt.typeName()
            it = _SPARK_TO_ICEBERG.get(tn)
            if it is not None:
                return it
            if tn == "decimal":
                # typeName() drops (p,s); simpleString() spells the
                # Iceberg form decimal(p,s) exactly
                return dt.simpleString()
            if tn == "struct":
                out = []
                for f in dt.fields:
                    counter[0] += 1
                    out.append(
                        {
                            "id": counter[0],
                            "name": f.name,
                            "required": False,
                            "type": conv(f.dataType, f"{where}.{f.name}"),
                        }
                    )
                return {"type": "struct", "fields": out}
            if tn == "array":
                counter[0] += 1
                eid = counter[0]
                return {
                    "type": "list",
                    "element-id": eid,
                    "element": conv(dt.elementType, f"{where}.element"),
                    "element-required": not dt.containsNull,
                }
            if tn == "map":
                counter[0] += 1
                kid = counter[0]
                counter[0] += 1
                vid = counter[0]
                return {
                    "type": "map",
                    "key-id": kid,
                    "key": conv(dt.keyType, f"{where}.key"),
                    "value-id": vid,
                    "value": conv(dt.valueType, f"{where}.value"),
                    "value-required": not dt.valueContainsNull,
                }
            raise IcebergProtocolError(
                f"column {where}: Spark type {tn} has no Iceberg "
                "mapping here — use DeltaLiteTable for such data"
            )

        return [
            {
                "id": i,
                "name": f.name,
                "required": False,
                "type": conv(f.dataType, f.name),
            }
            for i, f in enumerate(schema.fields, start=1)
        ]

    @staticmethod
    def _max_field_id(fields: list[dict]) -> int:
        """Largest field-id anywhere in a schema's field list (the
        metadata's ``last-column-id`` must cover NESTED ids too)."""

        def walk(t) -> int:
            if isinstance(t, str):
                return 0
            tt = t.get("type")
            if tt == "struct":
                return max(
                    (
                        max(int(f["id"]), walk(f["type"]))
                        for f in t["fields"]
                    ),
                    default=0,
                )
            if tt == "list":
                return max(int(t["element-id"]), walk(t["element"]))
            if tt == "map":
                return max(
                    int(t["key-id"]),
                    int(t["value-id"]),
                    walk(t["key"]),
                    walk(t["value"]),
                )
            return 0

        return max(
            (
                max(int(f["id"]), walk(f["type"]))
                for f in fields
            ),
            default=0,
        )

    @staticmethod
    def _stamp_field_ids(df: DataFrame, name_to_id: dict[str, int]):
        """Attach ``parquet.field.id`` metadata to every top-level
        column so Spark's parquet writer emits PARQUET:field_id
        footers — the basis of by-id (evolution-safe) resolution.
        Extra columns (staging helpers like __ip_*) pass through."""
        return df.select(
            *[
                F.col(f.name).alias(
                    f.name,
                    metadata={"parquet.field.id": name_to_id[f.name]},
                )
                if f.name in name_to_id
                else F.col(f.name)
                for f in df.schema.fields
            ]
        )

    @staticmethod
    def _parquet_with_field_ids(df_writer_fn, sess):
        """Run a parquet-staging callback with fieldId.write pinned on
        (session conf; default true, but a tuned-off session must not
        silently produce evolution-opaque files)."""
        key = "spark.sql.parquet.fieldId.write.enabled"
        prev = sess.conf.get(key)
        sess.conf.set(key, "true")
        try:
            df_writer_fn()
        finally:
            sess.conf.set(key, prev)

    #: iceberg primitive types whose manifest bounds this writer emits
    #: (and the read-side pruner decodes); timestamptz min/max are
    #: aggregated as unix_micros SERVER-SIDE so no tz-naive collect can
    #: shift them.
    _BOUNDS_TYPES = frozenset(
        {"int", "long", "float", "double", "string", "date",
         "timestamptz"}
    )
    _BOUNDS_MAX_STRING = 64

    def _collect_file_stats(
        self,
        df: DataFrame,
        stage: str,
        name_to_id: dict[str, int],
        id_to_type: dict[int, str],
    ) -> dict[str, dict]:
        """Per-staged-file column stats for the manifest entry:
        {abs path: {value_counts, null_value_counts, lower_bounds,
        upper_bounds}} in the avro map-array shape, bounds in the
        spec's single-value binary serialization.  ONE distributed
        aggregation grouped by ``_metadata.file_path`` — metadata-sized
        collect (files × columns), the iceberg twin of delta_lite's
        _compute_add_stats.  Untrustworthy bounds are OMITTED, never
        approximated: strings over _BOUNDS_MAX_STRING chars (a
        truncated upper bound under-bounds), NaN/Inf floats."""
        import math
        import struct

        stat_cols = [
            (f.name, id_to_type[name_to_id[f.name]])
            for f in df.schema.fields
            if f.name in name_to_id
            and isinstance(id_to_type[name_to_id[f.name]], str)
            and id_to_type[name_to_id[f.name]] in self._BOUNDS_TYPES
        ]
        raw = (
            df.sparkSession.read.schema(df.schema)
            .option("basePath", stage)
            .parquet(stage)
        )
        aggs = [F.count(F.lit(1)).alias("__nr")]
        for i, (c, ity) in enumerate(stat_cols):
            col = F.col(c)
            if ity == "timestamptz":
                col = F.unix_micros(col)
            elif ity == "date":
                col = F.datediff(col, F.lit("1970-01-01"))
            aggs.append(F.min(col).alias(f"__min_{i}"))
            aggs.append(F.max(col).alias(f"__max_{i}"))
            aggs.append(
                F.sum(F.col(c).isNull().cast("long")).alias(f"__nc_{i}")
            )
            if ity == "string":
                aggs.append(F.max(F.length(col)).alias(f"__len_{i}"))
        rows = (
            raw.groupBy(F.col("_metadata.file_path").alias("__fp"))
            .agg(*aggs)
            .collect()
        )

        def _enc(v, ity: str) -> bytes | None:
            if ity in ("int", "date"):
                return struct.pack("<i", int(v))
            if ity in ("long", "timestamptz"):
                return struct.pack("<q", int(v))
            if ity == "float":
                return struct.pack("<f", float(v))
            if ity == "double":
                return struct.pack("<d", float(v))
            if ity == "string":
                return str(v).encode("utf-8")
            return None

        out: dict[str, dict] = {}
        for r in rows:
            ap = os.path.abspath(
                urllib.parse.unquote(
                    re.sub(r"^[a-zA-Z0-9+.-]+:/+", "/", r["__fp"])
                )
            )
            vc, nc_arr, lob, upb = [], [], [], []
            nr = int(r["__nr"])
            for i, (c, ity) in enumerate(stat_cols):
                fid = name_to_id[c]
                vc.append({"key": fid, "value": nr})
                nc_arr.append(
                    {"key": fid, "value": int(r[f"__nc_{i}"] or 0)}
                )
                lo, hi = r[f"__min_{i}"], r[f"__max_{i}"]
                if lo is None or hi is None:
                    continue
                if ity == "string" and (
                    (r[f"__len_{i}"] or 0) > self._BOUNDS_MAX_STRING
                ):
                    continue
                if ity in ("float", "double") and any(
                    math.isnan(float(x)) or math.isinf(float(x))
                    for x in (lo, hi)
                ):
                    continue
                blo, bhi = _enc(lo, ity), _enc(hi, ity)
                if blo is None or bhi is None:
                    continue
                lob.append({"key": fid, "value": blo})
                upb.append({"key": fid, "value": bhi})
            out[ap] = {
                "value_counts": vc or None,
                "null_value_counts": nc_arr or None,
                "lower_bounds": lob or None,
                "upper_bounds": upb or None,
            }
        return out

    def _stage_data_files(
        self,
        df: DataFrame,
        spec_fields: list[dict],
        name_to_id: dict[str, int],
        id_to_name: dict[int, str],
        id_to_type: dict[int, str],
    ) -> list[tuple]:
        """Stage ``df`` as parquet data files under ``data/stage-*``
        and return (path, nrows, size, partition-value dict,
        column-stats dict) tuples — the shared staging pass of
        :meth:`write`, :meth:`upsert` and :meth:`rewrite_data_files`.

        One distributed pass: the partition-transform values become
        derived ``__ip_*`` columns that partitionBy turns into
        directory names (and drops from the files) — the SOURCE
        columns stay in the data files, as the Iceberg spec expects.

        Top-level columns carry their TABLE field-id as
        ``parquet.field.id`` metadata: Spark's parquet writer turns it
        into PARQUET:field_id on the footer (fieldId.write.enabled),
        which is what makes _resolved_scan's by-id resolution — and
        therefore rename/drop/re-add schema evolution — work on this
        module's own files.  (Nested ids stay footer-less: nested
        evolution is an Iceberg-runtime feature, not this writer's.)"""
        import uuid as uuidlib

        import pyarrow.parquet as pq

        ddir = os.path.join(self.path, "data")
        os.makedirs(ddir, exist_ok=True)
        stage = os.path.join(ddir, f"stage-{uuidlib.uuid4().hex[:12]}")
        stage_df = self._stamp_field_ids(df, name_to_id)
        part_cols = []
        for pf in spec_fields:
            src = id_to_name[pf["source-id"]]
            cname = f"__ip_{pf['name']}"
            stage_df = _attach_transform(
                stage_df, cname, src, pf["transform"],
                id_to_type[pf["source-id"]],
            )
            part_cols.append(cname)
        writer = stage_df.write.mode("errorifexists")
        if part_cols:
            writer = writer.partitionBy(*part_cols)
        self._parquet_with_field_ids(
            lambda: writer.parquet(stage), df.sparkSession
        )
        stats_by_path = self._collect_file_stats(
            df, stage, name_to_id, id_to_type
        )
        data_files = []  # (path, nrows, size, partition dict, stats)
        for root, _d, files in os.walk(stage):
            for f in sorted(files):
                if not f.endswith(".parquet"):
                    continue
                full = os.path.join(root, f)
                part = {}
                if part_cols:
                    dirvals = {}
                    rel = os.path.relpath(root, stage)
                    for comp in ([] if rel == "." else rel.split(os.sep)):
                        if "=" in comp:
                            k, v = comp.split("=", 1)
                            dirvals[k] = v
                    for pf in spec_fields:
                        key = f"__ip_{pf['name']}"
                        if key not in dirvals:
                            raise IcebergProtocolError(
                                f"staged file {full} lacks the "
                                f"{pf['name']} partition directory — "
                                "refusing to commit a mis-partitioned "
                                "snapshot"
                            )
                        part[pf["name"]] = _hive_dir_value(
                            dirvals[key],
                            pf["transform"],
                            id_to_type[pf["source-id"]],
                        )
                data_files.append(
                    (full, pq.read_metadata(full).num_rows,
                     os.path.getsize(full), part,
                     stats_by_path.get(os.path.abspath(full), {}))
                )
        return data_files

    def write(
        self,
        df: DataFrame,
        mode: str = "append",
        partition_by: list | None = None,
        summary_extra: dict | None = None,
    ) -> int:
        """Commit ``df`` as a new v2 snapshot (returns its snapshot id).
        ``append`` keeps prior manifests in the new manifest list;
        ``overwrite`` starts the list fresh (full-table replace, the
        prior snapshot stays time-travelable).  Flat primitive columns
        only — refused loudly otherwise.

        ``partition_by`` (creation only; appends inherit the table's
        spec) is a list of ``"col"`` (identity) or ``("col",
        "identity"|"day"|"month")`` entries.  Partition values land in
        each manifest entry so :meth:`read` can prune files without
        touching parquet.
        """
        import uuid as uuidlib

        if mode not in ("append", "overwrite"):
            raise ValueError(f"mode must be append|overwrite, got {mode!r}")
        ice_fields = self._iceberg_schema(df)
        id_to_name = {f["id"]: f["name"] for f in ice_fields}
        id_to_type = {f["id"]: f["type"] for f in ice_fields}
        name_to_id = {f["name"]: f["id"] for f in ice_fields}

        want = [
            (item, "identity") if isinstance(item, str) else tuple(item)
            for item in (partition_by or [])
        ]
        for c, _tr in want:
            if c not in name_to_id:
                raise ValueError(
                    f"partition column {c!r} not in the DataFrame "
                    f"(have {sorted(name_to_id)})"
                )
        spec_fields = [
            {
                "name": _spec_field_name(c, tr),
                "transform": tr,
                "source-id": name_to_id[c],
                "field-id": 1000 + i,
            }
            for i, (c, tr) in enumerate(want)
        ]

        exists = True
        try:
            # metadata() refuses format-version >= 3, so a v3+ table
            # cannot be written into either (row lineage / sequencing
            # rules would be silently violated)
            meta = self.metadata()
        except FileNotFoundError:
            exists = False
            meta = {
                "format-version": 2,
                "table-uuid": str(uuidlib.uuid4()),
                "location": os.path.abspath(self.path),
                "last-sequence-number": 0,
                "last-updated-ms": 0,
                "last-column-id": self._max_field_id(ice_fields),
                "current-schema-id": 0,
                "schemas": [{"type": "struct", "schema-id": 0,
                             "fields": ice_fields}],
                "default-spec-id": 0,
                "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
                "last-partition-id": max(
                    [999] + [f["field-id"] for f in spec_fields]
                ),
                "default-sort-order-id": 0,
                "sort-orders": [{"order-id": 0, "fields": []}],
                "current-snapshot-id": -1,
                "snapshots": [],
                "snapshot-log": [],
                "metadata-log": [],
            }
        if exists:
            cur = next(
                (s["fields"] for s in meta.get("schemas", [])
                 if s.get("schema-id") == meta.get("current-schema-id")),
                None,
            )
            if cur is not None and [
                (f["name"], f["type"]) for f in cur
            ] != [(f["name"], f["type"]) for f in ice_fields]:
                raise ValueError(
                    "schema differs from table schema; align the "
                    "DataFrame first (no implicit evolution)"
                )
            if cur is not None:
                # an external writer may number fields differently —
                # the TABLE's ids are authoritative for spec source-ids
                id_to_name = {int(f["id"]): f["name"] for f in cur}
                id_to_type = {int(f["id"]): f["type"] for f in cur}
                name_to_id = {f["name"]: int(f["id"]) for f in cur}
                spec_fields = [
                    {
                        "name": _spec_field_name(c, tr),
                        "transform": tr,
                        "source-id": name_to_id[c],
                        "field-id": 1000 + i,
                    }
                    for i, (c, tr) in enumerate(want)
                ]
            # appends follow the TABLE's default partition spec; an
            # explicit partition_by must agree with it (spec evolution
            # is an Iceberg-runtime feature, not this writer's)
            table_spec = next(
                (
                    s
                    for s in meta.get("partition-specs", [])
                    if s.get("spec-id") == meta.get("default-spec-id", 0)
                ),
                {"fields": []},
            )
            existing = [
                {
                    "name": f["name"],
                    "transform": f["transform"],
                    "source-id": int(f["source-id"]),
                    "field-id": int(f["field-id"]),
                }
                for f in table_spec.get("fields", [])
            ]
            if partition_by is not None and [
                (f["source-id"], f["transform"]) for f in spec_fields
            ] != [(f["source-id"], f["transform"]) for f in existing]:
                raise ValueError(
                    "partition_by differs from the table's partition "
                    "spec; omit it on appends (the spec is inherited)"
                )
            spec_fields = existing

        os.makedirs(self.metadata_dir, exist_ok=True)
        data_files = self._stage_data_files(
            df, spec_fields, name_to_id, id_to_name, id_to_type
        )

        snaps = meta.get("snapshots", [])
        snap_id = max((int(s["snapshot-id"]) for s in snaps), default=0) + 1
        seq = int(meta.get("last-sequence-number", 0)) + 1
        now_ms = int(time.time() * 1000)

        # the manifest embeds the TABLE's current schema (authoritative
        # ids + schema-id) — after evolution the DataFrame-derived
        # positional ids would be wrong
        cur_sid = int(meta.get("current-schema-id", 0))
        cur_fields = next(
            (
                s["fields"]
                for s in meta.get("schemas", [])
                if s.get("schema-id") == cur_sid
            ),
            ice_fields,
        )
        ml_rows = [
            self._add_data_manifest(
                meta, cur_fields, spec_fields, id_to_type, data_files,
                snap_id, seq,
            )
        ]
        base_id = self._head(meta)
        if mode == "append" and snaps:
            cur_snap = next(
                (s for s in snaps if int(s["snapshot-id"]) == base_id),
                None,
            )
            if cur_snap is not None:
                # carried manifests keep their ORIGINAL provenance
                # (added_snapshot_id / sequence numbers / counts)
                ml_rows.extend(self._manifest_list_rows(cur_snap))
        self._commit_snapshot(
            meta, snap_id, seq, now_ms, ml_rows, mode, base_id,
            summary_extra,
        )
        return snap_id

    def _current_schema(self, meta: dict) -> tuple[list[dict], int]:
        sid = int(meta.get("current-schema-id", 0))
        sch = next(
            (
                s
                for s in meta.get("schemas", [])
                if int(s.get("schema-id", -1)) == sid
            ),
            None,
        )
        if sch is None:
            raise IcebergProtocolError(
                f"current-schema-id {sid} not present in `schemas`"
            )
        return [dict(f) for f in sch["fields"]], sid

    def delete(self, spark: SparkSession, predicate: str) -> dict:
        """Delete rows matching ``predicate`` WITHOUT rewriting data
        files: commits a v2 POSITION-DELETE file (file_path, pos) — the
        Iceberg twin of delta_lite's deletion vectors.  Returns
        {"snapshot_id", "rows_deleted", "files_touched"}.

        The matched positions come from ``_metadata.row_index`` (the
        same 0-based within-file row position the spec defines), with
        already-deleted rows excluded so repeated deletes stay
        idempotent in the manifests.  The delete manifest's entries
        carry an EMPTY partition tuple — planner-pessimistic (an
        external engine can't partition-prune the delete file) but
        always correct, since application is by exact file path.
        Scale: the anti-join and predicate run distributed; only
        manifest metadata touches the driver.
        """
        import uuid as uuidlib

        import pyarrow.parquet as pq

        from data_lakehouse_platform_spark.sources.avro_lite import (
            write_container,
        )

        meta = self.metadata()
        cur_id = self.current_snapshot_id()
        if cur_id is None:
            raise FileNotFoundError(
                f"table at {self.path} has no current snapshot"
            )
        data_files, deletes = self.plan_files()
        # manifest-bounds pruning: a surgical DELETE against a
        # selective predicate opens only the files whose stats admit a
        # match (rows in skipped files cannot satisfy the predicate)
        data_files = self._prune_by_predicate(
            spark, meta, data_files, predicate, cur_id
        )
        if not data_files:
            return {
                "snapshot_id": cur_id,
                "rows_deleted": 0,
                "files_touched": 0,
            }
        strip = lambda c: F.regexp_replace(  # noqa: E731
            c, "^[a-zA-Z0-9+.-]+:/+", "/"
        )
        df = self._resolved_scan(
            spark, meta, [p for p, _s, _pt in data_files], with_meta=True
        )
        matched = df.filter(predicate).select(
            F.col("__ib_path").alias("file_path"),
            F.col("__ib_pos").cast("long").alias("pos"),
        )
        prior_pos = [d for d in deletes if d["kind"] == "pos"]
        if prior_pos:
            prior = spark.read.parquet(
                *[d["path"] for d in prior_pos]
            ).select(
                strip(F.col("file_path")).alias("file_path"),
                F.col("pos").cast("long").alias("pos"),
            )
            matched = matched.join(
                prior, on=["file_path", "pos"], how="left_anti"
            )

        # Bound the whale: a mass delete must not funnel every matched
        # (file, pos) pair through one task/file.  Count first (cheap
        # aggregate; also the no-match early exit), then range-shard by
        # (file_path, pos) into ~rows_per_delete_file files — each
        # shard sorted for run-length-friendly encoding, each file
        # scoped to a contiguous file_path range so readers of one data
        # file pull few delete files.
        n_del = matched.count()
        if n_del == 0:
            # nothing matched: no commit, nothing staged
            return {
                "snapshot_id": cur_id,
                "rows_deleted": 0,
                "files_touched": 0,
            }
        ddir = os.path.join(self.path, "data")
        os.makedirs(ddir, exist_ok=True)
        stage = os.path.join(ddir, f"del-{uuidlib.uuid4().hex[:12]}")
        n_shards = max(1, -(-n_del // self.ROWS_PER_DELETE_FILE))
        staged = (
            matched.orderBy("file_path", "pos").coalesce(1)
            if n_shards == 1
            else matched.repartitionByRange(
                n_shards, "file_path", "pos"
            ).sortWithinPartitions("file_path", "pos")
        )
        staged.write.mode("errorifexists").parquet(stage)
        dfiles = [
            os.path.join(root, f)
            for root, _d, files in os.walk(stage)
            for f in sorted(files)
            if f.endswith(".parquet")
        ]
        # touched-file count from the staged parquet (already
        # materialized), not a third pass over the anti-join
        n_files_touched = (
            spark.read.parquet(*dfiles)
            .select("file_path").distinct().count()
        )

        snaps = meta.get("snapshots", [])
        snap_id = max(int(s["snapshot-id"]) for s in snaps) + 1
        seq = int(meta.get("last-sequence-number", 0)) + 1
        now_ms = int(time.time() * 1000)
        mdir = self.metadata_dir

        entries = [
            {
                "status": 1, "snapshot_id": snap_id,
                "sequence_number": seq, "file_sequence_number": seq,
                "data_file": {
                    "content": 1, "file_path": dpath,
                    "file_format": "PARQUET", "partition": {},
                    "record_count": pq.read_metadata(dpath).num_rows,
                    "file_size_in_bytes": os.path.getsize(dpath),
                },
            }
            for dpath in dfiles
        ]
        extra = {
            "schema": json.dumps(
                {"type": "struct", "schema-id": 0, "fields": [
                    {"id": 2147483546, "name": "file_path",
                     "required": True, "type": "string"},
                    {"id": 2147483545, "name": "pos",
                     "required": True, "type": "long"},
                ]}
            ).encode(),
            "partition-spec": json.dumps([]).encode(),
            "partition-spec-id": b"0",
            "format-version": b"2",
            "content": b"deletes",
        }
        mpath = os.path.join(mdir, f"m-{uuidlib.uuid4().hex}.avro")
        write_container(mpath, _manifest_schema([]), entries,
                        extra_metadata=extra)

        cur_snap = next(
            s for s in snaps if int(s["snapshot-id"]) == cur_id
        )
        ml_rows = [
            _new_manifest_row(mpath, 1, 0, snap_id, seq, len(dfiles), n_del)
        ] + self._manifest_list_rows(cur_snap)  # provenance verbatim
        self._commit_snapshot(
            meta, snap_id, seq, now_ms, ml_rows, "delete", cur_id
        )
        return {
            "snapshot_id": snap_id,
            "rows_deleted": n_del,
            "files_touched": n_files_touched,
        }

    def _add_data_manifest(
        self,
        meta: dict,
        fields: list[dict],
        spec_fields: list[dict],
        id_to_type: dict[int, str],
        data_files: list[tuple],
        snap_id: int,
        seq: int,
    ) -> dict:
        """Write ``data_files`` (:meth:`_stage_data_files` tuples) as
        ADDED entries of one data manifest under the table's default
        spec, embedding ``fields`` as the current schema; returns the
        manifest's list row."""
        import uuid as uuidlib

        from data_lakehouse_platform_spark.sources.avro_lite import (
            write_container,
        )

        entries = [
            {
                "status": 1, "snapshot_id": snap_id,
                "sequence_number": seq, "file_sequence_number": seq,
                "data_file": {
                    "content": 0, "file_path": path,
                    "file_format": "PARQUET", "partition": part,
                    "record_count": nrows, "file_size_in_bytes": size,
                    **fstats,
                },
            }
            for path, nrows, size, part, fstats in data_files
        ]
        part_avro = [
            {
                "name": pf["name"],
                "type": _partition_avro_type(
                    pf["transform"], id_to_type[pf["source-id"]]
                ),
                "field-id": pf["field-id"],
            }
            for pf in spec_fields
        ]
        spec_id = int(meta.get("default-spec-id", 0))
        extra = {
            "schema": json.dumps(
                {
                    "type": "struct",
                    "schema-id": int(meta.get("current-schema-id", 0)),
                    "fields": fields,
                }
            ).encode(),
            "partition-spec": json.dumps(spec_fields).encode(),
            "partition-spec-id": str(spec_id).encode(),
            "format-version": b"2",
            "content": b"data",
        }
        mpath = os.path.join(
            self.metadata_dir, f"m-{uuidlib.uuid4().hex}.avro"
        )
        write_container(mpath, _manifest_schema(part_avro), entries,
                        extra_metadata=extra)
        return _new_manifest_row(
            mpath, 0, spec_id, snap_id, seq, len(data_files),
            sum(n for _, n, _s, _p, _st in data_files),
        )

    def _commit_snapshot(
        self,
        meta: dict,
        snap_id: int,
        seq: int,
        now_ms: int,
        ml_rows: list[dict],
        operation: str,
        parent_id: int | None,
        summary_extra: dict | None = None,
    ) -> None:
        """Write the snapshot's manifest list, append the snapshot,
        point the table at it (current-snapshot-id, snapshot-log, and
        the ``main`` ref when another writer materialized one in
        ``refs``) and commit the metadata put-if-absent.
        ``summary_extra`` joins the summary string map — the streaming
        sinks' exactly-once ledger rides there (see
        :meth:`committed_batches`)."""
        import uuid as uuidlib

        from data_lakehouse_platform_spark.sources.avro_lite import (
            write_container,
        )

        ml_path = os.path.join(
            self.metadata_dir, f"snap-{snap_id}-1-{uuidlib.uuid4().hex}.avro"
        )
        write_container(ml_path, _ML_SCHEMA, ml_rows,
                        extra_metadata={"format-version": b"2"})
        snap = {
            "snapshot-id": snap_id, "sequence-number": seq,
            "timestamp-ms": now_ms, "manifest-list": ml_path,
            "summary": {
                "operation": operation,
                **{str(k): str(v) for k, v in (summary_extra or {}).items()},
            },
            "schema-id": int(meta.get("current-schema-id", 0)),
        }
        if parent_id is not None:
            snap["parent-snapshot-id"] = int(parent_id)
        meta["snapshots"] = meta.get("snapshots", []) + [snap]
        meta["current-snapshot-id"] = snap_id
        meta["last-sequence-number"] = seq
        meta["last-updated-ms"] = now_ms
        meta.setdefault("snapshot-log", []).append(
            {"timestamp-ms": now_ms, "snapshot-id": snap_id}
        )
        if "main" in (meta.get("refs") or {}):
            meta["refs"]["main"] = {"snapshot-id": snap_id, "type": "branch"}
        self._commit_metadata_json(meta)

    def _stage_equality_delete(
        self,
        values: DataFrame,
        eq_cols: list[str],
        name_to_id: dict[str, int],
    ) -> tuple[list[str], int]:
        """Stage DISTINCT ``eq_cols`` tuples from ``values`` as the
        parquet payload of an equality delete file.  Returns
        ``([file paths], n_keys)``.  Files carry the table's field ids
        in their footers (same as data files) so an external by-id
        reader resolves the match columns across renames."""
        import uuid as uuidlib

        keys_df = values.select(*eq_cols).distinct()
        n_keys = keys_df.count()
        ddir = os.path.join(self.path, "data")
        os.makedirs(ddir, exist_ok=True)
        stage = os.path.join(ddir, f"eqdel-{uuidlib.uuid4().hex[:12]}")
        n_shards = max(1, -(-n_keys // self.ROWS_PER_DELETE_FILE))
        staged = (
            keys_df.orderBy(*eq_cols).coalesce(1)
            if n_shards == 1
            else keys_df.repartitionByRange(
                n_shards, *eq_cols
            ).sortWithinPartitions(*eq_cols)
        )
        stamped = self._stamp_field_ids(staged, name_to_id)
        self._parquet_with_field_ids(
            lambda: stamped.write.mode("errorifexists").parquet(stage),
            values.sparkSession,
        )
        files = [
            os.path.join(root, f)
            for root, _d, fs in os.walk(stage)
            for f in sorted(fs)
            if f.endswith(".parquet")
        ]
        return files, n_keys

    def _eq_delete_manifest(
        self,
        meta: dict,
        dfiles: list[str],
        eq_ids: list[int],
        snap_id: int,
        seq: int,
    ) -> tuple[str, int]:
        """Write a content=deletes manifest whose entries are equality
        delete files (content=2, ``equality_ids`` stamped).  Returns
        ``(manifest path, total key rows)``.  Entries carry an EMPTY
        partition tuple — planner-pessimistic (no partition pruning of
        the delete file) but always correct, matching the position-
        delete writer's choice."""
        import uuid as uuidlib

        import pyarrow.parquet as pq

        from data_lakehouse_platform_spark.sources.avro_lite import (
            write_container,
        )

        entries = [
            {
                "status": 1, "snapshot_id": snap_id,
                "sequence_number": seq, "file_sequence_number": seq,
                "data_file": {
                    "content": 2, "file_path": dpath,
                    "file_format": "PARQUET", "partition": {},
                    "record_count": pq.read_metadata(dpath).num_rows,
                    "file_size_in_bytes": os.path.getsize(dpath),
                    "equality_ids": [int(i) for i in eq_ids],
                },
            }
            for dpath in dfiles
        ]
        n_rows = sum(e["data_file"]["record_count"] for e in entries)
        cur_sid = int(meta.get("current-schema-id", 0))
        cur_fields = next(
            s["fields"] for s in meta.get("schemas", [])
            if s.get("schema-id") == cur_sid
        )
        extra = {
            "schema": json.dumps(
                {"type": "struct", "schema-id": cur_sid,
                 "fields": cur_fields}
            ).encode(),
            "partition-spec": json.dumps([]).encode(),
            "partition-spec-id": b"0",
            "format-version": b"2",
            "content": b"deletes",
        }
        mpath = os.path.join(
            self.metadata_dir, f"m-{uuidlib.uuid4().hex}.avro"
        )
        write_container(mpath, _manifest_schema([]), entries,
                        extra_metadata=extra)
        return mpath, n_rows

    def upsert(
        self,
        spark: SparkSession,
        source: DataFrame,
        keys: list[str],
        summary_extra: dict | None = None,
    ) -> dict:
        """Streaming-style UPSERT in ONE snapshot: an equality delete
        on ``keys`` (retracting any prior row whose key appears in
        ``source``) plus an append of ``source``'s rows, both at the
        same data sequence number.  The spec's strict ``data seq <
        delete seq`` gate is what makes this atomic-by-construction:
        the delete cannot touch the rows committed beside it.  This is
        exactly the Flink/Iceberg upsert sink's commit shape
        (equality-delta writer + data writer, one checkpoint commit).

        ``upsert`` is merge-on-read: commit cost is key-set sized and
        independent of table size; readers pay the match until
        :meth:`rewrite_data_files` compacts.  For a copy-on-write
        MERGE use :meth:`DeltaLiteTable.merge`.  A source with two
        rows for one key is refused before anything is staged (both
        rows would land, and the table would hold the key twice).
        Returns ``{"snapshot_id", "rows", "keys"}``.
        """
        from pyspark.sql import functions as F

        try:
            meta = self.metadata()
        except FileNotFoundError:
            meta = {}
        cur_id = self._head(meta)
        if cur_id is not None:
            cur_fields, _sid = self._current_schema(meta)
            tcols = [f["name"] for f in cur_fields]
            if sorted(source.columns) != sorted(tcols):
                raise ValueError(
                    "source schema differs from table schema; align the "
                    "DataFrame first (no implicit evolution)"
                )
            bad = [k for k in keys if k not in tcols]
            if bad:
                raise ValueError(f"upsert keys {bad} not in table columns")
        dup = source.groupBy(*keys).count().filter(F.col("count") > 1)
        if dup.limit(1).count() > 0:
            raise ValueError(
                f"source has duplicate keys on {keys}; upsert requires "
                "at most one source row per key"
            )
        if cur_id is None:
            # empty/fresh table: an upsert is a plain append
            return {
                "snapshot_id": self.write(
                    source, mode="append", summary_extra=summary_extra,
                ),
                "rows": source.count(),
                "keys": 0,
            }
        name_to_id = {f["name"]: int(f["id"]) for f in cur_fields}
        id_to_name = {v: k for k, v in name_to_id.items()}
        id_to_type = {int(f["id"]): f["type"] for f in cur_fields}
        spec_fields = self._table_spec(meta)
        eq_ids = [name_to_id[k] for k in keys]

        # Stage both sides BEFORE building the commit: data files
        # (table spec partitioning, field-id footers, column stats)
        # and the key-set delete file.  For a partitioned table,
        # cluster the source by its partition SOURCE columns first —
        # otherwise partitionBy fans a P-partition source across B
        # table buckets into up to P x B footer-overhead files (a 5k-
        # row upsert into a 64-bucket table measured 2,048 files /
        # 2.7 MB before this; ~64 files after).  The shuffle is
        # source-sized, preserving the commit-cost-independent-of-
        # table-size contract.
        stage_src = source.select(*tcols)
        if spec_fields:
            stage_src = stage_src.repartition(
                *[id_to_name[pf["source-id"]] for pf in spec_fields]
            )
        data_files = self._stage_data_files(
            stage_src, spec_fields, name_to_id, id_to_name,
            id_to_type,
        )
        dfiles, n_keys = self._stage_equality_delete(
            source, keys, name_to_id
        )

        snaps = meta.get("snapshots", [])
        snap_id = max(int(s["snapshot-id"]) for s in snaps) + 1
        seq = int(meta.get("last-sequence-number", 0)) + 1
        now_ms = int(time.time() * 1000)

        # delete manifest (content=1 list row, content=2 entries)
        del_mpath, del_rows = self._eq_delete_manifest(
            meta, dfiles, eq_ids, snap_id, seq
        )
        cur_snap = next(
            s for s in snaps if int(s["snapshot-id"]) == cur_id
        )
        data_row = self._add_data_manifest(
            meta, cur_fields, spec_fields, id_to_type, data_files,
            snap_id, seq,
        )
        ml_rows = [
            data_row,
            _new_manifest_row(del_mpath, 1, 0, snap_id, seq, len(dfiles),
                              del_rows),
        ] + self._manifest_list_rows(cur_snap)
        self._commit_snapshot(
            meta, snap_id, seq, now_ms, ml_rows, "overwrite", cur_id,
            summary_extra,
        )
        return {
            "snapshot_id": snap_id,
            "rows": data_row["added_rows_count"],
            "keys": n_keys,
        }

    def rewrite_data_files(
        self,
        spark: SparkSession,
        target_file_bytes: int = 128 << 20,
    ) -> dict:
        """Compaction (Iceberg's rewrite_data_files): bin-pack every
        data file smaller than ``target_file_bytes`` — and every file
        carrying position-delete tombstones — into ~target-sized
        files, FOLDING the deletes in.  Compaction never crosses a
        partition boundary (rewritten files keep their partition
        tuple).  Pure-position-delete manifests are dropped from the
        new snapshot (their targets no longer exist); equality-delete
        manifests are kept for the untouched files, and rewritten
        files escape re-application because their NEW sequence number
        exceeds every existing delete's (spec gating).  Prior
        snapshots stay time-travelable.  This is the small-file story
        at 100 TB: a streaming/delete-heavy table converges back to
        scan-efficient files without blocking writers.
        """
        import uuid as uuidlib

        import pyarrow.parquet as pq

        from data_lakehouse_platform_spark.sources.avro_lite import (
            write_container,
        )

        meta = self.metadata()
        cur_id = self.current_snapshot_id()
        if cur_id is None:
            raise FileNotFoundError(
                f"table at {self.path} has no current snapshot"
            )
        data_files, deletes = self.plan_files()
        pos = [d for d in deletes if d["kind"] == "pos"]
        pos_paths: set[str] = set()
        for d in pos:
            for r in (
                spark.read.parquet(d["path"])
                .select("file_path")
                .distinct()
                .collect()
            ):
                pos_paths.add(
                    os.path.abspath(
                        re.sub(r"^[a-zA-Z0-9+.-]+:/+", "/", r.file_path)
                    )
                )

        default_spec_id = int(meta.get("default-spec-id", 0))
        cur_snap_pre = next(
            s
            for s in meta.get("snapshots", [])
            if int(s["snapshot-id"]) == cur_id
        )
        data_spec_ids = {
            int(r.get("partition_spec_id") or 0)
            for r in self._manifest_list_rows(cur_snap_pre)
            if int(r.get("content") or 0) == 0
        }
        migrate = bool(data_spec_ids - {default_spec_id})
        fields_m, _csid = self._current_schema(meta)
        name_to_id = {f["name"]: int(f["id"]) for f in fields_m}
        id_to_name = {v: k for k, v in name_to_id.items()}
        id_types = {int(f["id"]): f["type"] for f in fields_m}
        kept: list[tuple[str, int, dict]] = []
        new_files: list[tuple[str, int, int, dict, dict]] = []
        n_rewritten = 0
        if migrate:
            # SPEC MIGRATION: the table holds manifests under evolved
            # (non-default) partition specs — one compaction rewrites
            # EVERY row under the current default spec, the Iceberg
            # way to converge the layout after a partition evolution.
            # All deletes are applied during the read, so no delete
            # manifest carries forward.
            sub_all = self._read_files(spark, meta, data_files, deletes)
            new_files = self._stage_data_files(
                sub_all, self._table_spec(meta), name_to_id,
                id_to_name, id_types,
            )
            n_rewritten = len(data_files)
        else:
            groups: dict[tuple, list] = {}
            for t in data_files:
                groups.setdefault(tuple(sorted(t[2].items())), []).append(t)
            for key, members in sorted(groups.items()):
                cand = [
                    m
                    for m in members
                    if os.path.getsize(m[0]) < target_file_bytes
                    or os.path.abspath(m[0]) in pos_paths
                ]
                dirty = any(
                    os.path.abspath(m[0]) in pos_paths for m in cand
                )
                if len(cand) <= 1 and not dirty:
                    kept.extend(members)
                    continue
                kept.extend(m for m in members if m not in cand)
                total = sum(os.path.getsize(m[0]) for m in cand)
                n_out = max(1, -(-total // target_file_bytes))
                sub = self._read_files(spark, meta, cand, deletes)
                # the group shares one partition tuple: stage without
                # partition columns and record that tuple
                for path, nrows, size, _p, stats in self._stage_data_files(
                    sub.coalesce(n_out), [], name_to_id, id_to_name,
                    id_types,
                ):
                    new_files.append((path, nrows, size, dict(key), stats))
                n_rewritten += len(cand)

        if not new_files:
            return {
                "snapshot_id": cur_id,
                "rewritten_files": 0,
                "new_files": 0,
            }

        snaps = meta.get("snapshots", [])
        snap_id = max(int(s["snapshot-id"]) for s in snaps) + 1
        seq = int(meta.get("last-sequence-number", 0)) + 1
        now_ms = int(time.time() * 1000)
        mdir = self.metadata_dir

        spec_fields = self._table_spec(meta)
        part_avro = [
            {
                "name": pf["name"],
                "type": _partition_avro_type(
                    pf["transform"], id_types[pf["source-id"]]
                ),
                "field-id": pf["field-id"],
            }
            for pf in spec_fields
        ]
        # untouched files keep the column stats their writer recorded
        live = self._live_data_entries(cur_snap_pre)
        entries = [
            {
                "status": 1, "snapshot_id": snap_id,
                "sequence_number": seq, "file_sequence_number": seq,
                "data_file": {
                    "content": 0, "file_path": path,
                    "file_format": "PARQUET", "partition": part,
                    "record_count": nrows, "file_size_in_bytes": size,
                    **fstats,
                },
            }
            for path, nrows, size, part, fstats in new_files
        ] + [
            # untouched files ride along as EXISTING with their
            # ORIGINAL sequence numbers (equality-delete gating intact)
            {
                "status": 0, "snapshot_id": snap_id,
                "sequence_number": fseq, "file_sequence_number": fseq,
                "data_file": {
                    "content": 0, "file_path": path,
                    "file_format": "PARQUET", "partition": part,
                    "record_count": pq.read_metadata(path).num_rows,
                    "file_size_in_bytes": os.path.getsize(path),
                    **{
                        k: v
                        for k, v in live.get(
                            os.path.abspath(path), {}
                        ).items()
                        if k in self._STAT_KEYS
                    },
                },
            }
            for path, fseq, part in kept
        ]
        extra = {
            "schema": json.dumps(
                next(
                    (
                        s
                        for s in meta.get("schemas", [])
                        if s.get("schema-id")
                        == meta.get("current-schema-id", 0)
                    ),
                    meta.get("schema", {}),
                )
            ).encode(),
            "partition-spec": json.dumps(spec_fields).encode(),
            "partition-spec-id": str(default_spec_id).encode(),
            "format-version": b"2",
            "content": b"data",
        }
        mpath = os.path.join(mdir, f"m-{uuidlib.uuid4().hex}.avro")
        write_container(mpath, _manifest_schema(part_avro), entries,
                        extra_metadata=extra)

        min_seq = min([seq] + [fseq for _p, fseq, _pt in kept])
        ml_rows = [
            _new_manifest_row(
                mpath, 0, default_spec_id, snap_id, seq, len(new_files),
                sum(n for _p, n, _s, _pt, _st in new_files),
                min_seq=min_seq, existing_files=len(kept),
            )
        ]
        # keep delete manifests that still matter (any equality-delete
        # entry); drop pure-position manifests — their targets are gone
        cur_snap = next(
            s for s in snaps if int(s["snapshot-id"]) == cur_id
        )
        for row in self._manifest_list_rows(cur_snap):
            if migrate:
                break  # every delete was applied during the migration read
            if int(row.get("content") or 0) != 1:
                continue
            _, mrows = read_container(row["manifest_path"])
            has_eq = any(
                int(e["data_file"].get("content") or 0) == 2
                for e in mrows
                if int(e.get("status") or 0) != 2
            )
            if not has_eq:
                continue
            # dangling-delete removal (Iceberg's remove_dangling_deletes
            # shape): an equality delete applies only to data files with
            # seq STRICTLY BELOW its own.  A manifest whose commit
            # sequence (>= every entry's seq) no longer exceeds any
            # surviving file's sequence cannot match anything — carrying
            # it would only make every later read pay an anti-join that
            # removes nothing.
            del_seq = int(row.get("sequence_number") or 0)
            if not any(s < del_seq for _p, s, _pt in kept):
                continue
            ml_rows.append(row)  # provenance verbatim
        self._commit_snapshot(
            meta, snap_id, seq, now_ms, ml_rows, "replace", cur_id
        )
        return {
            "snapshot_id": snap_id,
            "rewritten_files": n_rewritten,
            "new_files": len(new_files),
        }

    def committed_batches(self, app_id: str) -> int:
        """Largest ``dlp.batch-id`` among snapshots whose summary is
        stamped with this ``dlp.app-id`` — the streaming sink's
        exactly-once ledger (the same place real Iceberg sinks record
        their application properties; summaries live in metadata.json,
        so this is a pure metadata scan).  Returns -1 when none,
        including on a new table that has no metadata yet.

        Caveat (matches real Iceberg): the ledger rides snapshot
        summaries, so another engine's snapshot expiry must retain at
        least the most recent stamped snapshot or a replay after
        expiry could double-append."""
        try:
            snaps = self.snapshots()
        except FileNotFoundError:
            return -1
        best = -1
        for s in snaps:
            sm = s.get("summary") or {}
            if sm.get("dlp.app-id") == app_id and "dlp.batch-id" in sm:
                best = max(best, int(sm["dlp.batch-id"]))
        return best
