"""Dependency-free read-only Apache Iceberg table reader (v1/v2).

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

WRITES (:meth:`IcebergLiteTable.write`) cover the migrate-OUT edge:
v2 tables with append/overwrite snapshots — data parquet under
``data/``, a spec-shaped manifest + manifest list per commit
(field-ids from the spec's manifest tables, ``schema`` /
``partition-spec`` / ``format-version`` Avro file metadata), a new
``v{N}.metadata.json`` + ``version-hint.text``, flat primitive
columns only (nested types refuse loudly — use
DeltaLiteTable, the engine's full-featured native format).

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


def _mm_fmix(h1, length):
    h1 = h1.bitwiseXOR(length)
    h1 = h1.bitwiseXOR(F.shiftright(h1, 16))
    h1 = _mm_mul32(h1, 0x85EBCA6B)
    h1 = h1.bitwiseXOR(F.shiftright(h1, 13))
    h1 = _mm_mul32(h1, 0xC2B2AE35)
    return h1.bitwiseXOR(F.shiftright(h1, 16))


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
            epoch = _dt.datetime(
                1970, 1, 1, tzinfo=value.tzinfo if value.tzinfo else None
            )
            micros = int((value - epoch).total_seconds() * 1_000_000)
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
            return struct.unpack("<q", b)[0]
        if ice_type in ("timestamptz", "timestamp"):
            micros = struct.unpack("<q", b)[0]
            base = datetime.datetime(
                1970, 1, 1, tzinfo=datetime.timezone.utc
            ) + datetime.timedelta(microseconds=micros)
            if ice_type == "timestamptz":
                return _to_session_naive(base, tz_name)
            return base.replace(tzinfo=None)
        if ice_type in ("float", "double"):
            v = struct.unpack(
                "<f" if ice_type == "float" else "<d", b
            )[0]
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
        # metadata), and read_with_lineage() surfaces _row_id /
        # _last_updated_sequence_number per the spec's derivation —
        # every spec-compliant v3 table carries next-row-id, so
        # refusing on it would make the v3 read path vacuous.
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
        sid = self.metadata().get("current-snapshot-id")
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

    def _live_file_stats(self, snap: dict) -> dict[str, dict]:
        """{abs data-file path: raw manifest stats} for a snapshot's
        live files — record_count plus the avro map-arrays
        (null_value_counts / lower_bounds / upper_bounds) folded to
        {field id: value} dicts.  A second metadata-only manifest pass,
        read only when a predicate asks for skipping."""
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

                def _fold(key):
                    arr = dfile.get(key)
                    if not arr:
                        return {}
                    return {
                        int(kv["key"]): kv["value"] for kv in arr
                    }

                out[os.path.abspath(_local_path(dfile["file_path"]))] = {
                    "record_count": int(dfile.get("record_count") or 0),
                    "null_value_counts": _fold("null_value_counts"),
                    "lower_bounds": _fold("lower_bounds"),
                    "upper_bounds": _fold("upper_bounds"),
                }
        return out

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
        ref: str | None = None,
        predicate: str | None = None,
    ) -> DataFrame:
        """Snapshot read (current snapshot, time travel by id, or a
        named ref — ``read(ref="audit-2024q1")``).

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
        if ref is not None:
            if snapshot_id is not None:
                raise ValueError("pass snapshot_id OR ref, not both")
            snapshot_id = self.resolve_ref(ref)
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
        # (spec rule): a snapshot taken before a drop_column still
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

    def _lineage_assignments(
        self, snap: dict
    ) -> dict[str, tuple[int, int]]:
        """{abs data-file path: (first_row_id, data sequence number)}
        per the v3 row-lineage inheritance rules: an entry's explicit
        ``first_row_id`` wins; a null one inherits the manifest-list
        row's ``first_row_id`` plus the record counts of the PRIOR
        null-assigned data files in that manifest (spec, "Row
        Lineage" assignment).  Refuses loudly when neither level
        carries an assignment — guessing row ids would fabricate
        lineage."""
        if "manifest-list" not in snap:
            raise IcebergProtocolError(
                "row lineage needs a manifest list carrying "
                "first_row_id assignments (v1 inline manifests "
                "predate lineage)"
            )
        out: dict[str, tuple[int, int]] = {}
        _, ml_rows = read_container(_local_path(snap["manifest-list"]))
        for row in ml_rows:
            if int(row.get("content") or 0) != 0:
                continue  # delete manifests carry no row ids
            mpath = _local_path(row["manifest_path"])
            mseq = int(row.get("sequence_number") or 0)
            mfr = row.get("first_row_id")
            _, entries = read_container(mpath)
            acc = 0
            for e in entries:
                if int(e.get("status") or 0) == 2:
                    continue
                d = e["data_file"]
                if int(d.get("content") or 0) != 0:
                    continue
                seq = e.get("sequence_number")
                seq = mseq if seq is None else int(seq)
                fr = e.get("first_row_id")
                if fr is None:
                    fr = d.get("first_row_id")
                if fr is None:
                    if mfr is None:
                        raise IcebergProtocolError(
                            f"data file {d['file_path']} has no "
                            "first_row_id and its manifest carries "
                            "none to inherit — cannot synthesize row "
                            "lineage; use an Iceberg runtime"
                        )
                    fr = int(mfr) + acc
                    acc += int(d.get("record_count") or 0)
                out[
                    os.path.abspath(_local_path(d["file_path"]))
                ] = (int(fr), seq)
        return out

    def read_with_lineage(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
    ) -> DataFrame:
        """v3 ROW-LINEAGE read (r10): every row carries ``_row_id``
        and ``_last_updated_sequence_number``.  For data files without
        materialized lineage columns the spec's derivation applies —
        ``_row_id = file first_row_id + row position`` and the update
        sequence is the file's data sequence number.  Files that DO
        carry materialized lineage columns (a lineage-aware
        compactor's carry-over output) are refused loudly: projecting
        the derived values over them would misattribute rows.
        Deletes (position, equality, Puffin DVs) apply exactly as in
        :meth:`read` — a deleted row simply has no surviving lineage
        row."""
        import pyarrow.parquet as pq

        meta = self.metadata()
        snaps = {
            int(s["snapshot-id"]): s for s in meta.get("snapshots", [])
        }
        sid = (
            self.current_snapshot_id()
            if snapshot_id is None
            else int(snapshot_id)
        )
        if sid is None or sid not in snaps:
            raise FileNotFoundError(
                f"snapshot {sid} not in table (have {sorted(snaps)})"
            )
        if int(meta.get("format-version", 1)) != 3:
            raise IcebergProtocolError(
                "row lineage is a v3 construct; this table is "
                f"format-version {meta.get('format-version', 1)}"
            )
        data_files, deletes = self.plan_files(sid)
        for p, _s, _pt in data_files:
            names = set(pq.read_schema(p).names)
            if names & {"_row_id", "_last_updated_sequence_number"}:
                raise IcebergProtocolError(
                    f"{p} carries materialized lineage columns — "
                    "deriving positional row ids over it would "
                    "misattribute rows; use an Iceberg runtime"
                )
        lineage = self._lineage_assignments(snaps[sid])
        missing = [
            p
            for p, _s, _pt in data_files
            if os.path.abspath(p) not in lineage
        ]
        if missing:
            raise IcebergProtocolError(
                f"no row-lineage assignment for {missing[:3]} — "
                "cannot synthesize _row_id"
            )
        return self._read_files(
            spark, meta, data_files, deletes, lineage=lineage
        )

    def _read_files(
        self,
        spark: SparkSession,
        meta: dict,
        data_files: list[tuple[str, int, dict]],
        deletes: list[dict],
        lineage: dict[str, tuple[int, int]] | None = None,
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
            with_meta=bool(pos or eq or dv or lineage),
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
        if lineage:
            # v3 row lineage: file-level (first_row_id, data seq)
            # attached by the same O(1)-per-file broadcast pattern as
            # the equality-delete sequence map, derived per row from
            # the in-file position — no extra scan, no shuffle
            lin_rows = []
            for p, (fr, lseq) in lineage.items():
                for k in {p, urllib.parse.quote(p, safe="/=")}:
                    lin_rows.append((k, int(fr), int(lseq)))
            ldf = F.broadcast(
                spark.createDataFrame(
                    lin_rows,
                    "__ib_path string, __ib_first long, __ib_lseq long",
                )
            )
            df = (
                df.join(ldf, on="__ib_path", how="left")
                .withColumn(
                    "_row_id", F.col("__ib_first") + F.col("__ib_pos")
                )
                .withColumn(
                    "_last_updated_sequence_number", F.col("__ib_lseq")
                )
                .drop("__ib_first", "__ib_lseq")
            )
        if pos or eq or dv or lineage:
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
                    # type promotion (update_column_type — int->long,
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

    def _field_names_by_id_inv(self, meta: dict) -> dict[str, int]:
        """name -> field-id for the current schema (the field-id
        stamping direction)."""
        return {n: i for i, n in self._field_names_by_id(meta).items()}

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
        reproduces identical ids.  Accepts a DataFrame or a bare
        StructType (add_files derives the latter from parquet footers
        via pyarrow without a Spark job)."""
        from pyspark.sql.types import StructType

        schema = df if isinstance(df, StructType) else df.schema
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
        :meth:`write` and :meth:`merge`.

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
        branch: str = "main",
    ) -> int:
        """Commit ``df`` as a new v2 snapshot (returns its snapshot id).
        ``append`` keeps prior manifests in the new manifest list;
        ``overwrite`` starts the list fresh (full-table replace, the
        prior snapshot stays time-travelable).  Flat primitive columns
        only — refused loudly otherwise.

        ``branch`` targets a named branch ref (Iceberg's
        write-audit-publish staging): the commit's parent and carried
        manifests come from the BRANCH head, only the branch pointer
        advances — ``main`` (current-snapshot-id, snapshot-log, every
        reader not opting into the ref) is untouched until
        :meth:`fast_forward` publishes.  The branch must already exist
        (:meth:`create_branch`); read it back with ``read(ref=...)``.

        ``partition_by`` (creation only; appends inherit the table's
        spec) is a list of ``"col"`` (identity) or ``("col",
        "identity"|"day"|"month")`` entries.  Partition values land in
        each manifest entry so :meth:`read` can prune files without
        touching parquet.
        """
        import uuid as uuidlib

        from data_lakehouse_platform_spark.sources.avro_lite import (
            write_container,
        )

        if mode not in ("append", "overwrite"):
            raise ValueError(f"mode must be append|overwrite, got {mode!r}")
        if branch != "main":
            # validate BEFORE the staging work: branch writes target an
            # EXISTING ref (silently creating one on a typo would
            # publish nothing forever); tags are immutable
            self._resolve_branch_base(self.metadata(), branch)
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

        mdir = self.metadata_dir
        os.makedirs(mdir, exist_ok=True)
        data_files = self._stage_data_files(
            df, spec_fields, name_to_id, id_to_name, id_to_type
        )

        snaps = meta.get("snapshots", [])
        snap_id = max((int(s["snapshot-id"]) for s in snaps), default=0) + 1
        seq = int(meta.get("last-sequence-number", 0)) + 1
        now_ms = int(time.time() * 1000)

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
        default_spec_id = int(meta.get("default-spec-id", 0))
        extra = {
            "schema": json.dumps(
                {
                    "type": "struct",
                    "schema-id": cur_sid,
                    "fields": cur_fields,
                }
            ).encode(),
            "partition-spec": json.dumps(spec_fields).encode(),
            "partition-spec-id": str(default_spec_id).encode(),
            "format-version": b"2",
            "content": b"data",
        }
        mpath = os.path.join(mdir, f"m-{uuidlib.uuid4().hex}.avro")
        write_container(mpath, _manifest_schema(part_avro), entries,
                        extra_metadata=extra)
        n_rows = sum(n for _, n, _s, _p, _st in data_files)
        ml_rows = [
            {
                "manifest_path": mpath,
                "manifest_length": os.path.getsize(mpath),
                "partition_spec_id": default_spec_id, "content": 0,
                "sequence_number": seq, "min_sequence_number": seq,
                "added_snapshot_id": snap_id,
                "added_files_count": len(data_files),
                "existing_files_count": 0, "deleted_files_count": 0,
                "added_rows_count": n_rows,
                "existing_rows_count": 0, "deleted_rows_count": 0,
            }
        ]
        # the commit's BASE is the target branch's head: main reads it
        # from current-snapshot-id, a staging branch from its ref
        base_id = self._resolve_branch_base(meta, branch)
        if mode == "append" and snaps:
            cur_snap = next(
                (s for s in snaps if int(s["snapshot-id"]) == base_id),
                None,
            )
            if cur_snap is not None:
                # carried manifests keep their ORIGINAL provenance
                # (added_snapshot_id / sequence numbers / counts)
                ml_rows.extend(self._manifest_list_rows(cur_snap))
        ml_path = os.path.join(
            mdir, f"snap-{snap_id}-1-{uuidlib.uuid4().hex}.avro"
        )
        write_container(ml_path, _ML_SCHEMA, ml_rows,
                        extra_metadata={"format-version": b"2"})

        snap = {
            "snapshot-id": snap_id, "sequence-number": seq,
            "timestamp-ms": now_ms, "manifest-list": ml_path,
            "summary": {
                "operation": "append" if mode == "append" else "overwrite",
                # extra summary properties (spec: summary is a string
                # map) — the streaming sink's exactly-once ledger rides
                # here (see streaming/pipelines.append_stream_to_iceberg)
                **{
                    str(k): str(v)
                    for k, v in (summary_extra or {}).items()
                },
            },
            "schema-id": cur_sid,
        }
        if exists and base_id is not None:
            snap["parent-snapshot-id"] = int(base_id)
        meta["snapshots"] = snaps + [snap]
        meta["last-sequence-number"] = seq
        meta["last-updated-ms"] = now_ms
        self._advance_head(meta, snap_id, now_ms, branch)

        self._commit_metadata_json(meta)
        return snap_id

    # -- schema evolution (metadata-only commits) -----------------------
    #
    # The spec's evolution model (Iceberg spec "Schema Evolution"):
    # every column has an immutable field-id; add assigns a NEVER-reused
    # id (last-column-id high-water mark), rename/promote keep the id,
    # drop removes the field from the current schema but old snapshots
    # keep reading THEIR schema.  Each verb appends a new entry to
    # `schemas` with a bumped schema-id and flips current-schema-id —
    # one optimistic metadata commit, no data files touched.  The read
    # side already resolves by field-id (see _resolved_scan); the write
    # side stamps ids into parquet footers, so evolved tables stay
    # self-consistent end-to-end.

    #: safe primitive promotions per the spec (plus decimal widening,
    #: handled separately): the physical narrower type casts up
    #: losslessly at read time.
    _TYPE_PROMOTIONS = {("int", "long"), ("float", "double")}

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

    def _commit_schema(self, meta: dict, new_fields: list[dict]) -> int:
        """Append ``new_fields`` as the next schema, flip
        current-schema-id, advance last-column-id (a high-water mark:
        it NEVER decreases, so dropped ids are never reassigned), and
        commit the metadata file put-if-absent.  Returns the new
        schema-id."""
        new_sid = (
            max(
                (int(s.get("schema-id", 0)) for s in meta.get("schemas", [])),
                default=-1,
            )
            + 1
        )
        meta.setdefault("schemas", []).append(
            {"type": "struct", "schema-id": new_sid, "fields": new_fields}
        )
        meta["current-schema-id"] = new_sid
        meta["last-column-id"] = max(
            int(meta.get("last-column-id", 0)),
            self._max_field_id(new_fields),
        )
        meta["last-updated-ms"] = int(time.time() * 1000)
        self._commit_metadata_json(meta)
        return new_sid

    def _live_idless_files(self, containing: str | None = None) -> list[str]:
        """Live data files whose parquet footers carry NO field-id
        metadata (pre-evolution writes of this module, plain Spark
        files): those resolve BY NAME, so some evolution verbs would
        silently corrupt their reads — the callers refuse instead.
        ``containing`` restricts to files that physically contain that
        column name."""
        import pyarrow.parquet as pq

        try:
            files, _deletes = self.plan_files()
        except (FileNotFoundError, IcebergProtocolError):
            return []
        bad = []
        for p, _seq, _part in files:
            sch = pq.read_schema(p)
            has_ids = any(
                (f.metadata or {}).get(b"PARQUET:field_id") is not None
                for f in sch
            )
            if has_ids:
                continue
            if containing is None or containing in sch.names:
                bad.append(p)
        return bad

    def _spec_source_ids(self, meta: dict) -> set[int]:
        return {
            int(f["source-id"])
            for s in meta.get("partition-specs", [])
            for f in s.get("fields", [])
        }

    def add_column(self, name: str, ice_type: str) -> int:
        """ALTER TABLE ADD COLUMN as a metadata commit: assigns the
        next never-reused field-id; existing files read the column as
        NULL (by-id resolution), appends must then provide it.
        ``ice_type`` is an Iceberg primitive (``long``, ``string``,
        ``decimal(10,2)``, ...).  Returns the new schema-id.

        Reference analog: the reference evolves its MySQL gold tables
        with ALTER TABLE between loads (bronze_dimension_fact_load.py
        full-vs-incremental schema drift); this is the table-format
        equivalent."""
        meta = self.metadata()
        fields, _sid = self._current_schema(meta)
        if any(f["name"] == name for f in fields):
            raise ValueError(f"column {name!r} already exists")
        if not isinstance(ice_type, str) or self._iceberg_type_to_spark_ddl(
            ice_type
        ) is None:
            raise ValueError(
                f"type {ice_type!r} is not a supported Iceberg primitive"
            )
        idless = self._live_idless_files(containing=name)
        if idless:
            raise IcebergProtocolError(
                f"cannot add column {name!r}: {len(idless)} live data "
                "file(s) without field-id footers physically contain "
                f"that name (e.g. {idless[0]}) — by-name resolution "
                "would read their OLD data into the new column. "
                "rewrite_data_files() first."
            )
        next_id = (
            max(
                int(meta.get("last-column-id", 0)),
                self._max_field_id(fields),
            )
            + 1
        )
        fields.append(
            {
                "id": next_id,
                "name": name,
                "required": False,
                "type": ice_type,
            }
        )
        return self._commit_schema(meta, fields)

    def rename_column(self, old: str, new: str) -> int:
        """ALTER TABLE RENAME COLUMN: same field-id, new name — old
        files keep reading through the id.  Refused while live id-less
        files exist (their by-name resolution would silently NULL the
        renamed column).  Returns the new schema-id."""
        meta = self.metadata()
        fields, _sid = self._current_schema(meta)
        if not any(f["name"] == old for f in fields):
            raise ValueError(f"column {old!r} does not exist")
        if any(f["name"] == new for f in fields):
            raise ValueError(f"column {new!r} already exists")
        idless = self._live_idless_files()
        if idless:
            raise IcebergProtocolError(
                f"cannot rename {old!r}: {len(idless)} live data "
                f"file(s) lack field-id footers (e.g. {idless[0]}) — "
                "they resolve by name and would read NULL after the "
                "rename. rewrite_data_files() first."
            )
        for f in fields:
            if f["name"] == old:
                f["name"] = new
        # partition spec field names are immutable in the spec; the
        # spec references the column by source-id, so it follows the
        # rename automatically at write time.
        return self._commit_schema(meta, fields)

    def drop_column(self, name: str) -> int:
        """ALTER TABLE DROP COLUMN: removes the field from the current
        schema (old snapshots keep their schema; the id is never
        reused, so a later re-add of the same name reads old files as
        NULL — by-id — not as the old data).  Partition-spec source
        columns are refused.  Returns the new schema-id."""
        meta = self.metadata()
        fields, _sid = self._current_schema(meta)
        victim = next((f for f in fields if f["name"] == name), None)
        if victim is None:
            raise ValueError(f"column {name!r} does not exist")
        if int(victim["id"]) in self._spec_source_ids(meta):
            raise IcebergProtocolError(
                f"column {name!r} is a partition-spec source — "
                "dropping it would orphan the spec"
            )
        if len(fields) == 1:
            raise ValueError("cannot drop the only column")
        return self._commit_schema(
            meta, [f for f in fields if f["name"] != name]
        )

    def update_column_type(self, name: str, new_type: str) -> int:
        """ALTER TABLE ALTER COLUMN TYPE, safe promotions only
        (int->long, float->double, decimal(P,S)->decimal(P'>=P,S)):
        same field-id; older files' narrower physical values cast up
        at read time (_resolved_scan).  Returns the new schema-id."""
        meta = self.metadata()
        fields, _sid = self._current_schema(meta)
        victim = next((f for f in fields if f["name"] == name), None)
        if victim is None:
            raise ValueError(f"column {name!r} does not exist")
        old_type = victim["type"]
        ok = (old_type, new_type) in self._TYPE_PROMOTIONS
        if (
            not ok
            and isinstance(old_type, str)
            and isinstance(new_type, str)
            and old_type.startswith("decimal(")
            and new_type.startswith("decimal(")
        ):
            op, os_ = old_type[8:-1].split(",")
            np_, ns = new_type[8:-1].split(",")
            ok = int(ns) == int(os_) and int(np_) >= int(op)
        if not ok:
            raise IcebergProtocolError(
                f"{old_type!r} -> {new_type!r} is not a safe promotion "
                "(int->long, float->double, decimal widening at equal "
                "scale)"
            )
        victim["type"] = new_type
        return self._commit_schema(meta, fields)

    def rollback_to(self, snapshot_id: int) -> int:
        """Iceberg's ``rollback_to_snapshot``: flip
        ``current-snapshot-id`` back to an ANCESTOR of the current
        snapshot — one metadata commit, no snapshots added or removed
        (the abandoned ones stay time-travelable until expiry; a later
        write parents off the rolled-back snapshot).  Refuses a
        snapshot that is not on the current ancestry chain
        (``set_current_snapshot`` semantics are deliberately NOT
        offered — jumping across branches silently orphans history)."""
        meta = self.metadata()
        snaps = {int(s["snapshot-id"]): s for s in meta.get("snapshots", [])}
        if snapshot_id not in snaps:
            raise FileNotFoundError(
                f"snapshot {snapshot_id} not in table (have "
                f"{sorted(snaps)})"
            )
        cur = self.current_snapshot_id()
        if cur == snapshot_id:
            return snapshot_id
        ancestors = set()
        walk = cur
        while walk is not None:
            ancestors.add(int(walk))
            walk = snaps.get(int(walk), {}).get("parent-snapshot-id")
        if snapshot_id not in ancestors:
            raise IcebergProtocolError(
                f"snapshot {snapshot_id} is not an ancestor of the "
                f"current snapshot {cur} — rollback_to only rewinds "
                "the current lineage"
            )
        now_ms = int(time.time() * 1000)
        meta["current-snapshot-id"] = int(snapshot_id)
        meta["last-updated-ms"] = now_ms
        meta.setdefault("snapshot-log", []).append(
            {"timestamp-ms": now_ms, "snapshot-id": int(snapshot_id)}
        )
        self._commit_metadata_json(meta)
        return int(snapshot_id)

    def update_spec(self, partition_by: list) -> int:
        """PARTITION EVOLUTION (spec §Partition Evolution): append a
        new partition spec and flip ``default-spec-id`` — ONE
        metadata-only commit, no data files touched.  Existing files
        keep their original spec (every manifest records its
        partition-spec-id; reads, merge surgery and pruning resolve
        per manifest), new writes lay out under the new spec — the
        iceberg answer to "we partitioned by month and the query
        pattern changed to day".  ``partition_by`` uses write()'s
        grammar ("col" identity or (col, transform)); pass [] to stop
        partitioning new data.  Spec field-ids continue from
        last-partition-id and are never reused.  Returns the new
        spec id."""
        meta = self.metadata()
        fields, _sid = self._current_schema(meta)
        name_to_id = {f["name"]: int(f["id"]) for f in fields}
        want = [
            (item, "identity") if isinstance(item, str) else tuple(item)
            for item in (partition_by or [])
        ]
        for c, _tr in want:
            if c not in name_to_id:
                raise ValueError(
                    f"partition column {c!r} not in the current schema "
                    f"(have {sorted(name_to_id)})"
                )
        specs = meta.get("partition-specs", [])
        cur_default = next(
            (
                s
                for s in specs
                if int(s["spec-id"]) == int(meta.get("default-spec-id", 0))
            ),
            {"fields": []},
        )
        want_shape = [(name_to_id[c], tr) for c, tr in want]
        if want_shape == [
            (int(f["source-id"]), f["transform"])
            for f in cur_default.get("fields", [])
        ]:
            raise ValueError(
                "new spec is identical to the current default"
            )
        last_pid = int(meta.get("last-partition-id", 999))
        new_id = max((int(s["spec-id"]) for s in specs), default=-1) + 1
        spec_fields = [
            {
                "name": _spec_field_name(c, tr),
                "transform": tr,
                "source-id": name_to_id[c],
                "field-id": last_pid + 1 + i,
            }
            for i, (c, tr) in enumerate(want)
        ]
        meta["partition-specs"] = specs + [
            {"spec-id": new_id, "fields": spec_fields}
        ]
        meta["default-spec-id"] = new_id
        meta["last-partition-id"] = max(
            [last_pid] + [f["field-id"] for f in spec_fields]
        )
        meta["last-updated-ms"] = int(time.time() * 1000)
        self._commit_metadata_json(meta)
        return new_id

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
            {
                "manifest_path": mpath,
                "manifest_length": os.path.getsize(mpath),
                "partition_spec_id": 0, "content": 1,
                "sequence_number": seq, "min_sequence_number": seq,
                "added_snapshot_id": snap_id,
                "added_files_count": len(dfiles),
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "added_rows_count": n_del,
                "existing_rows_count": 0, "deleted_rows_count": 0,
            }
        ] + self._manifest_list_rows(cur_snap)  # provenance verbatim
        ml_path = os.path.join(
            mdir, f"snap-{snap_id}-1-{uuidlib.uuid4().hex}.avro"
        )
        write_container(ml_path, _ML_SCHEMA, ml_rows,
                        extra_metadata={"format-version": b"2"})

        snap = {
            "snapshot-id": snap_id, "sequence-number": seq,
            "timestamp-ms": now_ms, "manifest-list": ml_path,
            "summary": {"operation": "delete"},
            "schema-id": int(meta.get("current-schema-id", 0)),
            "parent-snapshot-id": cur_id,
        }
        meta["snapshots"] = snaps + [snap]
        meta["current-snapshot-id"] = snap_id
        meta["last-sequence-number"] = seq
        meta["last-updated-ms"] = now_ms
        meta.setdefault("snapshot-log", []).append(
            {"timestamp-ms": now_ms, "snapshot-id": snap_id}
        )
        self._commit_metadata_json(meta)
        return {
            "snapshot_id": snap_id,
            "rows_deleted": n_del,
            "files_touched": n_files_touched,
        }

    def _resolve_branch_base(self, meta: dict, branch: str) -> int | None:
        """The snapshot a ``branch``-targeted commit builds on: main's
        current snapshot, or the named branch ref's head.  Refuses
        missing refs (a typo would stage commits nobody publishes) and
        tags (immutable)."""
        if branch == "main":
            cur = meta.get("current-snapshot-id")
            return None if cur in (None, -1) else int(cur)
        r = (meta.get("refs") or {}).get(branch)
        if r is None:
            raise FileNotFoundError(
                f"branch {branch!r} does not exist — create_branch() "
                "first (write-audit-publish stages onto a named ref)"
            )
        if r.get("type") != "branch":
            raise ValueError(f"ref {branch!r} is a tag; tags are "
                             "immutable")
        return int(r["snapshot-id"])

    def _advance_head(
        self, meta: dict, snap_id: int, now_ms: int, branch: str
    ) -> None:
        """Move the commit target's pointer: main flips
        current-snapshot-id + snapshot-log (and a materialized main
        ref); a staging branch moves ONLY its ref."""
        if branch == "main":
            meta["current-snapshot-id"] = snap_id
            meta.setdefault("snapshot-log", []).append(
                {"timestamp-ms": now_ms, "snapshot-id": snap_id}
            )
            if "main" in (meta.get("refs") or {}):
                meta["refs"]["main"] = {
                    "snapshot-id": snap_id, "type": "branch",
                }
        else:
            refs = dict(meta.get("refs") or {})
            refs[branch] = {"snapshot-id": snap_id, "type": "branch"}
            meta["refs"] = refs

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

    def delete_equality(
        self,
        spark: SparkSession,
        values: DataFrame,
        equality_cols: list[str] | None = None,
        branch: str = "main",
    ) -> dict:
        """Commit an EQUALITY-DELETE snapshot (v2 content=2): every row
        of the table whose ``equality_cols`` tuple appears in
        ``values`` is deleted — lazily, by match-on-read, without
        touching any data file.  This is the write side of the
        streaming-upsert contract this reader already consumes
        (``_live_files`` surfaces ``equality_ids``; ``_read_files``
        applies them with strict ``data seq < delete seq`` gating), so
        round-tripping is spec-symmetric.  Returns ``{"snapshot_id",
        "keys", "files"}`` — an equality delete never counts matched
        rows (that is its point: no data scan at commit time).

        Scale: the only distributed work is ``values``'s distinct
        (key-set sized); the commit itself is manifest surgery.  A
        100 TB table absorbs a million-key delete in seconds — the
        cost moves to subsequent reads, which is why
        :meth:`rewrite_data_files` folds position deletes eagerly but
        leaves equality manifests for readers until compaction.

        Reference analog: Flink/Iceberg upsert sinks
        (iceberg-flink's equality-delta writers); the reference
        platform expresses row retraction only through full-partition
        rewrites in its batch scripts (scripts/batch/
        silver_facts.py), which cannot scale past node memory.
        """
        import uuid as uuidlib

        meta = self.metadata()
        cur_id = self._resolve_branch_base(meta, branch)
        if cur_id is None:
            raise FileNotFoundError(
                f"table at {self.path} has no current snapshot"
            )
        cur_fields, _sid = self._current_schema(meta)
        name_to_id = {f["name"]: int(f["id"]) for f in cur_fields}
        eq_cols = list(equality_cols or values.columns)
        bad = [c for c in eq_cols if c not in name_to_id]
        if bad:
            raise ValueError(
                f"equality columns {bad} not in table schema "
                f"(have {sorted(name_to_id)})"
            )
        missing = [c for c in eq_cols if c not in values.columns]
        if missing:
            raise ValueError(
                f"equality columns {missing} not in the values DataFrame"
            )
        eq_ids = [name_to_id[c] for c in eq_cols]

        dfiles, n_keys = self._stage_equality_delete(
            values, eq_cols, name_to_id
        )
        snaps = meta.get("snapshots", [])
        snap_id = max(int(s["snapshot-id"]) for s in snaps) + 1
        seq = int(meta.get("last-sequence-number", 0)) + 1
        now_ms = int(time.time() * 1000)
        mpath, n_rows = self._eq_delete_manifest(
            meta, dfiles, eq_ids, snap_id, seq
        )

        cur_snap = next(
            s for s in snaps if int(s["snapshot-id"]) == cur_id
        )
        ml_rows = [
            {
                "manifest_path": mpath,
                "manifest_length": os.path.getsize(mpath),
                "partition_spec_id": 0, "content": 1,
                "sequence_number": seq, "min_sequence_number": seq,
                "added_snapshot_id": snap_id,
                "added_files_count": len(dfiles),
                "existing_files_count": 0, "deleted_files_count": 0,
                "added_rows_count": n_rows,
                "existing_rows_count": 0, "deleted_rows_count": 0,
            }
        ] + self._manifest_list_rows(cur_snap)  # provenance verbatim
        ml_path = os.path.join(
            self.metadata_dir,
            f"snap-{snap_id}-1-{uuidlib.uuid4().hex}.avro",
        )
        from data_lakehouse_platform_spark.sources.avro_lite import (
            write_container,
        )

        write_container(ml_path, _ML_SCHEMA, ml_rows,
                        extra_metadata={"format-version": b"2"})
        snap = {
            "snapshot-id": snap_id, "sequence-number": seq,
            "timestamp-ms": now_ms, "manifest-list": ml_path,
            "summary": {"operation": "delete"},
            "schema-id": int(meta.get("current-schema-id", 0)),
            "parent-snapshot-id": cur_id,
        }
        meta["snapshots"] = snaps + [snap]
        meta["last-sequence-number"] = seq
        meta["last-updated-ms"] = now_ms
        self._advance_head(meta, snap_id, now_ms, branch)
        self._commit_metadata_json(meta)
        return {"snapshot_id": snap_id, "keys": n_keys,
                "files": len(dfiles)}

    def upsert(
        self,
        spark: SparkSession,
        source: DataFrame,
        keys: list[str],
        branch: str = "main",
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

        Unlike :meth:`merge` (copy-on-write: reads matched files,
        rewrites them, counts updates), ``upsert`` is merge-on-read:
        commit cost is key-set sized and independent of table size;
        readers pay the match until :meth:`rewrite_data_files`
        compacts.  Use merge for batch reconciliation, upsert for
        high-frequency key-hose ingestion.  ``branch`` stages the
        commit onto a named ref (the Flink write-audit-publish
        pattern) exactly like ``write(branch=...)``.  Returns
        ``{"snapshot_id", "rows", "keys"}``.
        """
        import uuid as uuidlib

        from data_lakehouse_platform_spark.sources.avro_lite import (
            write_container,
        )

        try:
            meta = self.metadata()
            cur_id = self._resolve_branch_base(meta, branch)
        except FileNotFoundError:
            if branch != "main":
                raise
            cur_id = None
        if cur_id is None:
            # empty/fresh table: an upsert is a plain append
            return {
                "snapshot_id": self.write(
                    source, mode="append", branch=branch,
                    summary_extra=summary_extra,
                ),
                "rows": source.count(),
                "keys": 0,
            }
        cur_fields, cur_sid = self._current_schema(meta)
        tcols = [f["name"] for f in cur_fields]
        if sorted(source.columns) != sorted(tcols):
            raise ValueError(
                "source schema differs from table schema; align the "
                "DataFrame first (no implicit evolution)"
            )
        bad = [k for k in keys if k not in tcols]
        if bad:
            raise ValueError(f"upsert keys {bad} not in table columns")
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
        # data manifest — same entry shape as write()
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
        default_spec_id = int(meta.get("default-spec-id", 0))
        extra = {
            "schema": json.dumps(
                {"type": "struct", "schema-id": cur_sid,
                 "fields": cur_fields}
            ).encode(),
            "partition-spec": json.dumps(spec_fields).encode(),
            "partition-spec-id": str(default_spec_id).encode(),
            "format-version": b"2",
            "content": b"data",
        }
        data_mpath = os.path.join(
            self.metadata_dir, f"m-{uuidlib.uuid4().hex}.avro"
        )
        write_container(data_mpath, _manifest_schema(part_avro), entries,
                        extra_metadata=extra)
        n_rows = sum(n for _, n, _s, _p, _st in data_files)

        cur_snap = next(
            s for s in snaps if int(s["snapshot-id"]) == cur_id
        )
        ml_rows = [
            {
                "manifest_path": data_mpath,
                "manifest_length": os.path.getsize(data_mpath),
                "partition_spec_id": default_spec_id, "content": 0,
                "sequence_number": seq, "min_sequence_number": seq,
                "added_snapshot_id": snap_id,
                "added_files_count": len(data_files),
                "existing_files_count": 0, "deleted_files_count": 0,
                "added_rows_count": n_rows,
                "existing_rows_count": 0, "deleted_rows_count": 0,
            },
            {
                "manifest_path": del_mpath,
                "manifest_length": os.path.getsize(del_mpath),
                "partition_spec_id": 0, "content": 1,
                "sequence_number": seq, "min_sequence_number": seq,
                "added_snapshot_id": snap_id,
                "added_files_count": len(dfiles),
                "existing_files_count": 0, "deleted_files_count": 0,
                "added_rows_count": del_rows,
                "existing_rows_count": 0, "deleted_rows_count": 0,
            },
        ] + self._manifest_list_rows(cur_snap)
        ml_path = os.path.join(
            self.metadata_dir,
            f"snap-{snap_id}-1-{uuidlib.uuid4().hex}.avro",
        )
        write_container(ml_path, _ML_SCHEMA, ml_rows,
                        extra_metadata={"format-version": b"2"})
        snap = {
            "snapshot-id": snap_id, "sequence-number": seq,
            "timestamp-ms": now_ms, "manifest-list": ml_path,
            "summary": {
                "operation": "overwrite",
                # extra summary properties (spec: string map) — the
                # streaming upsert sink's exactly-once ledger rides
                # here (see streaming/pipelines.upsert_stream_to_iceberg)
                **{
                    str(k): str(v)
                    for k, v in (summary_extra or {}).items()
                },
            },
            "schema-id": cur_sid,
            "parent-snapshot-id": cur_id,
        }
        meta["snapshots"] = snaps + [snap]
        meta["last-sequence-number"] = seq
        meta["last-updated-ms"] = now_ms
        self._advance_head(meta, snap_id, now_ms, branch)
        self._commit_metadata_json(meta)
        return {"snapshot_id": snap_id, "rows": n_rows, "keys": n_keys}

    def merge(
        self,
        spark: SparkSession,
        source: DataFrame,
        keys: list[str],
        matched_update_condition: str | None = None,
        matched_delete_condition: str | None = None,
    ) -> dict:
        """FILE-SCOPED copy-on-write MERGE (Iceberg's ``MERGE INTO``
        with write.merge.mode=copy-on-write, the delta_lite.merge
        twin): source rows matching on ``keys`` update the current
        rows, unmatched source rows insert — ONE atomic overwrite
        snapshot.  Conditional clauses take SQL predicates over the
        ``t``/``s`` struct pair exactly like delta_lite.merge
        (``matched_delete_condition`` evaluates first; a NULL result
        means not-satisfied).

        Scale shape: only the data files that CONTAIN matched rows are
        rewritten — matches are located by an ``_metadata``-path
        semi-join on the keys, the rewrite pass re-reads just those
        files, and every untouched file survives via manifest surgery:
        manifests holding a touched file are rewritten with the
        touched entries marked DELETED (status 2, this snapshot) and
        the rest carried as EXISTING (status 0) with their ORIGINAL
        snapshot/sequence provenance, while manifests with no touched
        file (and all position-delete manifests) are carried verbatim
        in the new manifest list.  A 100 TB fact upsert confined to
        one partition rewrites that partition's files, not the table.

        Duplicate keys in ``source`` are refused (iceberg-spark raises
        the same cardinality violation).  Tables carrying EQUALITY
        deletes are refused (their sequence-number application
        semantics belong to the engines that write them — compact with
        :meth:`rewrite_data_files` first); position deletes are
        applied to the rewritten rows and their manifests carry
        forward untouched."""
        import uuid as uuidlib

        from data_lakehouse_platform_spark.sources.avro_lite import (
            read_container, write_container,
        )

        meta = self.metadata()
        cur_id = self.current_snapshot_id()
        if cur_id is None:
            raise FileNotFoundError(
                f"table at {self.path} has no current snapshot"
            )
        cur_fields, cur_sid = self._current_schema(meta)
        tcols = [f["name"] for f in cur_fields]
        if sorted(source.columns) != sorted(tcols):
            raise ValueError(
                "source schema differs from table schema; align the "
                "DataFrame first (no implicit evolution)"
            )
        bad = [k for k in keys if k not in tcols]
        if bad:
            raise ValueError(f"merge keys {bad} not in table columns")
        data_files, deletes = self.plan_files()
        if any(d["kind"] == "eq" for d in deletes):
            raise IcebergProtocolError(
                "table carries equality-delete files; their sequence-"
                "number application semantics belong to the engine that "
                "wrote them — compact with rewrite_data_files() before "
                "merging"
            )
        name_to_id = {f["name"]: int(f["id"]) for f in cur_fields}
        id_to_name = {v: k for k, v in name_to_id.items()}
        id_to_type = {int(f["id"]): f["type"] for f in cur_fields}
        spec_fields = self._table_spec(meta)
        snaps = meta.get("snapshots", [])
        cur_snap = next(
            s for s in snaps if int(s["snapshot-id"]) == cur_id
        )
        ml_rows = self._manifest_list_rows(cur_snap)
        specs_by_id = {
            int(sp["spec-id"]): [
                {
                    "name": f["name"],
                    "transform": f["transform"],
                    "source-id": int(f["source-id"]),
                    "field-id": int(f["field-id"]),
                }
                for f in sp.get("fields", [])
            ]
            for sp in meta.get("partition-specs", [])
        }
        unknown_specs = {
            int(r.get("partition_spec_id") or 0) for r in ml_rows
        } - set(specs_by_id)
        if unknown_specs:
            raise IcebergProtocolError(
                f"manifests reference partition specs {sorted(unknown_specs)} "
                "absent from table metadata — refusing to rewrite them"
            )

        # ONE evaluation of the source across the location, insert and
        # rewrite passes (iceberg-spark materializes the source the
        # same way); lineage truncated, so block loss fails loudly.
        source = source.localCheckpoint(eager=True)
        dup = source.groupBy(*keys).count().filter(F.col("count") > 1)
        if dup.limit(1).count() > 0:
            raise ValueError(
                f"source has duplicate keys on {keys}; MERGE requires "
                "at most one source row per target row"
            )

        strip = lambda c: F.regexp_replace(  # noqa: E731
            c, "^[a-zA-Z0-9+.-]+:/+", "/"
        )
        prior_pos = [d for d in deletes if d["kind"] == "pos"]

        def _minus_pos(df):
            if not prior_pos:
                return df
            prior = spark.read.parquet(
                *[d["path"] for d in prior_pos]
            ).select(
                strip(F.col("file_path")).alias("__ib_path"),
                F.col("pos").cast("long").alias("__ib_pos"),
            )
            return df.join(
                prior, on=["__ib_path", "__ib_pos"], how="left_anti"
            )

        touched_abs: set[str] = set()
        touched_paths: list[str] = []
        if data_files:
            scan = _minus_pos(
                self._resolved_scan(
                    spark, meta, [p for p, _s, _pt in data_files],
                    with_meta=True,
                )
            )
            touched_raw = [
                r["__ib_path"]
                for r in scan.join(
                    source.select(*keys).distinct(), on=keys,
                    how="left_semi",
                )
                .select("__ib_path")
                .distinct()
                .collect()
            ]
            hit = {os.path.abspath(u) for u in touched_raw} | {
                os.path.abspath(urllib.parse.unquote(u))
                for u in touched_raw
            }
            for p, _s, _pt in data_files:
                if os.path.abspath(p) in hit:
                    touched_abs.add(os.path.abspath(p))
                    touched_paths.append(p)
            if len(touched_paths) != len(touched_raw):
                raise IcebergProtocolError(
                    "matched a file path that is not in the snapshot"
                )
            inserts = source.join(
                scan.select(*keys), on=keys, how="left_anti"
            ).select(*tcols)
        else:
            inserts = source.select(*tcols)

        rewrite = None
        if touched_paths:
            trows = _minus_pos(
                self._resolved_scan(
                    spark, meta, touched_paths, with_meta=True
                )
            ).select(*tcols)
            if (
                matched_update_condition is None
                and matched_delete_condition is None
            ):
                kept = trows.join(
                    source.select(*keys), on=keys, how="left_anti"
                )
                updated_src = source.join(
                    trows.select(*keys), on=keys, how="left_semi"
                ).select(*tcols)
                rewrite = kept.unionByName(updated_src)
            else:
                t = trows.select(F.struct(*tcols).alias("t"))
                srows = source.select(*tcols).select(
                    F.struct(*tcols).alias("s")
                )
                on = None
                for k in keys:
                    c = F.col("t")[k] == F.col("s")[k]
                    on = c if on is None else (on & c)
                joined = t.join(srows, on=on, how="left")
                matched = F.col("s").isNotNull()
                dele = (
                    F.coalesce(
                        F.expr(matched_delete_condition), F.lit(False)
                    )
                    if matched_delete_condition is not None
                    else F.lit(False)
                )
                upd = (
                    F.coalesce(
                        F.expr(matched_update_condition), F.lit(False)
                    )
                    if matched_update_condition is not None
                    else F.lit(True)
                )
                rewrite = (
                    joined.filter(~(matched & dele))
                    .select(
                        F.when(matched & upd, F.col("s"))
                        .otherwise(F.col("t"))
                        .alias("r")
                    )
                    .select("r.*")
                )
        new_df = (
            inserts
            if rewrite is None
            else rewrite.unionByName(inserts)
        )
        if not touched_paths and inserts.limit(1).count() == 0:
            return {
                "snapshot_id": cur_id,
                "files_rewritten": 0,
                "files_added": 0,
            }

        staged = self._stage_data_files(
            new_df, spec_fields, name_to_id, id_to_name, id_to_type
        )
        snap_id = max(int(s["snapshot-id"]) for s in snaps) + 1
        seq = int(meta.get("last-sequence-number", 0)) + 1
        now_ms = int(time.time() * 1000)
        mdir = self.metadata_dir

        default_spec_id = int(meta.get("default-spec-id", 0))

        def _avro_fields(sfields: list[dict]) -> list[dict]:
            return [
                {
                    "name": pf["name"],
                    "type": _partition_avro_type(
                        pf["transform"], id_to_type[pf["source-id"]]
                    ),
                    "field-id": pf["field-id"],
                }
                for pf in sfields
            ]

        def _man_extra(sfields: list[dict], sid: int) -> dict:
            return {
                "schema": json.dumps(
                    {
                        "type": "struct",
                        "schema-id": cur_sid,
                        "fields": cur_fields,
                    }
                ).encode(),
                "partition-spec": json.dumps(sfields).encode(),
                "partition-spec-id": str(sid).encode(),
                "format-version": b"2",
                "content": b"data",
            }

        part_avro = _avro_fields(spec_fields)
        man_extra = _man_extra(spec_fields, default_spec_id)
        add_entries = [
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
            for path, nrows, size, part, fstats in staged
        ]
        new_ml_rows: list[dict] = []
        if add_entries:
            mpath = os.path.join(mdir, f"m-{uuidlib.uuid4().hex}.avro")
            write_container(
                mpath, _manifest_schema(part_avro), add_entries,
                extra_metadata=man_extra,
            )
            new_ml_rows.append(
                {
                    "manifest_path": mpath,
                    "manifest_length": os.path.getsize(mpath),
                    "partition_spec_id": default_spec_id, "content": 0,
                    "sequence_number": seq, "min_sequence_number": seq,
                    "added_snapshot_id": snap_id,
                    "added_files_count": len(staged),
                    "existing_files_count": 0, "deleted_files_count": 0,
                    "added_rows_count": sum(n for _, n, _s, _p, _st in staged),
                    "existing_rows_count": 0, "deleted_rows_count": 0,
                }
            )
        # Manifest surgery: rewrite only the manifests that reference a
        # touched file; carry every other manifest row verbatim.
        for r in ml_rows:
            if int(r.get("content") or 0) == 1:
                new_ml_rows.append(r)  # delete manifests carry forward
                continue
            _sch, entries = read_container(r["manifest_path"])
            live_entries = [
                e for e in entries if int(e.get("status") or 0) != 2
            ]
            hits = [
                e
                for e in live_entries
                if os.path.abspath(
                    _local_path(e["data_file"]["file_path"])
                )
                in touched_abs
            ]
            if not hits:
                new_ml_rows.append(r)
                continue
            out_entries = []
            n_exist = n_dead = rows_exist = rows_dead = 0
            min_seq = seq
            for e in live_entries:
                dfile = e["data_file"]
                eseq = (
                    int(e["sequence_number"])
                    if e.get("sequence_number") is not None
                    else int(r.get("sequence_number") or 0)
                )
                fseq = (
                    int(e["file_sequence_number"])
                    if e.get("file_sequence_number") is not None
                    else eseq
                )
                esnap = (
                    int(e["snapshot_id"])
                    if e.get("snapshot_id") is not None
                    else int(r.get("added_snapshot_id") or 0)
                )
                dead = (
                    os.path.abspath(_local_path(dfile["file_path"]))
                    in touched_abs
                )
                nrec = int(dfile.get("record_count") or 0)
                if dead:
                    n_dead += 1
                    rows_dead += nrec
                else:
                    n_exist += 1
                    rows_exist += nrec
                    min_seq = min(min_seq, eseq)
                part = dfile.get("partition")
                out_entries.append(
                    {
                        "status": 2 if dead else 0,
                        "snapshot_id": snap_id if dead else esnap,
                        "sequence_number": eseq,
                        "file_sequence_number": fseq,
                        "data_file": {
                            "content": int(dfile.get("content") or 0),
                            "file_path": _local_path(dfile["file_path"]),
                            "file_format": "PARQUET",
                            "partition": dict(part) if part else {},
                            "record_count": nrec,
                            "file_size_in_bytes": int(
                                dfile.get("file_size_in_bytes") or 0
                            ),
                            # column stats carry VERBATIM: a surviving
                            # file's bounds are unchanged by the merge
                            **{
                                k: dfile.get(k)
                                for k in (
                                    "value_counts",
                                    "null_value_counts",
                                    "lower_bounds",
                                    "upper_bounds",
                                )
                                if dfile.get(k) is not None
                            },
                        },
                    }
                )
            r_spec_id = int(r.get("partition_spec_id") or 0)
            r_spec = specs_by_id[r_spec_id]
            m2 = os.path.join(mdir, f"m-{uuidlib.uuid4().hex}.avro")
            write_container(
                m2, _manifest_schema(_avro_fields(r_spec)), out_entries,
                extra_metadata=_man_extra(r_spec, r_spec_id),
            )
            new_ml_rows.append(
                {
                    "manifest_path": m2,
                    "manifest_length": os.path.getsize(m2),
                    "partition_spec_id": r_spec_id, "content": 0,
                    "sequence_number": seq,
                    "min_sequence_number": min_seq,
                    "added_snapshot_id": snap_id,
                    "added_files_count": 0,
                    "existing_files_count": n_exist,
                    "deleted_files_count": n_dead,
                    "added_rows_count": 0,
                    "existing_rows_count": rows_exist,
                    "deleted_rows_count": rows_dead,
                }
            )
        ml_path = os.path.join(
            mdir, f"snap-{snap_id}-1-{uuidlib.uuid4().hex}.avro"
        )
        write_container(ml_path, _ML_SCHEMA, new_ml_rows,
                        extra_metadata={"format-version": b"2"})
        snap = {
            "snapshot-id": snap_id, "sequence-number": seq,
            "timestamp-ms": now_ms, "manifest-list": ml_path,
            "summary": {"operation": "overwrite"},
            "schema-id": cur_sid,
            "parent-snapshot-id": cur_id,
        }
        meta["snapshots"] = snaps + [snap]
        meta["current-snapshot-id"] = snap_id
        meta["last-sequence-number"] = seq
        meta["last-updated-ms"] = now_ms
        meta.setdefault("snapshot-log", []).append(
            {"timestamp-ms": now_ms, "snapshot-id": snap_id}
        )
        self._commit_metadata_json(meta)
        return {
            "snapshot_id": snap_id,
            "files_rewritten": len(touched_paths),
            "files_added": len(staged),
        }

    def rewrite_data_files(
        self,
        spark: SparkSession,
        target_file_bytes: int = 128 << 20,
        zorder_by: list[str] | None = None,
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
        kept: list[tuple[str, int, dict]] = []
        new_files: list[tuple[str, int, int, dict]] = []
        n_rewritten = 0
        if migrate:
            # SPEC MIGRATION: the table holds manifests under evolved
            # (non-default) partition specs — one compaction rewrites
            # EVERY row under the current default spec, the Iceberg
            # way to converge the layout after update_spec().  All
            # deletes are applied during the read, so no delete
            # manifest carries forward.  (zorder_by ordering does not
            # apply here — the partition transform drives the layout;
            # re-run with zorder_by afterwards for in-file clustering.)
            fields_m, _csid = self._current_schema(meta)
            name_to_id = {f["name"]: int(f["id"]) for f in fields_m}
            id_to_name = {v: k for k, v in name_to_id.items()}
            id_types = {int(f["id"]): f["type"] for f in fields_m}
            sub_all = self._read_files(spark, meta, data_files, deletes)
            staged5 = self._stage_data_files(
                sub_all, self._table_spec(meta), name_to_id,
                id_to_name, id_types,
            )
            new_files = [
                (pth, n, sz, part) for pth, n, sz, part, _st in staged5
            ]
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
                if zorder_by:
                    # a sort-order rewrite re-clusters EVERY file in the
                    # partition (Iceberg's rewrite_data_files sort
                    # strategy / delta OPTIMIZE ZORDER semantics)
                    cand = list(members)
                elif len(cand) <= 1 and not dirty:
                    kept.extend(members)
                    continue
                kept.extend(m for m in members if m not in cand)
                total = sum(os.path.getsize(m[0]) for m in cand)
                n_out = max(1, -(-total // target_file_bytes))
                sub = self._read_files(spark, meta, cand, deletes)
                stage = os.path.join(
                    self.path, "data", f"rw-{uuidlib.uuid4().hex[:12]}"
                )
                if zorder_by:
                    from data_lakehouse_platform_spark.sources.clustering import (
                        zorder_key,
                    )

                    missing = [c for c in zorder_by if c not in sub.columns]
                    if missing:
                        raise ValueError(
                            f"zorder_by columns {missing} not in the table"
                        )
                    staged = (
                        zorder_key(sub, list(zorder_by))
                        .repartitionByRange(n_out, F.col("__zkey"))
                        .sortWithinPartitions("__zkey")
                        .drop("__zkey")
                    )
                else:
                    staged = sub.coalesce(n_out)
                # compacted files must keep their field-id footers, or one
                # rewrite_data_files would turn an evolution-safe table
                # back into an id-less (rename-refusing) one
                staged = self._stamp_field_ids(
                    staged, self._field_names_by_id_inv(meta)
                )
                self._parquet_with_field_ids(
                    lambda s=staged, p=stage: s.write.mode(
                        "errorifexists"
                    ).parquet(p),
                    spark,
                )
                part = dict(key)
                for root, _d, files in os.walk(stage):
                    for f in sorted(files):
                        if f.endswith(".parquet"):
                            full = os.path.join(root, f)
                            new_files.append(
                                (
                                    full,
                                    pq.read_metadata(full).num_rows,
                                    os.path.getsize(full),
                                    part,
                                )
                            )
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
        id_to_type = self._field_types_by_id(meta)
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
        entries = [
            {
                "status": 1, "snapshot_id": snap_id,
                "sequence_number": seq, "file_sequence_number": seq,
                "data_file": {
                    "content": 0, "file_path": path,
                    "file_format": "PARQUET", "partition": part,
                    "record_count": nrows, "file_size_in_bytes": size,
                },
            }
            for path, nrows, size, part in new_files
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
            {
                "manifest_path": mpath,
                "manifest_length": os.path.getsize(mpath),
                "partition_spec_id": default_spec_id, "content": 0,
                "sequence_number": seq, "min_sequence_number": min_seq,
                "added_snapshot_id": snap_id,
                "added_files_count": len(new_files),
                "existing_files_count": len(kept),
                "deleted_files_count": 0,
                "added_rows_count": sum(n for _, n, _s, _pt in new_files),
                "existing_rows_count": 0, "deleted_rows_count": 0,
            }
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
            # it would only keep merge()/upsert-refusal guards tripped
            # forever after full compaction.
            del_seq = int(row.get("sequence_number") or 0)
            if not any(s < del_seq for _p, s, _pt in kept):
                continue
            ml_rows.append(row)  # provenance verbatim
        ml_path = os.path.join(
            mdir, f"snap-{snap_id}-1-{uuidlib.uuid4().hex}.avro"
        )
        write_container(ml_path, _ML_SCHEMA, ml_rows,
                        extra_metadata={"format-version": b"2"})

        snap = {
            "snapshot-id": snap_id, "sequence-number": seq,
            "timestamp-ms": now_ms, "manifest-list": ml_path,
            "summary": {"operation": "replace"},
            "schema-id": int(meta.get("current-schema-id", 0)),
            "parent-snapshot-id": cur_id,
        }
        meta["snapshots"] = snaps + [snap]
        meta["current-snapshot-id"] = snap_id
        meta["last-sequence-number"] = seq
        meta["last-updated-ms"] = now_ms
        meta.setdefault("snapshot-log", []).append(
            {"timestamp-ms": now_ms, "snapshot-id": snap_id}
        )
        self._commit_metadata_json(meta)
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
        so this is a pure metadata scan).  Returns -1 when none.

        Caveat (documented, matches real Iceberg): the ledger rides
        snapshot summaries, so :meth:`expire_snapshots` must retain at
        least the most recent stamped snapshot or a replay after
        expiry could double-append."""
        best = -1
        for s in self.snapshots():
            sm = s.get("summary") or {}
            if sm.get("dlp.app-id") == app_id and "dlp.batch-id" in sm:
                best = max(best, int(sm["dlp.batch-id"]))
        return best

    # -- snapshot refs (spec: metadata.json `refs` map) -------------------

    def refs(self) -> dict:
        """The table's named refs (tags + branches).  ``main`` always
        resolves — explicitly when present in metadata, implicitly to
        the current snapshot otherwise (HadoopCatalog tables written
        by this module don't materialize it)."""
        out = dict(self.metadata().get("refs") or {})
        if "main" not in out:
            cur = self.current_snapshot_id()
            if cur is not None:
                out["main"] = {"snapshot-id": cur, "type": "branch"}
        return out

    def resolve_ref(self, name: str) -> int:
        r = self.refs().get(name)
        if r is None:
            raise FileNotFoundError(
                f"ref {name!r} not in table (have {sorted(self.refs())})"
            )
        return int(r["snapshot-id"])

    def _set_ref(self, name: str, kind: str, snapshot_id: int | None):
        meta = self.metadata()
        sid = (
            int(meta.get("current-snapshot-id"))
            if snapshot_id is None
            else int(snapshot_id)
        )
        known = {int(s["snapshot-id"]) for s in meta.get("snapshots", [])}
        if sid not in known:
            raise FileNotFoundError(
                f"snapshot {sid} not in table (have {sorted(known)})"
            )
        refs = dict(meta.get("refs") or {})
        refs[name] = {"snapshot-id": sid, "type": kind}
        meta["refs"] = refs
        self._commit_metadata_json(meta)
        return sid

    def create_tag(self, name: str, snapshot_id: int | None = None) -> int:
        """Pin a snapshot under an immutable name (Iceberg TAG): the
        snapshot survives :meth:`expire_snapshots` until the tag is
        dropped — reproducible reads for audits/backtests."""
        return self._set_ref(name, "tag", snapshot_id)

    def create_branch(
        self, name: str, snapshot_id: int | None = None
    ) -> int:
        """Named branch pointer: readable via ``read(ref=...)``,
        writable via ``write(..., branch=...)`` (the write-audit-
        publish staging target), publishable via :meth:`fast_forward`.
        Pins expiry like a tag."""
        return self._set_ref(name, "branch", snapshot_id)

    def fast_forward(self, name: str, from_ref: str) -> int:
        """Publish a staging branch (the WAP loop's final verb):
        advance branch ``name`` to ``from_ref``'s head, REFUSING unless
        ``name``'s current head is an ancestor of that head (the
        fast-forward condition — anything else would silently drop
        commits, Iceberg's ``fast_forward`` procedure refuses the same
        way).  Publishing to ``main`` also flips current-snapshot-id
        and appends to snapshot-log, so every non-ref reader atomically
        sees the audited commits.  Returns the published snapshot id.
        """
        meta = self.metadata()
        src = self.resolve_ref(from_ref)
        refs = dict(meta.get("refs") or {})
        if name in refs:
            if refs[name].get("type") != "branch":
                raise ValueError(f"ref {name!r} is a tag; tags are "
                                 "immutable")
            tgt = int(refs[name]["snapshot-id"])
        elif name == "main":
            tgt = self.current_snapshot_id()
            if tgt is None:
                raise FileNotFoundError(
                    f"table at {self.path} has no current snapshot"
                )
        else:
            raise FileNotFoundError(
                f"branch {name!r} not in table (have {sorted(refs)})"
            )
        snaps = {
            int(s["snapshot-id"]): s for s in meta.get("snapshots", [])
        }
        cur, is_ancestor = src, False
        while True:
            if cur == tgt:
                is_ancestor = True
                break
            parent = snaps.get(cur, {}).get("parent-snapshot-id")
            if parent is None:
                break
            cur = int(parent)
        if not is_ancestor:
            raise ValueError(
                f"cannot fast-forward {name!r} (head {tgt}) to "
                f"{from_ref!r} (head {src}): {tgt} is not an ancestor "
                f"of {src} — the branches diverged; rebuild the staging "
                "branch from the current head instead"
            )
        refs[name] = {"snapshot-id": src, "type": "branch"}
        meta["refs"] = refs
        if name == "main":
            meta["current-snapshot-id"] = src
            meta.setdefault("snapshot-log", []).append(
                {"timestamp-ms": int(time.time() * 1000),
                 "snapshot-id": src}
            )
        self._commit_metadata_json(meta)
        return src

    def cherrypick_snapshot(
        self, snapshot_id: int, branch: str = "main"
    ) -> int:
        """Re-apply an APPEND snapshot's added files onto ``branch``'s
        current head as a NEW snapshot — Iceberg's
        ``cherrypick_snapshot`` procedure, the WAP loop's recovery verb
        when :meth:`fast_forward` refuses because main advanced past
        the audit branch point (diverged heads).  Only pure appends are
        cherry-pickable: a delete/overwrite/replace re-applied onto a
        different base could retract rows it never audited against
        (real Iceberg refuses the same way).

        The added manifests are REWRITTEN at the new sequence number
        (entries re-stamped status=1/new snapshot/new seq): the files
        logically arrive NOW — after every delete already on the
        target branch — so under the spec's strict ``data seq <
        delete seq`` gate those earlier deletes do NOT retract them.
        Carrying the old sequence number verbatim would backdate the
        files to before deletes they were never audited against,
        wrongly exposing them to retraction — exactly the hazard the
        re-stamp exists to prevent.  The head's own manifests carry verbatim
        with their provenance.  Refuses when the picked snapshot is
        already an ancestor of the head (nothing to apply) or when any
        of its files is already live at the head (double-apply).  The
        new snapshot's summary carries ``source-snapshot-id`` exactly
        like the real procedure.  Returns the new snapshot id.
        """
        import uuid as uuidlib

        from data_lakehouse_platform_spark.sources.avro_lite import (
            read_container, write_container,
        )

        meta = self.metadata()
        snaps = meta.get("snapshots", [])
        by_id = {int(s["snapshot-id"]): s for s in snaps}
        snapshot_id = int(snapshot_id)
        if snapshot_id not in by_id:
            raise FileNotFoundError(
                f"snapshot {snapshot_id} not in table "
                f"(have {sorted(by_id)})"
            )
        picked = by_id[snapshot_id]
        op = (picked.get("summary") or {}).get("operation")
        if op != "append":
            raise IcebergProtocolError(
                f"cherrypick_snapshot supports pure APPEND snapshots; "
                f"snapshot {snapshot_id} is {op!r} — re-applying a "
                "delete/overwrite onto a different base could retract "
                "rows it never audited against"
            )
        cur_id = self._resolve_branch_base(meta, branch)
        if cur_id is None:
            raise FileNotFoundError(
                f"branch {branch!r} has no head to apply onto"
            )
        walk = cur_id
        while walk is not None:
            if walk == snapshot_id:
                raise ValueError(
                    f"snapshot {snapshot_id} is already an ancestor of "
                    f"{branch!r}'s head — nothing to re-apply (use "
                    "fast_forward to publish an ancestor chain)"
                )
            p = by_id.get(walk, {}).get("parent-snapshot-id")
            walk = int(p) if p is not None else None
        added = [
            r for r in self._manifest_list_rows(picked)
            if int(r.get("added_snapshot_id") or -1) == snapshot_id
        ]
        if not added:
            raise IcebergProtocolError(
                f"snapshot {snapshot_id} added no manifests — nothing "
                "to cherry-pick"
            )
        if any(int(r.get("content") or 0) != 0 for r in added):
            raise IcebergProtocolError(
                f"snapshot {snapshot_id} carries delete manifests — "
                "not a pure append"
            )
        head = by_id[cur_id]
        head_files = set()
        for mp, content, _s in self._manifest_paths(head):
            if content != 0:
                continue
            _, entries = read_container(mp)
            for e in entries:
                if int(e.get("status") or 0) != 2:
                    head_files.add(e["data_file"]["file_path"])

        new_snap_id = max(by_id) + 1
        seq = int(meta.get("last-sequence-number", 0)) + 1
        now_ms = int(time.time() * 1000)
        specs = {
            int(s0.get("spec-id", 0)): s0.get("fields", [])
            for s0 in meta.get("partition-specs", [])
        }
        cur_fields, cur_sid = self._current_schema(meta)
        new_rows, n_rows_total = [], 0
        for r in added:
            schema_w, entries = read_container(r["manifest_path"])
            new_entries = []
            for e in entries:
                if int(e.get("status") or 0) == 2:
                    continue
                fp = e["data_file"]["file_path"]
                if fp in head_files:
                    raise IcebergProtocolError(
                        f"data file {fp} from snapshot {snapshot_id} "
                        f"is already live at {branch!r}'s head — "
                        "cherry-pick would double-apply it"
                    )
                new_entries.append({
                    **e, "status": 1, "snapshot_id": new_snap_id,
                    "sequence_number": seq,
                    "file_sequence_number": seq,
                })
            spec_id = int(r.get("partition_spec_id") or 0)
            extra = {
                "schema": json.dumps(
                    {"type": "struct", "schema-id": cur_sid,
                     "fields": cur_fields}
                ).encode(),
                "partition-spec": json.dumps(
                    specs.get(spec_id, [])
                ).encode(),
                "partition-spec-id": str(spec_id).encode(),
                "format-version": b"2",
                "content": b"data",
            }
            mpath = os.path.join(
                self.metadata_dir, f"m-{uuidlib.uuid4().hex}.avro"
            )
            write_container(mpath, schema_w, new_entries,
                            extra_metadata=extra)
            n_added = sum(
                int(e["data_file"]["record_count"]) for e in new_entries
            )
            n_rows_total += n_added
            new_rows.append({
                "manifest_path": mpath,
                "manifest_length": os.path.getsize(mpath),
                "partition_spec_id": spec_id, "content": 0,
                "sequence_number": seq, "min_sequence_number": seq,
                "added_snapshot_id": new_snap_id,
                "added_files_count": len(new_entries),
                "existing_files_count": 0, "deleted_files_count": 0,
                "added_rows_count": n_added,
                "existing_rows_count": 0, "deleted_rows_count": 0,
            })
        ml_rows = new_rows + self._manifest_list_rows(head)
        ml_path = os.path.join(
            self.metadata_dir,
            f"snap-{new_snap_id}-1-{uuidlib.uuid4().hex}.avro",
        )
        write_container(ml_path, _ML_SCHEMA, ml_rows,
                        extra_metadata={"format-version": b"2"})
        snap = {
            "snapshot-id": new_snap_id, "sequence-number": seq,
            "timestamp-ms": now_ms, "manifest-list": ml_path,
            "summary": {
                "operation": "append",
                "source-snapshot-id": str(snapshot_id),
            },
            "schema-id": cur_sid,
            "parent-snapshot-id": cur_id,
        }
        meta["snapshots"] = snaps + [snap]
        meta["last-sequence-number"] = seq
        meta["last-updated-ms"] = now_ms
        self._advance_head(meta, new_snap_id, now_ms, branch)
        self._commit_metadata_json(meta)
        return new_snap_id

    def drop_ref(self, name: str) -> None:
        if name == "main":
            raise ValueError("cannot drop the main branch")
        meta = self.metadata()
        refs = dict(meta.get("refs") or {})
        if name not in refs:
            raise FileNotFoundError(f"ref {name!r} not in table")
        del refs[name]
        meta["refs"] = refs
        self._commit_metadata_json(meta)

    def metadata_table(
        self,
        spark: SparkSession,
        kind: str,
        snapshot_id: int | None = None,
    ) -> DataFrame:
        """Iceberg's queryable METADATA TABLES (the ``SELECT * FROM
        tbl.files / .snapshots / .history / .manifests / .partitions``
        surface) as DataFrames.  Everything here is derived from
        manifests/metadata.json only — no data file is ever opened, so
        at 100 TB these answer in metadata time (the whole point of
        the spec's stats-in-manifests design).

        kinds: ``files`` (live data+delete files with sequence and
        stringified partition values), ``snapshots``, ``history``
        (snapshot-log), ``manifests`` (manifest-list rows of the
        current/pinned snapshot), ``partitions`` (per-partition-tuple
        file/record totals), ``refs`` (named refs + implicit main),
        ``entries`` (raw manifest entries incl. DELETED rows — the
        sequence/delete-gating debug view), ``all_manifests`` /
        ``all_files`` (every snapshot's manifests / every referenced
        file with its first referencing snapshot — the expire/orphan
        analysis views) (r10).
        """
        meta = self.metadata()
        snaps = {int(s["snapshot-id"]): s for s in meta.get("snapshots", [])}

        def _pinned() -> dict:
            sid = (
                self.current_snapshot_id()
                if snapshot_id is None
                else snapshot_id
            )
            if sid is None or sid not in snaps:
                raise FileNotFoundError(
                    f"snapshot {sid} not in table (have {sorted(snaps)})"
                )
            return snaps[sid]

        if kind == "files":
            rows = []
            snap = _pinned()
            for mpath, mcontent, mseq in self._manifest_paths(snap):
                _, entries = read_container(mpath)
                for e in entries:
                    if int(e.get("status") or 0) == 2:
                        continue
                    d = e["data_file"]
                    seq = e.get("sequence_number")
                    part = d.get("partition") or {}
                    rows.append(
                        (
                            int(d.get("content") or 0),
                            _local_path(d["file_path"]),
                            str(d.get("file_format", "")),
                            int(d.get("record_count") or 0),
                            int(d.get("file_size_in_bytes") or 0),
                            mseq if seq is None else int(seq),
                            {
                                k: (None if v is None else str(v))
                                for k, v in part.items()
                            },
                        )
                    )
            return spark.createDataFrame(
                rows,
                "content int, file_path string, file_format string, "
                "record_count long, file_size_in_bytes long, "
                "sequence_number long, partition map<string,string>",
            )
        if kind == "snapshots":
            rows = [
                (
                    int(s.get("timestamp-ms") or 0),
                    int(s["snapshot-id"]),
                    (
                        int(s["parent-snapshot-id"])
                        if s.get("parent-snapshot-id") is not None
                        else None
                    ),
                    str((s.get("summary") or {}).get("operation", "")),
                    str(s.get("manifest-list", "")),
                )
                for s in meta.get("snapshots", [])
            ]
            return spark.createDataFrame(
                rows,
                "committed_at_ms long, snapshot_id long, parent_id long, "
                "operation string, manifest_list string",
            )
        if kind == "history":
            cur = meta.get("current-snapshot-id")
            rows = [
                (
                    int(h.get("timestamp-ms") or 0),
                    int(h["snapshot-id"]),
                    int(h["snapshot-id"]) == cur,
                )
                for h in meta.get("snapshot-log", [])
            ]
            return spark.createDataFrame(
                rows,
                "made_current_at_ms long, snapshot_id long, "
                "is_current boolean",
            )
        if kind == "manifests":
            rows = [
                (
                    r["manifest_path"],
                    int(r.get("manifest_length") or 0),
                    int(r.get("partition_spec_id") or 0),
                    int(r.get("content") or 0),
                    int(r.get("sequence_number") or 0),
                    int(r.get("min_sequence_number") or 0),
                    int(r.get("added_snapshot_id") or 0),
                    int(r.get("added_files_count") or 0),
                    int(r.get("existing_files_count") or 0),
                    int(r.get("deleted_files_count") or 0),
                )
                for r in self._manifest_list_rows(_pinned())
            ]
            return spark.createDataFrame(
                rows,
                "path string, length long, partition_spec_id int, "
                "content int, sequence_number long, "
                "min_sequence_number long, added_snapshot_id long, "
                "added_files_count int, existing_files_count int, "
                "deleted_files_count int",
            )
        if kind == "partitions":
            data_files, _deletes = self.plan_files(
                snapshot_id=(
                    snapshot_id
                    if snapshot_id is not None
                    else self.current_snapshot_id()
                )
            )
            agg: dict[tuple, list[int]] = {}
            sizes = {}
            for p, _seq, part in data_files:
                key = tuple(sorted(part.items()))
                agg.setdefault(key, [0, 0])
                agg[key][0] += 1
                sizes.setdefault(p, None)
            # record counts come from the files listing (manifest
            # record_count), still metadata-only
            counts: dict[str, int] = {}
            snap = _pinned()
            for mpath, mcontent, _mseq in self._manifest_paths(snap):
                if mcontent == 1:
                    continue
                _, entries = read_container(mpath)
                for e in entries:
                    if int(e.get("status") or 0) == 2:
                        continue
                    d = e["data_file"]
                    if int(d.get("content") or 0) == 0:
                        counts[_local_path(d["file_path"])] = int(
                            d.get("record_count") or 0
                        )
            for p, _seq, part in data_files:
                key = tuple(sorted(part.items()))
                agg[key][1] += counts.get(p, 0)
            rows = [
                (
                    {k: (None if v is None else str(v)) for k, v in key},
                    n_files,
                    n_records,
                )
                for key, (n_files, n_records) in sorted(agg.items())
            ]
            return spark.createDataFrame(
                rows,
                "partition map<string,string>, file_count long, "
                "record_count long",
            )
        if kind == "refs":
            # the `tbl.refs` metadata table: every named ref plus the
            # implicit main head — the WAP loop's audit surface
            rows = [
                (
                    str(name),
                    str(r.get("type", "branch")),
                    int(r["snapshot-id"]),
                )
                for name, r in sorted(
                    (meta.get("refs") or {}).items()
                )
            ]
            cur = meta.get("current-snapshot-id")
            if (
                cur is not None
                and int(cur) != -1
                and "main" not in (meta.get("refs") or {})
            ):
                rows.insert(0, ("main", "branch", int(cur)))
            return spark.createDataFrame(
                rows, "name string, type string, snapshot_id long"
            )
        if kind == "entries":
            # `tbl.entries`: the raw manifest-entry surface of the
            # pinned snapshot — INCLUDING status=2 (DELETED) rows,
            # which `files` filters out; the debugging view for
            # sequence-number / delete-gating questions
            rows = []
            snap = _pinned()
            for mpath, _mcontent, mseq in self._manifest_paths(snap):
                _, entries = read_container(mpath)
                for e in entries:
                    d = e["data_file"]
                    seq = e.get("sequence_number")
                    fseq = e.get("file_sequence_number")
                    rows.append(
                        (
                            int(e.get("status") or 0),
                            (
                                None
                                if e.get("snapshot_id") is None
                                else int(e["snapshot_id"])
                            ),
                            mseq if seq is None else int(seq),
                            None if fseq is None else int(fseq),
                            int(d.get("content") or 0),
                            _local_path(d["file_path"]),
                            str(d.get("file_format", "")),
                            int(d.get("record_count") or 0),
                            int(d.get("file_size_in_bytes") or 0),
                        )
                    )
            return spark.createDataFrame(
                rows,
                "status int, snapshot_id long, sequence_number long, "
                "file_sequence_number long, content int, "
                "file_path string, file_format string, "
                "record_count long, file_size_in_bytes long",
            )
        if kind == "all_manifests":
            # `tbl.all_manifests`: manifest-list rows of EVERY valid
            # snapshot, stamped with the snapshot that references them
            rows = []
            for sid in sorted(snaps):
                for r in self._manifest_list_rows(snaps[sid]):
                    rows.append(
                        (
                            _local_path(r["manifest_path"]),
                            int(r.get("manifest_length") or 0),
                            int(r.get("content") or 0),
                            int(r.get("sequence_number") or 0),
                            int(r.get("min_sequence_number") or 0),
                            int(r.get("added_snapshot_id") or 0),
                            sid,
                        )
                    )
            return spark.createDataFrame(
                rows,
                "path string, length long, content int, "
                "sequence_number long, min_sequence_number long, "
                "added_snapshot_id long, reference_snapshot_id long",
            )
        if kind == "all_files":
            # `tbl.all_files`: every data/delete file referenced by
            # ANY valid snapshot (the expire/orphan-analysis view) —
            # one row per distinct path, stamped with the earliest
            # referencing snapshot
            seen: dict[str, tuple] = {}
            for sid in sorted(snaps):
                for mpath, _mc, mseq in self._manifest_paths(
                    snaps[sid]
                ):
                    _, entries = read_container(mpath)
                    for e in entries:
                        if int(e.get("status") or 0) == 2:
                            continue
                        d = e["data_file"]
                        p = _local_path(d["file_path"])
                        if p in seen:
                            continue
                        seq = e.get("sequence_number")
                        seen[p] = (
                            int(d.get("content") or 0),
                            p,
                            str(d.get("file_format", "")),
                            int(d.get("record_count") or 0),
                            int(d.get("file_size_in_bytes") or 0),
                            mseq if seq is None else int(seq),
                            sid,
                        )
            return spark.createDataFrame(
                sorted(seen.values(), key=lambda r: r[1]),
                "content int, file_path string, file_format string, "
                "record_count long, file_size_in_bytes long, "
                "sequence_number long, first_referenced_snapshot_id "
                "long",
            )
        raise ValueError(
            f"unknown metadata table {kind!r} "
            "(files|snapshots|history|manifests|partitions|refs|"
            "entries|all_files|all_manifests)"
        )

    def expire_snapshots(self, retain_last: int = 1) -> list[str]:
        """Expire all but the newest ``retain_last`` snapshots and
        physically delete the files ONLY they referenced (manifest
        lists, manifests, data/delete files under this table's
        directory) — Iceberg's expire_snapshots maintenance action,
        the storage-reclaim companion to :meth:`rewrite_data_files`.
        Reads at kept snapshots keep working; reads at expired ones
        fail cleanly (snapshot no longer in the table).  Returns the
        deleted paths."""
        if retain_last < 1:
            raise ValueError("retain_last must be >= 1")
        meta = self.metadata()
        snaps = sorted(
            meta.get("snapshots", []),
            key=lambda s: int(s["snapshot-id"]),
        )
        if len(snaps) <= retain_last:
            return []
        # refs PIN their snapshots (spec: expire never removes a
        # snapshot a tag/branch points at)
        pinned = {
            int(r["snapshot-id"])
            for r in (meta.get("refs") or {}).values()
        }
        kept = [
            s
            for i, s in enumerate(snaps)
            if i >= len(snaps) - retain_last
            or int(s["snapshot-id"]) in pinned
        ]
        kept_set = {int(s["snapshot-id"]) for s in kept}
        dropped = [
            s for s in snaps if int(s["snapshot-id"]) not in kept_set
        ]
        if not dropped:
            return []
        cur = meta.get("current-snapshot-id")
        if cur not in kept_set:
            raise ValueError(
                "retain_last would expire the current snapshot"
            )

        def _refs(snapshot: dict) -> set[str]:
            out = set()
            ml = snapshot.get("manifest-list")
            if ml:
                out.add(os.path.abspath(_local_path(ml)))
            for mp, _c, _s in self._manifest_paths(snapshot):
                out.add(os.path.abspath(mp))
                _, entries = read_container(mp)
                for e in entries:
                    out.add(
                        os.path.abspath(
                            _local_path(e["data_file"]["file_path"])
                        )
                    )
            return out

        keep_files = set()
        for s in kept:
            keep_files |= _refs(s)
        # Collect EVERY dropped snapshot's references BEFORE deleting
        # anything: snapshots share manifest files (appends carry them
        # forward), so deleting while iterating would try to re-read a
        # manifest an earlier iteration already removed.
        drop_files = set()
        for s in dropped:
            drop_files |= _refs(s)
        root = os.path.abspath(self.path) + os.sep
        removed = []
        for p in sorted(drop_files):
            # never touch anything outside the table directory
            if p.startswith(root) and p not in keep_files and (
                os.path.exists(p)
            ):
                os.remove(p)
                removed.append(p)
        kept_ids = {int(s["snapshot-id"]) for s in kept}
        meta["snapshots"] = kept
        meta["snapshot-log"] = [
            x
            for x in meta.get("snapshot-log", [])
            if int(x["snapshot-id"]) in kept_ids
        ]
        self._commit_metadata_json(meta)
        return sorted(removed)

    def remove_orphan_files(
        self, older_than_ms: int | None = None
    ) -> list[str]:
        """Delete files under ``data/`` that NO snapshot references —
        Iceberg's remove_orphan_files maintenance procedure, the
        cleaner for crashed-writer staging debris and files from
        aborted commits that :meth:`expire_snapshots` (which only
        deletes what dropped snapshots referenced) can never touch.

        ``older_than_ms`` (default: 3 days ago, the procedure's
        documented default) is the safety horizon: files younger than
        it are kept even when unreferenced, because an IN-FLIGHT
        writer's staged files are unreferenced BY DESIGN until its
        commit lands — deleting them would corrupt the race it is
        about to win.  Only the data directory is swept; metadata
        files (manifests, manifest lists, metadata.json) belong to
        :meth:`expire_snapshots`'s lifecycle.  Returns deleted paths.
        """
        meta = self.metadata()
        horizon = (
            int(time.time() * 1000) - 3 * 24 * 3600 * 1000
            if older_than_ms is None
            else int(older_than_ms)
        )
        referenced: set[str] = set()
        for s in meta.get("snapshots", []):
            for mp, _c, _s in self._manifest_paths(s):
                from data_lakehouse_platform_spark.sources.avro_lite import (
                    read_container,
                )

                _, entries = read_container(mp)
                for e in entries:
                    # status-2 (DELETED) entries included: an OLDER
                    # snapshot may still read that file
                    referenced.add(
                        os.path.abspath(
                            _local_path(e["data_file"]["file_path"])
                        )
                    )
        ddir = os.path.join(os.path.abspath(self.path), "data")
        removed = []
        for root, _dirs, files in os.walk(ddir):
            for f in files:
                p = os.path.abspath(os.path.join(root, f))
                if p in referenced:
                    continue
                if os.path.getmtime(p) * 1000 >= horizon:
                    continue  # inside the in-flight-writer horizon
                os.remove(p)
                removed.append(p)
        # sweep now-empty staging directories (cosmetic, best-effort)
        for root, dirs, files in os.walk(ddir, topdown=False):
            if root != ddir and not dirs and not files:
                try:
                    os.rmdir(root)
                except OSError:
                    pass
        return sorted(removed)

    def add_files(self, spark: SparkSession, paths: list[str]) -> int:
        """Register EXISTING parquet files as a new append snapshot
        WITHOUT rewriting them — Iceberg's ``add_files`` migration
        procedure, the zero-copy adoption path for a directory of
        plain parquet a user wants under snapshot/time-travel
        management.  The files stay where they are (absolute paths in
        the manifest; the spec allows locations outside the table
        dir).  Schemas must match the table's by name+type (files are
        id-less, so reads resolve them by NAME — exactly the
        fallback _resolved_scan implements); on a fresh table the
        first file's Spark-read schema becomes the table schema.
        Unpartitioned only: a hive-layout directory carries partition
        values in DIRECTORY NAMES that this registration would
        silently drop — refused loudly.  The guard scans components
        BELOW the table root / common registration root: a constant
        ``=`` ancestor shared by every registered file (a workspace
        like ``/data/run=5/out/``) is not a varying partition value
        and passes; any ``key=value`` component that differs across
        the registration sits below the common root and refuses.
        Returns the snapshot id.
        """
        import pyarrow.parquet as pq

        if not paths:
            raise ValueError("add_files needs at least one parquet path")
        # Hive-layout guard: scan directory components RELATIVE to the
        # table root (for files inside it) or to the common registration
        # root (for external files) — an ancestor workspace directory
        # that happens to contain '=' (e.g. /data/run=5/ws/) is not a
        # partition value of THIS registration and must not trip it.
        # Components below the root (date=2020/sub/f.parquet) still do:
        # those partition values would be silently dropped (same
        # discipline as delta convert_from_parquet).
        abs_paths = [os.path.abspath(p) for p in paths]
        for p in abs_paths:
            if not os.path.exists(p):
                raise FileNotFoundError(p)
        reg_root = os.path.commonpath(
            [os.path.dirname(p) for p in abs_paths]
        )
        tbl_root = os.path.abspath(self.path)
        for p, ap in zip(paths, abs_paths):
            root = (
                tbl_root
                if ap.startswith(tbl_root + os.sep)
                else reg_root
            )
            rel = os.path.relpath(os.path.dirname(ap), root)
            comps = [] if rel == "." else rel.split(os.sep)
            if any("=" in comp for comp in comps):
                raise IcebergProtocolError(
                    f"{p} sits under a hive-partition directory — its "
                    "partition values live in the directory name and "
                    "would be silently dropped; rewrite through "
                    "write(partition_by=...) instead"
                )
        # validate the footer schema of EVERY file (files are id-less,
        # so a divergent later file would be silently NULL-filled by
        # the by-name read fallback — silent corruption, not an error).
        # Footer reads go through pyarrow — zero per-file Spark jobs on
        # a 10k-file adoption; the arrow schema converts to the same
        # Iceberg (name, type) tuples the Spark reader would derive.
        from pyspark.sql.pandas.types import from_arrow_schema

        per_file = [
            (
                p,
                [
                    (f["name"], f["type"])
                    for f in self._iceberg_schema(
                        from_arrow_schema(pq.read_schema(p))
                    )
                ],
            )
            for p in paths
        ]
        fresh = False
        try:
            meta = self.metadata()
            cur_fields, _sid = self._current_schema(meta)
            tcols = [(f["name"], f["type"]) for f in cur_fields]
            if self._table_spec(meta):
                raise IcebergProtocolError(
                    "add_files targets unpartitioned tables only — "
                    "registered files carry no partition tuple, so "
                    "manifest pruning on a partitioned table would be "
                    "unsound"
                )
        except FileNotFoundError:
            fresh = True
            tcols = per_file[0][1]
        # validate BEFORE any commit (incl. fresh-table creation) so a
        # refused add_files leaves no trace
        for p, ice in per_file:
            if ice != tcols:
                raise ValueError(
                    f"{p}: file schema {ice} differs from table "
                    f"schema {tcols}; align or rewrite through write()"
                )
        if fresh:
            # fresh table: create it with the file schema via an empty
            # write, then register the files as the first real snapshot
            # (the round's ONLY Spark read — adoption into an existing
            # table is footer-validated entirely via pyarrow)
            self.write(spark.read.parquet(paths[0]).limit(0))
        # one manifest of existing files, committed as a plain append:
        # reuse write()'s commit shape by constructing entries directly
        meta = self.metadata()
        snaps = meta.get("snapshots", [])
        snap_id = max(
            (int(s["snapshot-id"]) for s in snaps), default=0
        ) + 1
        seq = int(meta.get("last-sequence-number", 0)) + 1
        now_ms = int(time.time() * 1000)
        entries = [
            {
                "status": 1, "snapshot_id": snap_id,
                "sequence_number": seq, "file_sequence_number": seq,
                "data_file": {
                    "content": 0,
                    "file_path": os.path.abspath(p),
                    "file_format": "PARQUET", "partition": {},
                    "record_count": pq.read_metadata(p).num_rows,
                    "file_size_in_bytes": os.path.getsize(p),
                },
            }
            for p in paths
        ]
        cur_sid = int(meta.get("current-schema-id", 0))
        cur_fields = next(
            s["fields"] for s in meta.get("schemas", [])
            if s.get("schema-id") == cur_sid
        )
        import uuid as uuidlib

        from data_lakehouse_platform_spark.sources.avro_lite import (
            write_container,
        )

        extra = {
            "schema": json.dumps(
                {"type": "struct", "schema-id": cur_sid,
                 "fields": cur_fields}
            ).encode(),
            "partition-spec": json.dumps([]).encode(),
            "partition-spec-id": b"0",
            "format-version": b"2",
            "content": b"data",
        }
        mpath = os.path.join(
            self.metadata_dir, f"m-{uuidlib.uuid4().hex}.avro"
        )
        write_container(mpath, _manifest_schema([]), entries,
                        extra_metadata=extra)
        n_rows = sum(e["data_file"]["record_count"] for e in entries)
        ml_rows = [
            {
                "manifest_path": mpath,
                "manifest_length": os.path.getsize(mpath),
                "partition_spec_id": 0, "content": 0,
                "sequence_number": seq, "min_sequence_number": seq,
                "added_snapshot_id": snap_id,
                "added_files_count": len(paths),
                "existing_files_count": 0, "deleted_files_count": 0,
                "added_rows_count": n_rows,
                "existing_rows_count": 0, "deleted_rows_count": 0,
            }
        ]
        cur_id = meta.get("current-snapshot-id")
        cur_snap = next(
            (s for s in snaps if int(s["snapshot-id"]) == cur_id), None
        )
        if cur_snap is not None:
            ml_rows.extend(self._manifest_list_rows(cur_snap))
        ml_path = os.path.join(
            self.metadata_dir,
            f"snap-{snap_id}-1-{uuidlib.uuid4().hex}.avro",
        )
        write_container(ml_path, _ML_SCHEMA, ml_rows,
                        extra_metadata={"format-version": b"2"})
        snap = {
            "snapshot-id": snap_id, "sequence-number": seq,
            "timestamp-ms": now_ms, "manifest-list": ml_path,
            "summary": {"operation": "append"},
            "schema-id": cur_sid,
        }
        if cur_id is not None and int(cur_id) != -1:
            snap["parent-snapshot-id"] = int(cur_id)
        meta["snapshots"] = snaps + [snap]
        meta["last-sequence-number"] = seq
        meta["last-updated-ms"] = now_ms
        self._advance_head(meta, snap_id, now_ms, "main")
        self._commit_metadata_json(meta)
        return snap_id
