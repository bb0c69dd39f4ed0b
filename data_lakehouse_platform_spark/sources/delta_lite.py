"""Dependency-free Delta Lake transaction-log interop (protocol v1).

The reference's gold tables are real Delta (gold_dim_products.py:118-131
uses DeltaTable.merge; versioned reads and RESTORE ride the same log).
This module needs no delta-spark jar: it speaks the PUBLIC
Delta protocol (https://github.com/delta-io/delta/blob/master/PROTOCOL.md)
directly — the tables it writes are real
``_delta_log`` tables, and tables a migrating user already holds read
as-is:

* the log is ``_delta_log/{version:020d}.json`` — one JSON action per
  line: ``protocol``, ``metaData``, ``add``, ``remove``, ``commitInfo``;
* a version commits by PUT-IF-ABSENT of its log file (O_EXCL here, the
  same primitive Delta requires of its LogStore);
* a snapshot is the log replay: files with an ``add`` not later
  ``remove``d; ``schemaString`` is the Spark StructType JSON, so the
  schema round-trips losslessly;
* time travel = replay to a version prefix; Delta's ``timestampAsOf``
  = newest version whose commit timestamp <= the instant.

Capability boundary (documented, not hidden): protocol v1
reader/writer features — add/remove file actions, hive-style
partition values, append/overwrite writes, version + timestamp time
travel, and parquet CHECKPOINTS (read single- and multi-part
``{v}.checkpoint[.{i}.{n}].parquet``; write single-part +
``_last_checkpoint``; ``clean_log`` drops covered JSON commits the
way delta-spark's log cleanup does) — plus COLUMN MAPPING on read
(reader v2, and reader v3 when ``readerFeatures`` is exactly
``columnMapping``): physical ``col-<uuid>`` parquet columns are read
under their physical names and surfaced under logical names from the
schema's ``delta.columnMapping.physicalName`` metadata, with
partition values resolved by physical key per spec (physicalName
metadata honored at EVERY nesting level) — plus DELETION VECTORS on
read (reader v3 ``deletionVectors`` feature, ON by default in modern
Delta writers): the portable 64-bit RoaringBitmapArray payload is
decoded dependency-free (Z85 inline, relative-UUID ``.bin`` files
with CRC32 verification, or absolute paths) and deleted rows are
filtered by ``_metadata.row_index`` — Spark's native per-file row
position, the same coordinate system the bitmap indexes — and on
WRITE via :meth:`DeltaLiteTable.delete`: a SQL-predicate DELETE that
marks rows in new/merged DVs instead of rewriting data files,
upgrading the protocol (legacy-implied features preserved) on first
use.  No type widening, no variant — a table advertising reader
features beyond columnMapping + deletionVectors still makes this
reader REFUSE loudly rather than return wrong rows.
delta-spark, when present, reads tables this writer produces (plain
v1 parquet + JSON log + spec-shaped checkpoint).

DeltaLiteTable is the engine's native versioned-table format: the
streaming CDC and fan-out sinks, the dedup ledger and incremental view
maintenance all commit through it.

STORAGE BOUNDARY — single POSIX filesystem ONLY.  Commits rely on
``os.open(..., O_CREAT | O_EXCL)`` put-if-absent and ``os.replace``
atomic renames; both primitives exist on local/NFS/HDFS-mounted paths
but NOT on S3-family object stores, where a bare PUT is
last-writer-wins: two writers racing the same ``{version:020d}.json``
would both "succeed" and one commit would be silently lost — the
exact failure Delta's LogStore abstraction exists to prevent.  The
reference runs against MinIO (``s3a://gold-layer``,
gold_fact_orders.py:137; docker-compose provisions the bucket), so a
migrating user WILL hit this first: running this module against an
object store needs (a) an S3 LogStore equivalent (DynamoDB-style
put-if-absent coordination, as delta-spark's S3DynamoDBLogStore
provides), or (b) a single-writer guarantee enforced outside the
engine.  The same boundary applies to iceberg_lite's
``version-hint.text`` rename commit.  This is a deliberate seam, not
an oversight — the commit primitive is isolated in
:meth:`DeltaLiteTable._commit` so a LogStore-style backend can
replace it without touching any verb.
"""

from __future__ import annotations

import functools
import json
import os
import re
import time
import urllib.parse
import uuid
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession


class DeltaProtocolError(RuntimeError):
    """Table requires protocol features this v1 implementation lacks."""


# -- deletion vectors (public Delta protocol, "Deletion Vectors" section) --
#
# A DV descriptor on an add action marks rows of that parquet file as
# deleted by their 0-based row index.  The bitmap is a 64-bit
# "RoaringBitmapArray" in PORTABLE serialization (magic 1681511377,
# little-endian), each 32-bit sub-bitmap in the standard interoperable
# RoaringFormatSpec layout.  Storage types: "i" = the serialized bitmap
# Z85-inlined in the descriptor; "u" = `<randomPrefix><z85 uuid>` naming
# `deletion_vector_<uuid>.bin` under the table (1-byte format version,
# then per-DV: 4-byte big-endian size, bitmap bytes, 4-byte big-endian
# CRC32); "p" = absolute path to such a file.

_Z85_CHARS = (
    "0123456789abcdefghijklmnopqrstuvwxyz"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
)
_Z85_INDEX = {c: i for i, c in enumerate(_Z85_CHARS)}
_ROARING_MAGIC = 1681511377
_SERIAL_COOKIE = 12347
_SERIAL_COOKIE_NO_RUN = 12346
_NO_OFFSET_THRESHOLD = 4


def z85_decode(s: str) -> bytes:
    """ZeroMQ Z85: 5 chars -> 4 bytes, big-endian base-85."""
    if len(s) % 5:
        raise DeltaProtocolError(f"Z85 length {len(s)} not a multiple of 5")
    out = bytearray()
    for i in range(0, len(s), 5):
        acc = 0
        for c in s[i : i + 5]:
            try:
                acc = acc * 85 + _Z85_INDEX[c]
            except KeyError:
                raise DeltaProtocolError(f"invalid Z85 character {c!r}")
        out += acc.to_bytes(4, "big")
    return bytes(out)


def z85_encode(b: bytes) -> str:
    if len(b) % 4:
        raise ValueError(f"Z85 payload length {len(b)} not a multiple of 4")
    out = []
    for i in range(0, len(b), 4):
        acc = int.from_bytes(b[i : i + 4], "big")
        chunk = []
        for _ in range(5):
            acc, rem = divmod(acc, 85)
            chunk.append(_Z85_CHARS[rem])
        out.extend(reversed(chunk))
    return "".join(out)


def _read_roaring32(buf: bytes, pos: int) -> tuple[list[int], int]:
    """One standard-format 32-bit RoaringBitmap at ``pos``; returns
    (sorted values, next position). Handles array, bitset and run
    containers per RoaringFormatSpec."""
    import struct

    (cookie,) = struct.unpack_from("<i", buf, pos)
    pos += 4
    run_bits = b""
    if (cookie & 0xFFFF) == _SERIAL_COOKIE:
        n = (cookie >> 16) + 1
        nb = (n + 7) // 8
        run_bits = buf[pos : pos + nb]
        pos += nb
    elif cookie == _SERIAL_COOKIE_NO_RUN:
        (n,) = struct.unpack_from("<i", buf, pos)
        pos += 4
    else:
        raise DeltaProtocolError(f"unknown roaring cookie {cookie}")
    keys_cards = []
    for i in range(n):
        key, card_m1 = struct.unpack_from("<HH", buf, pos)
        pos += 4
        keys_cards.append((key, card_m1 + 1))
    has_offsets = cookie == _SERIAL_COOKIE_NO_RUN or n >= _NO_OFFSET_THRESHOLD
    if has_offsets:
        pos += 4 * n  # parse sequentially; the offsets are redundant
    values: list[int] = []
    for i, (key, card) in enumerate(keys_cards):
        base = key << 16
        is_run = bool(run_bits) and (run_bits[i // 8] >> (i % 8)) & 1
        if is_run:
            (n_runs,) = struct.unpack_from("<H", buf, pos)
            pos += 2
            for _ in range(n_runs):
                start, len_m1 = struct.unpack_from("<HH", buf, pos)
                pos += 4
                values.extend(range(base + start, base + start + len_m1 + 1))
        elif card <= 4096:
            vals = struct.unpack_from(f"<{card}H", buf, pos)
            pos += 2 * card
            values.extend(base + v for v in vals)
        else:
            words = struct.unpack_from("<1024Q", buf, pos)
            pos += 8192
            for wi, w in enumerate(words):
                while w:
                    low = w & -w
                    values.append(base + (wi << 6) + low.bit_length() - 1)
                    w ^= low
    return values, pos


def roaring_bitmap_array_values(data: bytes) -> list[int]:
    """Decode a PORTABLE-format 64-bit RoaringBitmapArray (the DV
    payload) to sorted row indexes: magic, int64 bitmap count, then per
    sub-bitmap an int32 high-word key + a standard 32-bit bitmap
    (value = key << 32 | low)."""
    import struct

    if len(data) < 12:
        raise DeltaProtocolError("deletion vector payload too short")
    (magic,) = struct.unpack_from("<i", data, 0)
    if magic != _ROARING_MAGIC:
        raise DeltaProtocolError(
            f"deletion vector magic {magic} != {_ROARING_MAGIC}"
        )
    (n_bitmaps,) = struct.unpack_from("<q", data, 4)
    pos = 12
    out: list[int] = []
    for _ in range(n_bitmaps):
        (key,) = struct.unpack_from("<i", data, pos)
        pos += 4
        vals, pos = _read_roaring32(data, pos)
        out.extend((key << 32) | v for v in vals)
    return out


def _physicalize(dt):
    """Rewrite a logical Delta schema (or any nested DataType) to the
    physical parquet schema under column mapping: every StructField at
    every nesting level takes its ``delta.columnMapping.physicalName``
    metadata when present (spec: the metadata is attached per-field at
    ALL levels, not just the top)."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(dt, StructType):
        return StructType(
            [
                StructField(
                    (f.metadata or {}).get(
                        "delta.columnMapping.physicalName", f.name
                    ),
                    _physicalize(f.dataType),
                    f.nullable,
                )
                for f in dt.fields
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_physicalize(dt.elementType), dt.containsNull)
    if isinstance(dt, MapType):
        return MapType(
            _physicalize(dt.keyType),
            _physicalize(dt.valueType),
            dt.valueContainsNull,
        )
    return dt


def serialize_roaring_bitmap_array(values) -> bytes:
    """PORTABLE-format 64-bit RoaringBitmapArray (array containers
    <= 4096 values per 16-bit key space, bitset containers above —
    never runs, which stay read-only here): the exact byte layout
    :func:`roaring_bitmap_array_values` decodes, used by
    :meth:`DeltaLiteTable.delete` to write DV payloads."""
    import struct
    from collections import defaultdict

    by_high: dict[int, list[int]] = defaultdict(list)
    for v in sorted(set(int(v) for v in values)):
        if v < 0:
            raise ValueError(f"negative row index {v}")
        by_high[v >> 32].append(v & 0xFFFFFFFF)
    out = bytearray(struct.pack("<iq", _ROARING_MAGIC, len(by_high)))
    for high in sorted(by_high):
        out += struct.pack("<i", high)
        by_key: dict[int, list[int]] = defaultdict(list)
        for lo in by_high[high]:
            by_key[lo >> 16].append(lo & 0xFFFF)
        n = len(by_key)
        bm = bytearray(struct.pack("<ii", _SERIAL_COOKIE_NO_RUN, n))
        for key in sorted(by_key):
            bm += struct.pack("<HH", key, len(by_key[key]) - 1)
        off = len(bm) + 4 * n  # offset header is mandatory for 12346
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


# Legacy protocol versions imply fixed feature sets (PROTOCOL.md
# "Table Features"); needed when a DELETE upgrades a v1/v2 table to the
# feature-list protocol without dropping what the old version implied.
_LEGACY_READER_FEATURES = {1: (), 2: ("columnMapping",)}
_LEGACY_WRITER_FEATURES = {
    1: (),
    2: ("appendOnly", "invariants"),
    3: ("appendOnly", "invariants", "checkConstraints"),
    4: ("appendOnly", "invariants", "checkConstraints",
        "changeDataFeed", "generatedColumns"),
    5: ("appendOnly", "invariants", "checkConstraints",
        "changeDataFeed", "generatedColumns", "columnMapping"),
    6: ("appendOnly", "invariants", "checkConstraints",
        "changeDataFeed", "generatedColumns", "columnMapping",
        "identityColumns"),
}

#: delete() resolves matches to (file, row-index) pairs on the driver —
#: bounded like the log itself.  Mass deletes should rewrite files
#: (overwrite) instead; this cap turns the misuse into a named error.
MAX_DELETE_ROWS = 2_000_000


def _encode_path(p: str) -> str:
    """Relative on-disk path -> the URL-encoded spelling the Delta
    protocol requires for ``add.path``/``remove.path`` (readers
    decode).  Hive-escaped partition dirs contain literal ``%`` (e.g.
    value ``x:y`` -> dir ``k=x%3Ay``), so writing the raw spelling
    would make delta-spark decode to a nonexistent file; quoting here
    (``%`` -> ``%25``) keeps the round trip exact."""
    return urllib.parse.quote(p, safe="/=")


def _decode_path(p: str) -> str:
    """URL-encoded log path -> the on-disk relative path (the Delta
    spec's reader-side decode).  All in-memory state (``live`` keys,
    action dicts) holds DECODED paths; encoding happens only at
    commit/checkpoint serialization."""
    return urllib.parse.unquote(p)


class DeleteTooLargeError(ValueError):
    """delete() matched more rows than the DV path should carry."""


class DeltaConstraintViolation(RuntimeError):
    """A write staged rows violating a declared CHECK constraint
    (delta-spark's DeltaInvariantViolationException analog); nothing
    was committed."""


# -- per-file column statistics & data skipping ------------------------------
#
# The Delta protocol's ``add.stats`` JSON ({numRecords, minValues,
# maxValues, nullCount}) is what makes a 100 TB table queryable with a
# selective predicate: delta-spark writes it on every file and prunes
# the file list BEFORE the scan.  The write side here computes the
# same stats with one distributed pass over the just-staged files
# (grouped by ``_metadata.file_path`` — never a per-file driver loop);
# the read side prunes with a conservative min/max interval evaluator
# over a predicate parsed by SPARK'S OWN SQL PARSER, so the grammar is
# exactly Spark's.  Anything the evaluator does not understand keeps
# the file — skipping is an optimization, never a filter: ``read``
# still applies the full predicate to the surviving rows.
#
# Bounds are CONSERVATIVE by construction: string bounds are dropped
# for a file when any value exceeds _STATS_MAX_STRING chars (a
# truncated max is not an upper bound under binary collation);
# float/double bounds are dropped when NaN/Inf appears; decimal bounds
# widen outward to the enclosing floats.  Files with deletion vectors
# keep their original stats — a superset bound stays valid when rows
# are removed (numRecords then overcounts, which only disables
# all-null reasoning, never admits a wrong skip).

_STATS_MAX_STRING = 64
_EPOCH_DATE = None  # lazily: datetime.date(1970, 1, 1)


def _stats_skippable(dt) -> bool:
    """Leaf Spark types whose min/max order matches Delta's stats
    semantics (numbers, strings, date/timestamp, boolean)."""
    from pyspark.sql.types import (
        BooleanType, ByteType, DateType, DecimalType, DoubleType,
        FloatType, IntegerType, LongType, ShortType, StringType,
        TimestampNTZType, TimestampType,
    )

    return isinstance(
        dt,
        (
            BooleanType, ByteType, ShortType, IntegerType, LongType,
            FloatType, DoubleType, DecimalType, StringType, DateType,
            TimestampType, TimestampNTZType,
        ),
    )


def _stats_to_json_value(v):
    """Python stat value -> JSON-serializable, widening where exact
    representation is impossible (decimal -> enclosing floats is done
    by the caller, which knows min vs max direction)."""
    import datetime

    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return v


def _stat_from_json(v, dt, tz_name: str | None):
    """JSON stat value -> a Python comparable for the column's Spark
    type.  Returns None when the value cannot be interpreted (callers
    treat None bounds as 'keep the file')."""
    import datetime
    from decimal import Decimal

    from pyspark.sql.types import (
        BooleanType, DateType, DecimalType, DoubleType, FloatType,
        StringType, TimestampNTZType, TimestampType,
    )

    if v is None:
        return None
    try:
        if isinstance(dt, StringType):
            return str(v)
        if isinstance(dt, BooleanType):
            if isinstance(v, bool):
                return v
            return str(v).lower() == "true"
        if isinstance(dt, DateType):
            return datetime.date.fromisoformat(str(v)[:10])
        if isinstance(dt, (TimestampType, TimestampNTZType)):
            s = str(v).replace("Z", "+00:00")
            ts = datetime.datetime.fromisoformat(s)
            if ts.tzinfo is not None:
                ts = _to_session_naive(ts, tz_name)
            return ts
        if isinstance(dt, DecimalType):
            # External writers serialize decimals as JSON numbers;
            # json.loads gave a float whose rounding direction is
            # unknown — widening happens in the caller (it knows
            # whether this is a lower or an upper bound).
            if isinstance(v, str):
                return Decimal(v)
            return float(v)
        if isinstance(dt, (FloatType, DoubleType)):
            return float(v)
        return int(v) if not isinstance(v, float) else v
    except (ValueError, TypeError, ArithmeticError):
        return None


from data_lakehouse_platform_spark.sources.skipping import (
    _predicate_tree,
    _session_tz,
    _skip_possible,
    _to_session_naive,
)



def _partition_stat_value(raw: str, dt, tz_name: str | None):
    """A decoded ``add.partitionValues`` string -> a typed comparable
    (partition values are exact: min == max == value)."""
    import datetime
    from decimal import Decimal

    from pyspark.sql.types import (
        BooleanType, DateType, DecimalType, DoubleType, FloatType,
        StringType, TimestampNTZType, TimestampType,
    )

    try:
        if isinstance(dt, StringType):
            return raw
        if isinstance(dt, BooleanType):
            return raw.lower() == "true"
        if isinstance(dt, DateType):
            return datetime.date.fromisoformat(raw[:10])
        if isinstance(dt, (TimestampType, TimestampNTZType)):
            ts = datetime.datetime.fromisoformat(
                raw.replace(" ", "T").replace("Z", "+00:00")
            )
            if ts.tzinfo is not None:
                ts = _to_session_naive(ts, tz_name)
            return ts
        if isinstance(dt, DecimalType):
            return Decimal(raw)
        if isinstance(dt, (FloatType, DoubleType)):
            return float(raw)
        return int(raw)
    except (ValueError, TypeError, ArithmeticError):
        return None


def _stat_domain(
    add: dict, schema, part_cols: list[str], phys: dict, tz_name
) -> dict:
    """One file's skipping domain: {lowercase column -> (lo, hi,
    null_count, num_records)}.  Data-column bounds come from the
    add action's ``stats`` JSON (keyed by PHYSICAL name under column
    mapping, with a logical-name fallback for lenient writers);
    partition columns are exact from ``partitionValues``.  Decimal
    bounds parsed from JSON numbers widen outward one float ulp — an
    external writer's serializer may have rounded either way."""
    import math

    from pyspark.sql.types import DecimalType

    dom: dict = {}
    stats = add.get("stats")
    parsed = None
    if isinstance(stats, str) and stats:
        try:
            parsed = json.loads(stats)
        except ValueError:
            parsed = None
    elif isinstance(stats, dict):
        parsed = stats
    nr = None
    if parsed is not None:
        try:
            nr = int(parsed.get("numRecords"))
        except (TypeError, ValueError):
            nr = None
    mins = (parsed or {}).get("minValues") or {}
    maxs = (parsed or {}).get("maxValues") or {}
    ncs = (parsed or {}).get("nullCount") or {}
    part_set = set(part_cols)
    for f in schema.fields:
        if f.name in part_set:
            continue
        pn = phys.get(f.name, f.name)
        lo = _stat_from_json(
            mins.get(pn, mins.get(f.name)), f.dataType, tz_name
        )
        hi = _stat_from_json(
            maxs.get(pn, maxs.get(f.name)), f.dataType, tz_name
        )
        nc = ncs.get(pn, ncs.get(f.name))
        nc = int(nc) if isinstance(nc, (int, float)) else None
        if isinstance(f.dataType, DecimalType):
            if isinstance(lo, float):
                lo = (
                    math.nextafter(lo, -math.inf)
                    if not (math.isnan(lo) or math.isinf(lo))
                    else None
                )
            if isinstance(hi, float):
                hi = (
                    math.nextafter(hi, math.inf)
                    if not (math.isnan(hi) or math.isinf(hi))
                    else None
                )
        if lo is None and hi is None and nc is None and nr is None:
            continue
        dom[f.name.lower()] = (lo, hi, nc, nr)
    pv = add.get("partitionValues") or {}
    for c in part_cols:
        pn = phys.get(c, c)
        present = pn in pv or c in pv
        if not present:
            continue
        raw = pv.get(pn, pv.get(c))
        if raw is None:
            dom[c.lower()] = (None, None, 1, 1)  # every row NULL here
            continue
        val = _partition_stat_value(raw, schema[c].dataType, tz_name)
        if val is None:
            continue
        dom[c.lower()] = (val, val, 0, nr)
    return dom


class _CowSnapshot(NamedTuple):
    """The version a copy-on-write verb rewrites.  ``current`` is a
    ``_with_position`` read of it (each row names its file in
    ``__dv_path``); ``data_cols`` are the table's columns."""

    version: int
    meta: dict
    live: dict
    proto: dict
    current: DataFrame
    data_cols: list


class DeltaLiteTable:
    def __init__(self, path: str, commit_backend=None):
        from data_lakehouse_platform_spark.sources.commit_backend import (
            PosixCommitSlots,
        )

        self.path = path
        self.log_dir = os.path.join(path, "_delta_log")
        # The LogStore seam (see sources/commit_backend.py): every
        # version commit goes through backend.put_if_absent — swap in
        # CoordinatedCommitSlots for object stores.
        self.commit_backend = commit_backend or PosixCommitSlots()

    # -- log ------------------------------------------------------------

    _CP_RE = re.compile(
        r"^(\d{20})\.checkpoint(?:\.(\d{10})\.(\d{10}))?\.parquet$"
    )
    # V2-spec checkpoints (reader feature v2Checkpoint): uuid-named
    # ``{v}.checkpoint.{uuid}.{parquet|json}``, containing a
    # checkpointMetadata action and optionally sidecar actions whose
    # files (in _delta_log/_sidecars/) carry the add/remove state.
    # The uuid group cannot collide with classic multi-part names:
    # those have TWO dot-separated 10-digit groups, never one.
    _CP_V2_RE = re.compile(
        r"^(\d{20})\.checkpoint\.([0-9a-zA-Z-]+)\.(parquet|json)$"
    )
    # Minor log compactions (``{start}.{end}.compacted.json``): the
    # reconciled actions of a commit range, what a live delta-spark
    # writer periodically leaves in _delta_log.  Redundant with the
    # per-version JSONs while those exist, and a replay shortcut /
    # only copy when they don't.
    _COMPACT_RE = re.compile(r"^(\d{20})\.(\d{20})\.compacted\.json$")

    def _versions(self) -> list[int]:
        """Versions with a JSON commit file present."""
        if not os.path.isdir(self.log_dir):
            return []
        out = []
        for f in os.listdir(self.log_dir):
            if f.endswith(".json") and f[: -len(".json")].isdigit():
                out.append(int(f[: -len(".json")]))
        return sorted(out)

    def _compactions(self) -> dict[tuple[int, int], str]:
        """Minor log compactions present: (start, end) -> filename."""
        out: dict[tuple[int, int], str] = {}
        if not os.path.isdir(self.log_dir):
            return out
        for f in os.listdir(self.log_dir):
            m = self._COMPACT_RE.match(f)
            if m:
                out[(int(m.group(1)), int(m.group(2)))] = f
        return out

    def _commit_segments(
        self, start_after: int, to_version: int
    ) -> list[tuple[str, int]]:
        """The commit files whose actions replay versions
        ``(start_after, to_version]``, in order, as (filename,
        last-version-covered) pairs.  A minor log compaction whose
        whole range fits is PREFERRED over its per-version JSONs: one
        reconciled file replaces ``end - start + 1`` reads (the
        delta-spark replay shortcut), and after log cleanup it may be
        the only copy.  A version covered by neither raises — a gap
        must never silently drop history.  ``to_version`` strictly
        inside a compacted range cannot use that compaction (only the
        range's END state is reconstructible from reconciled actions).
        """
        jsons = set(self._versions())
        by_start: dict[int, int] = {}
        for (s, e), _f in self._compactions().items():
            if e <= to_version and e >= s and (
                s not in by_start or e > by_start[s]
            ):
                by_start[s] = e
        segments: list[tuple[str, int]] = []
        missing: list[int] = []
        v = start_after + 1
        while v <= to_version:
            if v in by_start:
                e = by_start[v]
                segments.append(
                    (f"{v:020d}.{e:020d}.compacted.json", e)
                )
                v = e + 1
            elif v in jsons:
                segments.append((f"{v:020d}.json", v))
                v += 1
            else:
                missing.append(v)
                v += 1
        if missing:
            raise FileNotFoundError(
                f"log versions {missing} are missing and no checkpoint "
                f"covers them — cannot reconstruct version {to_version}"
            )
        return segments

    def _segment_actions(self, filename: str) -> list[dict]:
        with open(os.path.join(self.log_dir, filename)) as fh:
            return [json.loads(line) for line in fh if line.strip()]

    def _checkpoints(self) -> dict[int, list[str]]:
        """Checkpointed versions -> their files: classic single-/multi-
        part ``{v}.checkpoint[.{i}.{n}].parquet`` or a V2-spec
        uuid-named checkpoint (at most one file per version is used;
        when both forms exist for a version the v2 file wins, matching
        delta-spark's preference for the newer format)."""
        out: dict[int, list[str]] = {}
        v2: dict[int, list[str]] = {}
        if not os.path.isdir(self.log_dir):
            return out
        for f in os.listdir(self.log_dir):
            m = self._CP_RE.match(f)
            if m:
                out.setdefault(int(m.group(1)), []).append(f)
                continue
            m2 = self._CP_V2_RE.match(f)
            if m2:
                v2.setdefault(int(m2.group(1)), []).append(f)
        merged = {v: sorted(fs) for v, fs in out.items()}
        for v, fs in v2.items():
            merged[v] = sorted(fs)[:1]  # one v2 manifest carries all
        return merged

    def all_versions(self) -> list[int]:
        """Every readable snapshot version: JSON commits, versions
        reachable only through a checkpoint (after log cleanup), and
        the END versions of minor log compactions (a compaction's
        reconciled actions reconstruct exactly its end state — interior
        versions stay unreadable once their JSONs are gone)."""
        return sorted(
            set(self._versions())
            | set(self._checkpoints())
            | {e for (_s, e) in self._compactions()}
        )

    def latest_version(self) -> int | None:
        vs = self.all_versions()
        return vs[-1] if vs else None

    def _actions(self, version: int) -> list[dict]:
        with open(os.path.join(self.log_dir, f"{version:020d}.json")) as fh:
            return [json.loads(line) for line in fh if line.strip()]

    # Reader features this implementation actually honors.  Reader v2
    # exists solely for column mapping; v3 tables enumerate features.
    # v2Checkpoint: READ-side only — _checkpoint_actions understands
    # uuid-named V2-spec checkpoints (parquet or JSON, with sidecars);
    # the writer gate still refuses v2Checkpoint tables (writing a
    # classic checkpoint into one would violate the feature contract).
    _SUPPORTED_READER_FEATURES = frozenset(
        {"columnMapping", "deletionVectors", "v2Checkpoint"}
    )

    def _dv_deleted_rows(self, dv: dict) -> list[int]:
        """Resolve a deletionVector descriptor to its sorted deleted row
        indexes, verifying cardinality (and CRC32 for on-disk DVs)."""
        import zlib

        st = dv.get("storageType")
        if st == "i":
            data = z85_decode(dv["pathOrInlineDv"])
            data = data[: int(dv["sizeInBytes"])]
        elif st in ("u", "p"):
            if st == "u" and len(dv["pathOrInlineDv"]) < 20:
                raise DeltaProtocolError(
                    "storageType=u pathOrInlineDv too short: "
                    f"{dv['pathOrInlineDv']!r}"
                )
            path = self._dv_file_path(dv)
            size = int(dv["sizeInBytes"])
            with open(path, "rb") as fh:
                fh.seek(int(dv["offset"]))
                stored_size = int.from_bytes(fh.read(4), "big")
                if stored_size != size:
                    raise DeltaProtocolError(
                        f"DV size mismatch at {path}:{dv['offset']}: "
                        f"descriptor says {size}, file says {stored_size}"
                    )
                data = fh.read(size)
                crc = int.from_bytes(fh.read(4), "big")
            if zlib.crc32(data) & 0xFFFFFFFF != crc:
                raise DeltaProtocolError(f"DV checksum mismatch at {path}")
        else:
            raise DeltaProtocolError(f"unknown DV storageType {st!r}")
        rows = roaring_bitmap_array_values(data)
        card = dv.get("cardinality")
        if card is not None and int(card) != len(rows):
            raise DeltaProtocolError(
                f"DV cardinality {card} != decoded {len(rows)} rows"
            )
        return rows

    def _check_protocol(self, p: dict) -> None:
        mrv = p.get("minReaderVersion", 1)
        if mrv <= 2:
            # v1 plain; v2 = column mapping, handled in read().
            return
        if mrv == 3:
            feats = p.get("readerFeatures")
            if feats is None:
                # v3 REQUIRES an explicit feature list; a table without
                # one is malformed and its needs are unknowable.
                raise DeltaProtocolError(
                    "table advertises minReaderVersion=3 without a "
                    "readerFeatures list — malformed protocol action; "
                    "refusing rather than guess"
                )
            unsupported = set(feats) - self._SUPPORTED_READER_FEATURES
            if not unsupported:
                return
            raise DeltaProtocolError(
                f"table requires reader features {sorted(unsupported)}; "
                "this reader speaks v1 + columnMapping + deletionVectors "
                "+ v2Checkpoint and refuses rather than misread (e.g. "
                "type widening would silently narrow values); use the "
                "real delta-spark package for such tables (see JARS.md "
                "for why it is absent here)"
            )
        raise DeltaProtocolError(
            f"table requires minReaderVersion={mrv}; this reader speaks "
            "v1 + columnMapping (v2/v3) and refuses rather than "
            "misread; use the real delta-spark package (see JARS.md)"
        )

    @staticmethod
    def _plain(v):
        """pyarrow row values -> JSON-shaped plain Python: MapArray rows
        surface as [(k, val), ...] tuple lists; fold them (and nested
        structs) back to dicts so checkpoint state matches log-replay
        state field for field."""
        if isinstance(v, list) and v and all(
            isinstance(e, tuple) and len(e) == 2 for e in v
        ):
            return {k: DeltaLiteTable._plain(x) for k, x in v}
        if isinstance(v, dict):
            return {k: DeltaLiteTable._plain(x) for k, x in v.items()}
        return v

    def _checkpoint_actions(self, version: int, files: list[str]):
        """Yield every action dict in a checkpoint, shared by state /
        tombstone / txn replay and format-agnostic: classic parquet
        parts, V2-spec parquet, and V2-spec JSON all normalize to
        single-key action dicts, with sidecar files (V2's add/remove
        spill, ``_delta_log/_sidecars/``) read inline in file order.
        A V2 checkpoint whose checkpointMetadata.version disagrees
        with its filename is corrupt and refused."""
        import pyarrow.parquet as pq

        def _rows(path: str):
            if path.endswith(".json"):
                with open(path) as fh:
                    for line in fh:
                        if line.strip():
                            yield json.loads(line)
            else:
                for row in pq.read_table(path).to_pylist():
                    yield {
                        k: v for k, v in row.items() if v is not None
                    }

        for f in files:
            is_v2 = bool(self._CP_V2_RE.match(f))
            saw_cp_meta = False
            for row in _rows(os.path.join(self.log_dir, f)):
                cpm = row.get("checkpointMetadata")
                if cpm is not None:
                    cpm = self._plain(cpm)
                    saw_cp_meta = True
                    if int(cpm.get("version", -1)) != version:
                        raise DeltaProtocolError(
                            f"v2 checkpoint {f} says version "
                            f"{cpm.get('version')} but is named for "
                            f"{version} — corrupt checkpoint, refusing"
                        )
                    continue
                sc = row.get("sidecar")
                if sc is not None:
                    sc = self._plain(sc)
                    sc_path = os.path.join(
                        self.log_dir, "_sidecars", sc["path"]
                    )
                    if not os.path.exists(sc_path):
                        raise DeltaProtocolError(
                            f"v2 checkpoint {f} references missing "
                            f"sidecar {sc['path']} — cannot "
                            "reconstruct table state"
                        )
                    for srow in _rows(sc_path):
                        yield {
                            k: v
                            for k, v in srow.items()
                            if v is not None
                        }
                    continue
                yield row
            if is_v2 and not saw_cp_meta:
                raise DeltaProtocolError(
                    f"uuid-named checkpoint {f} carries no "
                    "checkpointMetadata action — not a valid V2 "
                    "checkpoint, refusing"
                )

    def _load_checkpoint(
        self, version: int, files: list[str]
    ) -> tuple[dict, dict[str, dict], dict]:
        meta: dict = {}
        live: dict[str, dict] = {}
        proto: dict = {}
        for row in self._checkpoint_actions(version, files):
            if row.get("protocol") is not None:
                proto = self._plain(row["protocol"])
                self._check_protocol(proto)
            if row.get("metaData") is not None:
                meta = self._plain(row["metaData"])
            if row.get("add") is not None:
                add = self._plain(row["add"])
                add["path"] = _decode_path(add["path"])
                live[add["path"]] = add
        return meta, live, proto

    def _replay(
        self, to_version: int
    ) -> tuple[dict, dict[str, dict], dict]:
        """Replay to a snapshot: seed from the newest checkpoint at or
        before ``to_version`` (if any), then apply the JSON commits
        after it. Returns (metaData, {path: add-action}, protocol).  A
        gap in the JSON chain that no checkpoint covers (over-eager
        external log cleanup) raises instead of silently dropping
        history."""
        meta: dict = {}
        live: dict[str, dict] = {}
        proto: dict = {"minReaderVersion": 1, "minWriterVersion": 2}
        start_after = -1
        cps = self._checkpoints()
        eligible = [v for v in cps if v <= to_version]
        if eligible:
            cp = max(eligible)
            meta, live, cp_proto = self._load_checkpoint(cp, cps[cp])
            proto = cp_proto or proto
            start_after = cp
        for fname, _last in self._commit_segments(start_after, to_version):
            for a in self._segment_actions(fname):
                if "protocol" in a:
                    self._check_protocol(a["protocol"])
                    proto = a["protocol"]
                elif "metaData" in a:
                    meta = a["metaData"]
                elif "add" in a:
                    add = dict(a["add"])
                    add["path"] = _decode_path(add["path"])
                    live[add["path"]] = add
                elif "remove" in a:
                    live.pop(_decode_path(a["remove"]["path"]), None)
        return meta, live, proto

    def _tombstones(self, to_version: int) -> dict[str, dict]:
        """Unexpired ``remove`` tombstones at a version — the Delta
        spec requires checkpoints to RETAIN remove actions until
        tombstone retention expires (default 1 week), so external
        vacuum / conflict detection still sees recently removed files
        after :meth:`clean_log`.  Replayed in commit order: a re-add
        of the same path clears its tombstone; a prior checkpoint's
        remove column seeds the state."""
        tombs: dict[str, dict] = {}
        start_after = -1
        cps = self._checkpoints()
        eligible = [c for c in cps if c <= to_version]
        if eligible:
            cp = max(eligible)
            for row in self._checkpoint_actions(cp, cps[cp]):
                rm = row.get("remove")
                if rm is not None:
                    rm = self._plain(rm)
                    rm["path"] = _decode_path(rm["path"])
                    tombs[rm["path"]] = rm
            start_after = cp
        for fname, _last in self._commit_segments(start_after, to_version):
            for a in self._segment_actions(fname):
                if "remove" in a:
                    rm = dict(a["remove"])
                    rm["path"] = _decode_path(rm["path"])
                    tombs[rm["path"]] = rm
                elif "add" in a:
                    tombs.pop(_decode_path(a["add"]["path"]), None)
        retention_ms = 7 * 24 * 3600 * 1000
        floor = int(time.time() * 1000) - retention_ms
        return {
            p: rm
            for p, rm in tombs.items()
            if int(rm.get("deletionTimestamp") or 0) >= floor
            or rm.get("deletionTimestamp") is None
        }

    def txn_versions(self, to_version: int | None = None) -> dict[str, int]:
        """Latest committed application-transaction version per appId
        (the Delta ``txn`` action), replayed checkpoint-first like the
        file state — checkpoints carry txn rows (see :meth:`checkpoint`)
        so exactly-once survives ``clean_log``."""
        v = self.latest_version() if to_version is None else to_version
        if v is None:
            return {}
        txns: dict[str, int] = {}
        start_after = -1
        cps = self._checkpoints()
        eligible = [c for c in cps if c <= v]
        if eligible:
            cp = max(eligible)
            for row in self._checkpoint_actions(cp, cps[cp]):
                t = row.get("txn")
                if t is not None:
                    t = self._plain(t)
                    txns[t["appId"]] = int(t["version"])
            start_after = cp
        for fname, _last in self._commit_segments(start_after, v):
            for a in self._segment_actions(fname):
                if "txn" in a:
                    txns[a["txn"]["appId"]] = int(a["txn"]["version"])
        return txns

    # -- write ----------------------------------------------------------

    # Writer features this implementation can coexist with.  A feature
    # is write-safe either because we IMPLEMENT it (deletionVectors),
    # ENFORCE it (appendOnly), or can prove it is dormant on this
    # table (constraints/invariants/generated/identity columns: safe
    # unless the schema/config actually declares one — then we refuse
    # rather than write rows no one validated).
    _WRITE_SAFE_FEATURES = frozenset(
        {
            "appendOnly",
            "invariants",
            "checkConstraints",
            "changeDataFeed",
            "generatedColumns",
            "identityColumns",
            "columnMapping",
            "deletionVectors",
            # write-safe because checkpoint() emits the V2-SPEC layout
            # (uuid-named manifest + sidecar) on tables carrying the
            # feature — JSON commits themselves are format-agnostic
            "v2Checkpoint",
        }
    )

    def _check_write_protocol(
        self, meta: dict, proto: dict, kind: str
    ) -> None:
        """Refuse writes the table's WRITER protocol makes unsafe —
        the write-side twin of ``_check_protocol`` (spec: a writer
        must not commit unless it supports every required writer
        feature).  ``kind``: ``append`` (adds only), ``mutate``
        (removes/updates data), ``compact`` (dataChange:false
        rewrites, which appendOnly permits)."""
        mwv = proto.get("minWriterVersion", 2)
        if mwv >= 7:
            if proto.get("writerFeatures") is None:
                raise DeltaProtocolError(
                    f"table advertises minWriterVersion={mwv} without "
                    "a writerFeatures list — malformed protocol "
                    "action; refusing rather than guess"
                )
            feats = set(proto["writerFeatures"])
        elif mwv in _LEGACY_WRITER_FEATURES:
            feats = set(_LEGACY_WRITER_FEATURES[mwv])
        else:
            raise DeltaProtocolError(
                f"table requires minWriterVersion={mwv}; this writer "
                "speaks legacy v1-6 and v7 feature tables and refuses "
                "rather than corrupt (see JARS.md)"
            )
        unknown = feats - self._WRITE_SAFE_FEATURES
        if unknown:
            raise DeltaProtocolError(
                f"table requires writer features {sorted(unknown)} "
                "this writer does not implement — refusing to commit "
                "(a write that ignores them corrupts the table for "
                "engines that rely on them)"
            )
        conf = meta.get("configuration") or {}
        schema_s = meta.get("schemaString") or ""
        # Declared-state checks are UNCONDITIONAL (not gated on the
        # feature list): a table whose config/schema declares a
        # constraint expects it honored even if an engine under-
        # stamped the protocol.
        cm_mode = conf.get("delta.columnMapping.mode", "none")
        if cm_mode not in ("none", "name"):
            # 'name' mode writes are produced here (physical-name data
            # files via _stage_adds' phys_map); 'id' mode would also
            # need parquet field-id footers this writer does not stamp
            raise DeltaProtocolError(
                f"table uses column mapping mode {cm_mode!r}; this "
                "writer produces physical-name files for 'name' mode "
                "only"
            )
        # delta.enableChangeDataFeed=true is SUPPORTED: every mutating
        # verb emits _change_data files + cdc actions (see _stage_cdc),
        # so the round-4 loud refusal is gone.
        # delta.constraints.* are SUPPORTED: every staged add is
        # validated against each declared CHECK expression before the
        # commit (see _stage_adds), so declared-state refusal is gone.
        if "delta.invariants" in schema_s:
            raise DeltaProtocolError(
                "table schema declares column invariants this writer "
                "cannot validate — refusing to write unvalidated rows"
            )
        # delta.generationExpression is SUPPORTED: appends compute a
        # missing generated column from its expression, and EVERY verb
        # validates staged rows against each expression before commit
        # (see _stage_adds) — a SET that contradicts a generation
        # expression raises instead of committing drift.
        # delta.identity.* is SUPPORTED for positive steps: appends
        # GENERATE missing identity values past the high-water mark and
        # the same commit re-emits metaData with the advanced mark;
        # explicit values are honored per allowExplicitInsert.  A
        # NEGATIVE step still refuses (descending allocation is not
        # implemented — better loud than wrong).
        if "delta.identity." in schema_s:
            for f in json.loads(schema_s).get("fields", []):
                md = f.get("metadata") or {}
                if "delta.identity.start" in md and int(
                    md.get("delta.identity.step", 1)
                ) <= 0:
                    raise DeltaProtocolError(
                        f"identity column {f['name']!r} has a non-"
                        "positive step; this writer allocates ascending "
                        "values only — refusing"
                    )
        if conf.get("delta.appendOnly") == "true" and kind == "mutate":
            raise DeltaProtocolError(
                "table is append-only (delta.appendOnly=true): "
                "overwrite/DELETE/UPDATE/MERGE/RESTORE are refused; "
                "compaction (dataChange=false) and appends remain "
                "allowed"
            )

    def _compute_add_stats(
        self,
        df: DataFrame,
        stage_dir: str,
        partition_by: list[str],
        table_conf: dict | None,
    ) -> dict[str, str]:
        """Per-file Delta ``add.stats`` JSON for every parquet file a
        stage write produced: {numRecords, minValues, maxValues,
        nullCount} over the first ``delta.dataSkippingNumIndexedCols``
        schema columns (default 32, -1 = all — delta-spark's knob).
        ONE distributed aggregation grouped by ``_metadata.file_path``
        computes every file's stats; the collect is bounded by files ×
        columns (metadata-sized, like the log itself).  Bounds that
        cannot be trusted are OMITTED, never approximated: strings
        longer than _STATS_MAX_STRING (a truncated max under-bounds),
        NaN/Inf floats, decimals widen outward to enclosing floats."""
        import math
        from decimal import Decimal

        from pyspark.sql import functions as F
        from pyspark.sql.types import (
            DecimalType, DoubleType, FloatType, StringType, StructType,
        )

        conf = table_conf or {}
        try:
            n_indexed = int(
                conf.get("delta.dataSkippingNumIndexedCols", "32")
            )
        except (TypeError, ValueError):
            n_indexed = 32
        if n_indexed == 0:
            return {}
        indexed = (
            df.schema.fields
            if n_indexed < 0
            else df.schema.fields[:n_indexed]
        )
        stat_fields = [
            f
            for f in indexed
            if f.name not in partition_by and _stats_skippable(f.dataType)
        ]
        data_fields = [
            f for f in df.schema.fields if f.name not in partition_by
        ]
        if not data_fields:
            return {}
        spark = df.sparkSession
        raw = (
            spark.read.schema(StructType(data_fields))
            .option("basePath", stage_dir)
            .parquet(stage_dir)
        )
        aggs = [F.count(F.lit(1)).alias("__nr")]
        for i, f in enumerate(stat_fields):
            c = F.col(f.name)
            aggs.append(F.min(c).alias(f"__min_{i}"))
            aggs.append(F.max(c).alias(f"__max_{i}"))
            aggs.append(F.sum(c.isNull().cast("long")).alias(f"__nc_{i}"))
            if isinstance(f.dataType, StringType):
                aggs.append(F.max(F.length(c)).alias(f"__len_{i}"))
        rows = (
            raw.groupBy(F.col("_metadata.file_path").alias("__fp"))
            .agg(*aggs)
            .collect()
        )
        root = os.path.abspath(self.path)
        out: dict[str, str] = {}
        for r in rows:
            ap = urllib.parse.unquote(
                re.sub(r"^[a-zA-Z0-9+.-]+:/+", "/", r["__fp"])
            )
            rel = os.path.relpath(ap, root).replace(os.sep, "/")
            minv: dict = {}
            maxv: dict = {}
            nullc: dict = {}
            for i, f in enumerate(stat_fields):
                lo, hi, nc = r[f"__min_{i}"], r[f"__max_{i}"], r[f"__nc_{i}"]
                nullc[f.name] = int(nc or 0)
                if lo is None or hi is None:
                    continue  # all-null column: nullCount says it all
                if isinstance(f.dataType, StringType):
                    if (r[f"__len_{i}"] or 0) > _STATS_MAX_STRING:
                        continue
                if isinstance(f.dataType, (FloatType, DoubleType)) and (
                    any(
                        math.isnan(x) or math.isinf(x)
                        for x in (float(lo), float(hi))
                    )
                ):
                    continue
                if isinstance(f.dataType, DecimalType):
                    flo, fhi = float(lo), float(hi)
                    if Decimal(flo) > lo:
                        flo = math.nextafter(flo, -math.inf)
                    if Decimal(fhi) < hi:
                        fhi = math.nextafter(fhi, math.inf)
                    lo, hi = flo, fhi
                minv[f.name] = _stats_to_json_value(lo)
                maxv[f.name] = _stats_to_json_value(hi)
            out[rel] = json.dumps(
                {
                    "numRecords": int(r["__nr"]),
                    "minValues": minv,
                    "maxValues": maxv,
                    "nullCount": nullc,
                }
            )
        return out

    def _stage_adds(
        self,
        df: DataFrame,
        partition_by: list[str],
        data_change: bool = True,
        table_conf: dict | None = None,
        phys_map: dict[str, str] | None = None,
        generated: dict[str, str] | None = None,
    ) -> tuple[list[dict], str]:
        """Write ``df`` under a fresh staging directory and return
        ``(add actions, staging dir)`` (DECODED on-disk relative paths
        in the actions; encoding happens at commit serialization).
        Per the Delta protocol, partitionValues holds DECODED values
        (null for null), not the hive-escaped directory segment Spark
        wrote (e.g. 'x:y' escapes to 'x%3Ay' on disk, NULL to
        '__HIVE_DEFAULT_PARTITION__').  The staging dir is returned so
        CDF verbs can derive their change rows from the STAGED files
        (one evaluation of the input) instead of re-evaluating the
        caller's DataFrame — see :meth:`_read_staged`.

        ``phys_map`` (column-mapping tables): logical -> physical
        column names; the staged parquet carries PHYSICAL names and
        partitionValues/stats keys are physical, per spec.

        Declared CHECK constraints (``delta.constraints.*`` in
        ``table_conf``) are validated against the STAGED rows before
        any action is returned — a violation raises
        :class:`DeltaConstraintViolation` and nothing commits (the
        orphaned staging directory is vacuum fodder, same as any
        aborted write)."""
        logical_schema = df.schema
        if phys_map:
            from pyspark.sql import functions as F

            df = df.select(
                *[
                    F.col(c).alias(phys_map.get(c, c))
                    for c in df.columns
                ]
            )
            partition_by = [phys_map.get(c, c) for c in partition_by]
        stage = f"part-{uuid.uuid4().hex[:12]}"
        out = os.path.join(self.path, stage)
        writer = df.write.mode("errorifexists")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(out)

        adds = []
        now_ms = int(time.time() * 1000)
        for root, _dirs, files in os.walk(out):
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                full = os.path.join(root, f)
                rel = os.path.relpath(full, self.path)
                pvals: dict[str, str | None] = {}
                for seg in os.path.relpath(root, out).split(os.sep):
                    if "=" in seg:
                        kcol, val = seg.split("=", 1)
                        pvals[kcol] = (
                            None
                            if val == "__HIVE_DEFAULT_PARTITION__"
                            else urllib.parse.unquote(val)
                        )
                adds.append(
                    {
                        "add": {
                            "path": rel.replace(os.sep, "/"),
                            "partitionValues": pvals,
                            "size": os.path.getsize(full),
                            "modificationTime": now_ms,
                            "dataChange": data_change,
                        }
                    }
                )
        stats_by_rel = self._compute_add_stats(
            df, out, partition_by, table_conf
        )
        for a in adds:
            s = stats_by_rel.get(a["add"]["path"])
            if s is not None:
                a["add"]["stats"] = s
        cons = {
            k[len("delta.constraints."):]: v
            for k, v in (table_conf or {}).items()
            if k.startswith("delta.constraints.")
        }
        gen = generated or {}
        if (cons or gen) and adds:
            from pyspark.sql import functions as F

            staged = self._read_staged(
                df.sparkSession, out, logical_schema, phys_map=phys_map
            )
            for cname in sorted(cons):
                expr = cons[cname]
                if (
                    staged.filter(
                        ~F.coalesce(F.expr(expr), F.lit(False))
                    )
                    .limit(1)
                    .count()
                ):
                    raise DeltaConstraintViolation(
                        f"CHECK constraint {cname!r} ({expr}) is "
                        "violated by rows this write would add — "
                        "nothing was committed"
                    )
            for col in sorted(gen):
                # generated columns are implicit constraints: the
                # stored value must null-safe-equal its expression
                # (delta-spark recomputes on UPDATE; this writer
                # REFUSES contradictory values instead of drifting)
                if (
                    staged.filter(
                        ~F.expr(f"`{col}` <=> ({gen[col]})")
                    )
                    .limit(1)
                    .count()
                ):
                    raise DeltaConstraintViolation(
                        f"generated column {col!r} disagrees with its "
                        f"generation expression ({gen[col]}) in rows "
                        "this write would add — nothing was committed"
                    )
        return adds, out

    @staticmethod
    def _write_phys_map(meta: dict) -> dict[str, str] | None:
        """logical -> physical top-level column map for STAGING writes
        on a column-mapping table (files carry physical names per
        spec); None when the table is unmapped."""
        conf = meta.get("configuration") or {}
        if conf.get("delta.columnMapping.mode", "none") == "none":
            return None
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(json.loads(meta["schemaString"]))
        return {
            f.name: (f.metadata or {}).get(
                "delta.columnMapping.physicalName", f.name
            )
            for f in schema.fields
        }

    @staticmethod
    def _identity_cols(meta: dict) -> dict[str, dict]:
        """{column: {start, step, high (None until first value),
        allow_explicit}} from the schema's delta.identity.* metadata
        (PROTOCOL.md "Identity Columns")."""
        out: dict[str, dict] = {}
        schema_s = meta.get("schemaString")
        if not schema_s or "delta.identity." not in schema_s:
            return out
        for f in json.loads(schema_s).get("fields", []):
            md = f.get("metadata") or {}
            if "delta.identity.start" not in md:
                continue
            hw = md.get("delta.identity.highWaterMark")
            out[f["name"]] = {
                "start": int(md["delta.identity.start"]),
                "step": int(md.get("delta.identity.step", 1)),
                "high": int(hw) if hw is not None else None,
                "allow_explicit": bool(
                    md.get("delta.identity.allowExplicitInsert", False)
                ),
            }
        return out

    @staticmethod
    def _schema_with_high_water(schema_s: str, marks: dict[str, int]) -> str:
        """schemaString with delta.identity.highWaterMark advanced for
        the given columns."""
        schema = json.loads(schema_s)
        for f in schema.get("fields", []):
            if f["name"] in marks:
                md = dict(f.get("metadata") or {})
                md["delta.identity.highWaterMark"] = int(
                    marks[f["name"]]
                )
                f["metadata"] = md
        return json.dumps(schema)

    @staticmethod
    def _generated_exprs(meta: dict) -> dict[str, str]:
        """{column: generation expression} from the schema's
        delta.generationExpression metadata (PROTOCOL.md "Generated
        Columns"); empty when none are declared."""
        out: dict[str, str] = {}
        schema_s = meta.get("schemaString")
        if not schema_s or "delta.generationExpression" not in schema_s:
            return out
        for f in json.loads(schema_s).get("fields", []):
            ge = (f.get("metadata") or {}).get(
                "delta.generationExpression"
            )
            if ge is not None:
                out[f["name"]] = str(ge)
        return out

    @staticmethod
    def _cdf_enabled(meta: dict) -> bool:
        return (
            (meta.get("configuration") or {}).get(
                "delta.enableChangeDataFeed"
            )
            == "true"
        )

    def _stage_cdc(
        self,
        df: DataFrame,
        partition_by: list[str],
        phys_map: dict[str, str] | None = None,
    ) -> tuple[list[dict], str]:
        """Write change rows (table columns + ``_change_type``) under
        ``_change_data/`` and return ``(cdc actions, staging dir)``
        (the spec's AddCDCFile: path, partitionValues, size).  Change files mirror
        the table's hive partitioning so delta-spark's CDF reader
        resolves partition columns the same way it does for data
        files.  When a commit carries cdc actions, CDF readers use
        THEM exclusively for that commit — add/remove files are
        ignored for change computation — which is why mutating verbs
        must write the complete change set.  ``phys_map``: change
        files on column-mapping tables carry PHYSICAL names too."""
        if phys_map:
            from pyspark.sql import functions as F

            df = df.select(
                *[
                    F.col(c).alias(phys_map.get(c, c))
                    for c in df.columns
                ]
            )
            partition_by = [phys_map.get(c, c) for c in partition_by]
        stage = os.path.join("_change_data", f"cdc-{uuid.uuid4().hex[:12]}")
        out = os.path.join(self.path, stage)
        writer = df.write.mode("errorifexists")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(out)
        actions = []
        for root, _dirs, files in os.walk(out):
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                full = os.path.join(root, f)
                rel = os.path.relpath(full, self.path)
                pvals: dict[str, str | None] = {}
                for seg in os.path.relpath(root, out).split(os.sep):
                    if "=" in seg:
                        kcol, val = seg.split("=", 1)
                        pvals[kcol] = (
                            None
                            if val == "__HIVE_DEFAULT_PARTITION__"
                            else urllib.parse.unquote(val)
                        )
                actions.append(
                    {
                        "cdc": {
                            "path": rel.replace(os.sep, "/"),
                            "partitionValues": pvals,
                            "size": os.path.getsize(full),
                            "dataChange": False,
                        }
                    }
                )
        return actions, out

    @staticmethod
    def _read_staged(
        spark: SparkSession,
        stage_dir: str,
        schema,
        phys_map: dict[str, str] | None = None,
    ) -> DataFrame:
        """Read a staging directory (written by :meth:`_stage_adds` /
        :meth:`_stage_cdc`) back as a DataFrame with ``schema`` —
        hive-partition columns are restored by Spark's own partition
        discovery (``basePath``), the exact inverse of the partitioned
        write.  This is the single-evaluation seam for CDF: once an
        input has been staged to durable files, every other frame the
        commit needs (change rows, rewrite rows) is derived from THOSE
        files, so a non-deterministic input (rand(), a re-read of a
        mutating source) can never make the data files and the change
        files disagree.  ``phys_map``: staged files on column-mapping
        tables carry PHYSICAL names — read them physically, surface
        logically (a logical-schema read would silently yield NULLs)."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructField, StructType

        if phys_map:
            phys_schema = StructType(
                [
                    StructField(
                        phys_map.get(f.name, f.name), f.dataType,
                        f.nullable,
                    )
                    for f in schema.fields
                ]
            )
            return (
                spark.read.schema(phys_schema)
                .option("basePath", stage_dir)
                .parquet(stage_dir)
                .select(
                    *[
                        F.col(phys_map.get(f.name, f.name)).alias(f.name)
                        for f in schema.fields
                    ]
                )
            )
        return spark.read.schema(schema).option(
            "basePath", stage_dir
        ).parquet(stage_dir).select(*schema.fieldNames())

    @staticmethod
    def _proto_with_cdf(proto: dict) -> dict:
        """Upgrade a protocol action to advertise changeDataFeed (the
        writer feature CDF commits require), preserving what the old
        version implied — the _proto_with_dv pattern."""
        mwv = proto.get("minWriterVersion", 2)
        if mwv >= 7:
            wf = set(proto.get("writerFeatures") or ())
            if "changeDataFeed" in wf:
                return proto
            return {**proto, "writerFeatures": sorted(wf | {"changeDataFeed"})}
        if mwv >= 4:  # legacy v4+ implies changeDataFeed
            return proto
        return {
            "minReaderVersion": proto.get("minReaderVersion", 1),
            "minWriterVersion": 4,
        }

    @staticmethod
    def _live_key(ap: str, root: str) -> tuple[str, str]:
        """Both spellings a scanned absolute path may have in the log:
        its table-relative form (normal adds) and its absolute form
        (shallow-CLONE adds reference the source's files by absolute
        path).  Callers try relative first, then absolute."""
        return (
            os.path.relpath(ap, root).replace(os.sep, "/"),
            ap.replace(os.sep, "/"),
        )

    @staticmethod
    def _encoded_action(a: dict) -> dict:
        """Copy of an action with its file path URL-encoded for the
        log (spec: add/remove/cdc paths are URL-encoded; in-memory
        state is decoded)."""
        for kind in ("add", "remove", "cdc"):
            if kind in a:
                inner = dict(a[kind])
                inner["path"] = _encode_path(inner["path"])
                return {**a, kind: inner}
        return a

    def _commit(
        self,
        actions: list[dict],
        version: int,
        *,
        stale_sensitive: bool,
        computed_against,
        op_desc: str,
    ) -> int:
        """PUT-IF-ABSENT commit (the LogStore contract).  A lost race
        is only retryable when the action list does not depend on the
        snapshot it was computed from: a pure APPEND adds files and
        read nothing, so it may take the next slot.  Snapshot-derived
        commits (overwrite/DELETE/MERGE/OPTIMIZE/RESTORE, first
        commit's protocol/metaData) abort loudly instead — committing
        them one slot later would silently miss the intervening
        commit's files, the same conflict Delta raises on a concurrent
        MERGE."""
        from data_lakehouse_platform_spark.sources.commit_backend import (
            ConcurrentModificationError,
        )

        os.makedirs(self.log_dir, exist_ok=True)
        payload = (
            "".join(
                json.dumps(self._encoded_action(a)) + "\n" for a in actions
            )
        ).encode()
        while True:
            target = os.path.join(self.log_dir, f"{version:020d}.json")
            if self.commit_backend.put_if_absent(target, payload):
                return version
            if stale_sensitive:
                raise ConcurrentModificationError(
                    f"version {version} was committed concurrently; "
                    f"this {op_desc} was computed against version "
                    f"{computed_against} — re-read and retry"
                )
            version += 1

    def _cow_snapshot(self, spark: SparkSession) -> _CowSnapshot:
        """Open the latest version for a copy-on-write verb
        (:meth:`merge`, :meth:`update`, :meth:`_delete_rewrite`)."""
        latest = self.latest_version()
        if latest is None:
            raise FileNotFoundError(f"no Delta log at {self.log_dir}")
        meta, live, proto = self._replay(latest)
        self._check_write_protocol(meta, proto, "mutate")
        current = self.read(spark, version=latest, _with_position=True)
        data_cols = [
            c for c in current.columns
            if c not in ("__dv_path", "__dv_ridx")
        ]
        return _CowSnapshot(latest, meta, live, proto, current, data_cols)

    def _touched_files(self, located: DataFrame, live: dict) -> set[str]:
        """Live log keys of the data files holding ``located``'s rows
        (a ``_with_position`` read, so each row names its file in
        ``__dv_path``).  Only file PATHS reach the driver: the collect
        is bounded by file count (log-sized metadata), never row
        count."""
        root = os.path.abspath(self.path)
        rels = set()
        for r in located.select("__dv_path").distinct().collect():
            rel, absk = self._live_key(
                urllib.parse.unquote(r["__dv_path"]), root
            )
            rels.add(rel if rel in live else absk)
        missing = sorted(rels - live.keys())
        if missing:
            raise DeltaProtocolError(
                f"matched file {missing[0]} is not in the snapshot"
            )
        return rels

    def _commit_rewrite(
        self,
        snap: _CowSnapshot,
        operation: str,
        params: dict,
        removed: set[str],
        rewrite: DataFrame,
        cdc_acts: list[dict] | None,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """Stage ``rewrite`` as the new data files and commit ONE
        copy-on-write version on top of ``snap``: commitInfo, then —
        when ``cdc_acts`` is given — the changeDataFeed protocol bump
        and the change files, a ``remove`` per replaced file, the
        optional ``txn`` stamp, and the ``add``s.  The commit is
        stale-sensitive: the remove list was computed against
        ``snap.version``, so a lost race aborts (see :meth:`_commit`)."""
        meta, proto = snap.meta, snap.proto
        adds, _stage_dir = self._stage_adds(
            rewrite, meta.get("partitionColumns", []),
            table_conf=meta.get("configuration"),
            phys_map=self._write_phys_map(meta),
            generated=self._generated_exprs(meta),
        )
        now_ms = int(time.time() * 1000)
        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": operation,
                    "operationParameters": params,
                    "engineInfo": "delta-lite/0.1 (protocol v1)",
                }
            }
        ]
        if cdc_acts is not None:
            new_proto = self._proto_with_cdf(proto)
            if new_proto != proto:
                actions.append({"protocol": new_proto})
            actions.extend(cdc_acts)
        for rel in sorted(removed):
            actions.append(
                {
                    "remove": {
                        "path": rel,
                        "deletionTimestamp": now_ms,
                        "dataChange": True,
                    }
                }
            )
        if txn is not None:
            app_id, app_version = txn
            actions.append(
                {
                    "txn": {
                        "appId": str(app_id),
                        "version": int(app_version),
                        "lastUpdated": now_ms,
                    }
                }
            )
        actions.extend(adds)
        return self._commit(
            actions,
            snap.version + 1,
            stale_sensitive=True,
            computed_against=snap.version,
            op_desc=operation,
        )

    def write(
        self,
        df: DataFrame,
        mode: str = "append",
        partition_by: list[str] | None = None,
        txn: tuple[str, int] | None = None,
        operation: str = "WRITE",
        operation_params: dict | None = None,
        merge_schema: bool = False,
        configuration: dict[str, str] | None = None,
        generated_columns: dict[str, tuple[str, str]] | None = None,
        identity_columns: dict[str, tuple[int, int]] | None = None,
    ) -> int:
        """Commit ``df`` as the next Delta version (``append`` keeps
        prior files; ``overwrite`` removes them in the same commit —
        Delta's ReplaceTable-as-one-atomic-version). Data files are
        written to a staging directory first, then referenced by
        relative path from the commit, so readers never observe a
        half-written version.

        ``txn=(app_id, version)`` stamps the commit with the Delta
        ``txn`` action (the spec's application-transaction marker):
        an idempotent writer (streaming sink) checks
        :meth:`txn_versions` before committing, so a replayed
        micro-batch cannot double-commit — the same appId/version
        scheme delta-spark's streaming sink uses.

        ``operation``/``operation_params`` let composite verbs (MERGE)
        stamp the correct commitInfo AT COMMIT TIME — never by
        rewriting an already-committed log file, which would break the
        put-if-absent immutability readers rely on.

        ``identity_columns`` (table CREATION only):
        ``{name: (start, step)}`` with step > 0 — a BIGINT column the
        writer allocates: this first write and every later append
        missing the column get monotonically increasing values past
        the high-water mark (sparse, like delta-spark's per-task
        ranges: uniqueness and monotonicity are guaranteed, contiguity
        is not), and the SAME commit re-emits metaData with
        ``delta.identity.highWaterMark`` advanced.  Explicit values
        are refused (GENERATED ALWAYS; allowExplicitInsert=false).

        ``generated_columns`` (table CREATION only, like delta-spark):
        ``{name: (ddl_type, sql_expr)}`` — the columns are computed
        onto this first write and stamped into the schema as
        ``delta.generationExpression`` metadata.  On APPENDS to a
        table declaring generated columns, a missing generated column
        is computed from its expression; a provided one is validated
        against it at staging (every verb validates — a contradictory
        value raises instead of committing drift)."""
        from pyspark.sql import functions as F

        if mode not in ("append", "overwrite"):
            raise ValueError(f"mode must be append|overwrite, got {mode!r}")
        latest = self.latest_version()
        first = latest is None
        if configuration is not None and not first:
            raise ValueError(
                "configuration is a table-creation option; the table "
                "already exists"
            )
        if generated_columns is not None and not first:
            raise ValueError(
                "generated_columns is a table-creation option (Delta "
                "declares them at CREATE); the table already exists"
            )
        if identity_columns is not None and not first:
            raise ValueError(
                "identity_columns is a table-creation option (Delta "
                "declares them at CREATE); the table already exists"
            )
        ident_spec: dict[str, tuple[int, int]] = {}
        pinned = False
        if first and identity_columns:
            for iname, (istart, istep) in identity_columns.items():
                if istep <= 0:
                    raise ValueError(
                        f"identity column {iname!r}: step must be > 0"
                    )
                if iname in df.columns:
                    raise ValueError(
                        f"identity column {iname!r} must not be in "
                        "the DataFrame — it is GENERATED ALWAYS"
                    )
                df = df.withColumn(
                    iname,
                    (
                        F.lit(int(istart))
                        + F.lit(int(istep))
                        * F.monotonically_increasing_id()
                    ).cast("long"),
                )
                ident_spec[iname] = (int(istart), int(istep))
        gen_meta: dict[str, str] = {}
        if first and generated_columns:
            for gname, (gtype, gexpr) in generated_columns.items():
                if gname in df.columns:
                    raise ValueError(
                        f"generated column {gname!r} must not be in "
                        "the DataFrame — it is computed"
                    )
                df = df.withColumn(
                    gname, F.expr(gexpr).cast(gtype)
                )
                gen_meta[gname] = gexpr
        if not first:
            meta, live, _proto = self._replay(latest)
            self._check_write_protocol(
                meta, _proto,
                "append" if mode == "append" else "mutate",
            )
            prev_part = meta.get("partitionColumns", [])
            if partition_by is not None and list(partition_by) != list(prev_part):
                raise ValueError(
                    f"partition spec {partition_by} != table's {prev_part}"
                )
            partition_by = list(prev_part)
            existing_schema = meta.get("schemaString")
            evolved_meta = None
            gexprs = self._generated_exprs(meta)
            if gexprs and existing_schema:
                from pyspark.sql.types import StructType as _GST

                tbl_fields = _GST.fromJson(
                    json.loads(existing_schema)
                ).fields
                ttypes = {f.name: f.dataType for f in tbl_fields}
                for gname in sorted(gexprs):
                    if gname not in df.columns and gname in ttypes:
                        df = df.withColumn(
                            gname,
                            F.expr(gexprs[gname]).cast(ttypes[gname]),
                        )
                if set(df.columns) == {f.name for f in tbl_fields}:
                    df = df.select(*[f.name for f in tbl_fields])
            idents = self._identity_cols(meta)
            if idents and existing_schema:
                from pyspark.sql.types import StructType as _IST

                tbl_names = [
                    f.name
                    for f in _IST.fromJson(
                        json.loads(existing_schema)
                    ).fields
                ]
                for iname in sorted(idents):
                    spec = idents[iname]
                    if iname in df.columns:
                        if not spec["allow_explicit"]:
                            raise ValueError(
                                f"identity column {iname!r} is "
                                "GENERATED ALWAYS — remove it from "
                                "the DataFrame"
                            )
                        continue
                    base = (
                        spec["high"]
                        if spec["high"] is not None
                        else spec["start"] - spec["step"]
                    )
                    df = df.withColumn(
                        iname,
                        (
                            F.lit(int(base))
                            + F.lit(int(spec["step"]))
                            * (1 + F.monotonically_increasing_id())
                        ).cast("long"),
                    )
                if set(df.columns) == set(tbl_names):
                    df = df.select(*tbl_names)
            # Compare by (name, type) shape, not raw JSON: a column-
            # mapping table's schemaString carries physicalName/id
            # metadata the caller's plain DataFrame never has.
            if existing_schema:
                from pyspark.sql.types import StructType as _ST

                cur_shape = [
                    (f.name, f.dataType)
                    for f in _ST.fromJson(
                        json.loads(existing_schema)
                    ).fields
                ]
                same_shape = cur_shape == [
                    (f.name, f.dataType) for f in df.schema.fields
                ]
            else:
                same_shape = True
            if existing_schema and not same_shape:
                if not merge_schema:
                    raise ValueError(
                        "schema differs from table schema; Delta-lite "
                        "does not evolve schemas implicitly — pass "
                        "merge_schema=True (Delta's mergeSchema) or "
                        "align the DataFrame first"
                    )
                if self._write_phys_map(meta) is not None:
                    raise ValueError(
                        "mergeSchema on a column-mapping table would "
                        "append fields without columnMapping ids — "
                        "use add_column() instead"
                    )
                # mergeSchema: union of the table schema and the
                # DataFrame schema — NEW columns append; a same-name
                # column must keep its type (no widening/narrowing
                # here, that is a protocol feature this writer refuses)
                from pyspark.sql.types import StructType

                cur_fields = StructType.fromJson(
                    json.loads(existing_schema)
                ).fields
                cur_types = {f.name: f.dataType for f in cur_fields}
                new_fields = list(cur_fields)
                for f in df.schema.fields:
                    if f.name not in cur_types:
                        new_fields.append(f)
                    elif cur_types[f.name] != f.dataType:
                        raise ValueError(
                            f"column {f.name!r}: type "
                            f"{f.dataType.simpleString()} conflicts "
                            f"with the table's "
                            f"{cur_types[f.name].simpleString()} — "
                            "mergeSchema only ADDS columns"
                        )
                merged = StructType(new_fields)
                if merged.json() != existing_schema:
                    evolved_meta = dict(meta)
                    evolved_meta["schemaString"] = merged.json()
        else:
            partition_by = list(partition_by or [])
            live = {}
            evolved_meta = None

        # Stage data under a unique directory; commit references the
        # files by relative path (URL-encoded at serialization per the
        # spec — see _encoded_action).
        tconf = (
            {str(k): str(v) for k, v in (configuration or {}).items()}
            if first
            else (meta.get("configuration") or {})
        )
        if first and tconf.get("delta.columnMapping.mode", "none") != "none":
            raise ValueError(
                "create the table unmapped, then call "
                "upgrade_column_mapping() — creation-time column "
                "mapping would need physicalName annotations this "
                "writer assigns during the upgrade commit"
            )
        pmap = None if first else self._write_phys_map(meta)
        id_written = sorted(
            (
                set(ident_spec)
                if first
                else set(self._identity_cols(meta))
            )
            & set(df.columns)
        )
        if id_written:
            # identity values ride monotonically_increasing_id — pin
            # ONE evaluation before staging (lineage truncated: block
            # loss fails loudly instead of silently re-allocating)
            df = df.localCheckpoint(eager=True)
        adds, stage_dir = self._stage_adds(
            df, partition_by, table_conf=tconf, phys_map=pmap,
            generated=(gen_meta if first else self._generated_exprs(meta)),
        )
        id_marks: dict[str, int] = {}
        if id_written and adds:
            staged_rows = self._read_staged(
                df.sparkSession, stage_dir, df.schema, phys_map=pmap
            )
            row0 = staged_rows.agg(
                *[F.max(c).alias(c) for c in id_written]
            ).collect()[0]
            prior = {} if first else self._identity_cols(meta)
            for c in id_written:
                mx = row0[c]
                if mx is None:
                    continue
                old_h = (prior.get(c) or {}).get("high")
                if old_h is None or int(mx) > int(old_h):
                    id_marks[c] = int(mx)
        now_ms = int(time.time() * 1000)

        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": operation,
                    "operationParameters": (
                        {"mode": mode.upper()}
                        if operation_params is None
                        else operation_params
                    ),
                    "engineInfo": "delta-lite/0.1 (protocol v1)",
                }
            }
        ]
        if first:
            conf0 = {
                str(k): str(v) for k, v in (configuration or {}).items()
            }
            proto0 = {"minReaderVersion": 1, "minWriterVersion": 2}
            if gen_meta:
                # legacy writer v4 implies generatedColumns (spec)
                proto0 = {"minReaderVersion": 1, "minWriterVersion": 4}
            if ident_spec:
                # legacy writer v6 implies identityColumns (spec)
                proto0 = {"minReaderVersion": 1, "minWriterVersion": 6}
            if conf0.get("delta.enableChangeDataFeed") == "true":
                # CDF requires the changeDataFeed writer feature;
                # legacy v4 implies it (delta-spark stamps the same)
                proto0 = self._proto_with_cdf(proto0)
            actions.append({"protocol": proto0})
            schema_json = json.loads(df.schema.json())
            for f_ in schema_json.get("fields", []):
                if f_["name"] in gen_meta:
                    md = dict(f_.get("metadata") or {})
                    md["delta.generationExpression"] = gen_meta[
                        f_["name"]
                    ]
                    f_["metadata"] = md
                if f_["name"] in ident_spec:
                    istart, istep = ident_spec[f_["name"]]
                    md = dict(f_.get("metadata") or {})
                    md["delta.identity.start"] = istart
                    md["delta.identity.step"] = istep
                    md["delta.identity.allowExplicitInsert"] = False
                    if f_["name"] in id_marks:
                        md["delta.identity.highWaterMark"] = id_marks[
                            f_["name"]
                        ]
                    f_["metadata"] = md
            id_marks = {}  # folded into the creation schema above
            actions.append(
                {
                    "metaData": {
                        "id": str(uuid.uuid4()),
                        "format": {"provider": "parquet", "options": {}},
                        "schemaString": json.dumps(schema_json),
                        "partitionColumns": partition_by,
                        "configuration": conf0,
                        "createdTime": now_ms,
                    }
                }
            )
        elif evolved_meta is not None or id_marks:
            # mergeSchema evolution and/or identity high-water advance:
            # the commit re-emits metaData (delta-spark records both
            # the same way)
            out_meta = dict(
                evolved_meta if evolved_meta is not None else meta
            )
            if id_marks:
                out_meta["schemaString"] = self._schema_with_high_water(
                    out_meta["schemaString"], id_marks
                )
            actions.append({"metaData": out_meta})
        if mode == "overwrite":
            for pth in sorted(live):
                actions.append(
                    {
                        "remove": {
                            "path": pth,
                            "deletionTimestamp": now_ms,
                            "dataChange": True,
                        }
                    }
                )
            if not first and live and self._cdf_enabled(meta):
                # a commit with BOTH adds and removes is not
                # CDF-inferable — write the full change set: every old
                # row deletes, every new row inserts.  The insert side
                # is read back from the files _stage_adds just wrote
                # (NOT from `df` again): a non-deterministic input
                # must not produce change rows that disagree with the
                # committed data files.
                from pyspark.sql import functions as F

                old_rows = self.read(df.sparkSession, version=latest)
                new_rows = self._read_staged(
                    df.sparkSession, stage_dir, df.schema,
                    phys_map=pmap,
                )
                change = old_rows.withColumn(
                    "_change_type", F.lit("delete")
                ).unionByName(
                    new_rows.withColumn("_change_type", F.lit("insert")),
                    allowMissingColumns=True,
                )
                cdc_acts, _cdc_dir = self._stage_cdc(
                    change, partition_by, phys_map=pmap
                )
                actions.extend(cdc_acts)
        if txn is not None:
            app_id, app_version = txn
            actions.append(
                {
                    "txn": {
                        "appId": str(app_id),
                        "version": int(app_version),
                        "lastUpdated": now_ms,
                    }
                }
            )
        actions.extend(adds)

        # An OVERWRITE's remove list (and a first commit's protocol/
        # metaData, and a schema-evolving metaData) were computed
        # against `latest`; a pure APPEND may retry onto the next
        # slot — see _commit.
        stale_sensitive = (
            (mode == "overwrite")
            or (latest is None)
            or (evolved_meta is not None)
            or bool(id_marks)
        )
        version = (latest or 0) + 1 if latest is not None else 0
        return self._commit(
            actions,
            version,
            stale_sensitive=stale_sensitive,
            computed_against=latest,
            op_desc=f"{mode or 'initial'} commit",
        )

    @classmethod
    def convert_from_parquet(cls, spark: SparkSession, path: str):
        """``CONVERT TO DELTA`` — adopt an EXISTING directory of plain
        parquet as a Delta table IN PLACE, zero copy: version 0 is one
        commit whose ``add`` actions reference the files where they
        already sit (relative paths, per the protocol), with schema
        from the parquet footers and numRecords stats so COUNT-style
        skipping works immediately.  The migration on-ramp delta-spark
        ships as ``CONVERT TO DELTA parquet.`path```; after it, the
        full verb set (append/DELETE/MERGE/OPTIMIZE/time travel)
        applies to data that was never rewritten.

        Refusals: an existing ``_delta_log`` (already a table — a
        second convert would fork history), hive-partition
        subdirectories (their partition values live in directory names
        a flat convert would silently drop — delta-spark requires an
        explicit partition schema for those, which this lite
        implementation does not take), and a directory with no parquet
        at all.  Returns the new :class:`DeltaLiteTable`.
        """
        import pyarrow.parquet as pq

        root = os.path.abspath(path)
        t = cls(root)
        if os.path.isdir(t.log_dir) and os.listdir(t.log_dir):
            raise DeltaProtocolError(
                f"{root} already has a _delta_log — it IS a Delta "
                "table; converting again would fork its history"
            )
        rels = []
        for dirpath, dirs, files in os.walk(root):
            if os.path.abspath(dirpath).startswith(
                os.path.abspath(t.log_dir)
            ):
                continue
            rel_dir = os.path.relpath(dirpath, root)
            if rel_dir != "." and any(
                "=" in part for part in rel_dir.split(os.sep)
            ):
                raise DeltaProtocolError(
                    f"hive-partition directory {rel_dir!r} found — its "
                    "partition values live in the directory name; "
                    "convert requires a partition schema this "
                    "implementation does not take (rewrite through "
                    "write(partition_by=...) instead)"
                )
            rels.extend(
                os.path.join("" if rel_dir == "." else rel_dir, f)
                for f in sorted(files)
                if f.endswith(".parquet")
            )
        if not rels:
            raise FileNotFoundError(f"no parquet files under {root}")
        # recursiveFileLookup: registration walks nested (non-hive)
        # subdirectories, so the committed schemaString must be
        # inferred over the SAME file set — a plain read may skip them
        df = spark.read.option("recursiveFileLookup", "true").parquet(root)
        now_ms = int(time.time() * 1000)
        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "CONVERT",
                    "operationParameters": {"numFiles": len(rels)},
                    "engineInfo": "delta-lite/0.1 (protocol v1)",
                }
            },
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {
                "metaData": {
                    "id": str(uuid.uuid4()),
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": df.schema.json(),
                    "partitionColumns": [],
                    "configuration": {},
                    "createdTime": now_ms,
                }
            },
        ]
        for rel in sorted(rels):
            full = os.path.join(root, rel)
            actions.append(
                {
                    "add": {
                        "path": rel.replace(os.sep, "/"),
                        "partitionValues": {},
                        "size": os.path.getsize(full),
                        "modificationTime": int(
                            os.path.getmtime(full) * 1000
                        ),
                        "dataChange": True,
                        "stats": json.dumps(
                            {
                                "numRecords": pq.read_metadata(
                                    full
                                ).num_rows
                            }
                        ),
                    }
                }
            )
        t._commit(
            actions,
            0,
            stale_sensitive=True,
            computed_against=None,
            op_desc="CONVERT TO DELTA",
        )
        return t

    @staticmethod
    def _proto_with_dv(proto: dict) -> dict:
        """Upgrade a protocol action to carry deletionVectors WITHOUT
        dropping what the old version implied: legacy reader/writer
        versions map to fixed feature sets per the spec's Table
        Features section, and those are preserved in the explicit
        feature lists of the upgraded v3/v7 protocol."""
        mrv = proto.get("minReaderVersion", 1)
        mwv = proto.get("minWriterVersion", 2)
        rf = set(
            proto.get("readerFeatures")
            or _LEGACY_READER_FEATURES.get(mrv, ())
        )
        wf = set(
            proto.get("writerFeatures")
            or _LEGACY_WRITER_FEATURES.get(mwv, ())
        )
        if (
            mrv >= 3
            and mwv >= 7
            and "deletionVectors" in rf
            and "deletionVectors" in wf
        ):
            return proto
        rf.add("deletionVectors")
        wf.add("deletionVectors")
        return {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": sorted(rf),
            "writerFeatures": sorted(wf),
        }

    def delete(
        self,
        spark: SparkSession,
        predicate: str,
        strategy: str = "auto",
    ) -> dict:
        """DELETE rows matching a SQL ``predicate``.

        ``strategy``:

        * ``"dv"`` — no data-file rewrites: matched (file, row-index)
          pairs fold into per-file deletion vectors (merged with any
          existing DV), the bitmaps land in one
          ``deletion_vector_<uuid>.bin``, and the commit remove+re-adds
          each touched file with the new descriptor — the modern Delta
          DELETE shape (reference gold flows rewrite whole partitions
          for this; gold_dim_products.py:118-131 merge semantics).
          First DV commit upgrades the protocol to reader v3/writer v7
          preserving implied legacy features.  Matches resolve
          driver-side, so this path is capped at ``MAX_DELETE_ROWS``
          (named :class:`DeleteTooLargeError` instead of a driver OOM).
        * ``"rewrite"`` — FILE-SCOPED copy-on-write: touched files are
          rewritten without the matching rows (the :meth:`update`
          machinery with a filter), fully distributed — the mass-delete
          path with no cap.
        * ``"auto"`` (default) — DV for surgical deletes, falling back
          to the rewrite path when the match count exceeds the DV cap.
        """
        import zlib

        if strategy not in ("auto", "dv", "rewrite"):
            raise ValueError(
                f"strategy must be auto|dv|rewrite, got {strategy!r}"
            )
        if strategy == "rewrite":
            return self._delete_rewrite(spark, predicate)
        if strategy == "auto":
            try:
                return self.delete(spark, predicate, strategy="dv")
            except DeleteTooLargeError:
                return self._delete_rewrite(spark, predicate)

        latest = self.latest_version()
        if latest is None:
            raise FileNotFoundError(f"no Delta log at {self.log_dir}")
        meta, live, proto = self._replay(latest)
        self._check_write_protocol(meta, proto, "mutate")
        rows = (
            # predicate= both filters AND stats-prunes the scan: a
            # surgical DELETE against a selective predicate reads only
            # the files whose min/max bounds can match.
            self.read(
                spark, version=latest, predicate=predicate,
                _with_position=True,
            )
            .select("__dv_path", "__dv_ridx")
            .limit(MAX_DELETE_ROWS + 1)
            .collect()
        )
        if len(rows) > MAX_DELETE_ROWS:
            raise DeleteTooLargeError(
                f"predicate matches more than {MAX_DELETE_ROWS:,} rows; "
                "deletion vectors are for surgical deletes — rewrite the "
                "touched files instead (delete(strategy='rewrite'), which "
                "the default 'auto' strategy falls back to)"
            )
        if not rows:
            return {"version": latest, "deleted_rows": 0, "files": 0}

        root = os.path.abspath(self.path)
        by_file: dict[str, set[int]] = {}
        for r in rows:
            ap = urllib.parse.unquote(r["__dv_path"])
            rel, absk = self._live_key(ap, root)
            key = rel if rel in live else absk
            by_file.setdefault(key, set()).add(int(r["__dv_ridx"]))
        for rel, ridxs in by_file.items():
            if rel not in live:
                raise DeltaProtocolError(
                    f"matched file {rel} is not in the snapshot"
                )
            old_dv = live[rel].get("deletionVector")
            if old_dv:  # grow, never shrink: union with prior deletes
                ridxs.update(self._dv_deleted_rows(old_dv))

        dv_uuid = uuid.uuid4()
        fname = f"deletion_vector_{dv_uuid}.bin"
        descriptors: dict[str, dict] = {}
        tmp = os.path.join(self.path, f".{fname}.tmp")
        with open(tmp, "wb") as fh:
            fh.write(b"\x01")  # DV file format version
            for rel in sorted(by_file):
                data = serialize_roaring_bitmap_array(by_file[rel])
                offset = fh.tell()
                fh.write(len(data).to_bytes(4, "big"))
                fh.write(data)
                fh.write(
                    (zlib.crc32(data) & 0xFFFFFFFF).to_bytes(4, "big")
                )
                descriptors[rel] = {
                    "storageType": "u",
                    "pathOrInlineDv": z85_encode(dv_uuid.bytes),
                    "offset": offset,
                    "sizeInBytes": len(data),
                    "cardinality": len(by_file[rel]),
                }
        os.replace(tmp, os.path.join(self.path, fname))

        now_ms = int(time.time() * 1000)
        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "DELETE",
                    "operationParameters": {"predicate": predicate},
                    "engineInfo": "delta-lite/0.1 (deletion vectors)",
                }
            }
        ]
        new_proto = self._proto_with_dv(proto)
        if self._cdf_enabled(meta):
            new_proto = self._proto_with_cdf(new_proto)
            from pyspark.sql import functions as F

            deleted_rows = (
                self.read(spark, version=latest, predicate=predicate)
                .withColumn("_change_type", F.lit("delete"))
            )
            cdc_actions, _cdc_dir = self._stage_cdc(
                deleted_rows, meta.get("partitionColumns", []),
                phys_map=self._write_phys_map(meta),
            )
        else:
            cdc_actions = []
        if new_proto != proto:
            actions.append({"protocol": new_proto})
        actions.extend(cdc_actions)
        for rel in sorted(by_file):
            actions.append(
                {
                    "remove": {
                        "path": rel,
                        "deletionTimestamp": now_ms,
                        "dataChange": True,
                    }
                }
            )
            new_add = dict(live[rel])
            new_add["deletionVector"] = descriptors[rel]
            new_add["modificationTime"] = now_ms
            new_add["dataChange"] = True
            actions.append({"add": new_add})

        # DELETE is computed against `latest` — a lost commit race
        # aborts (same stale-sensitive rule as overwrite).
        v = self._commit(
            actions,
            latest + 1,
            stale_sensitive=True,
            computed_against=latest,
            op_desc="DELETE",
        )
        return {
            "version": v,
            "deleted_rows": len(rows),
            "files": len(by_file),
        }

    def merge(
        self,
        spark: SparkSession,
        source: DataFrame,
        keys: list[str],
        txn: tuple[str, int] | None = None,
        matched_update_condition: str | None = None,
        matched_delete_condition: str | None = None,
    ) -> dict:
        """FILE-SCOPED copy-on-write MERGE: source rows matching on
        ``keys`` update the current rows, unmatched source rows
        insert — the reference's ``DeltaTable.merge``
        whenMatchedUpdate / whenNotMatchedInsert shape
        (gold_dim_products.py:118-131) as ONE atomic version.

        Keys match with ``=``, so a NULL key never matches (Delta's
        rule): a NULL-keyed source row inserts.  Every target row
        that matches a source row is a match of its own — two target
        rows sharing a key both update, as in delta-spark.

        Conditional clauses (delta-spark's optional conditions), both
        SQL predicates over two struct columns ``t`` (the current
        target row) and ``s`` (the matching source row), e.g.
        ``"s.val <> t.val"``; a NULL result means not-satisfied:

        * ``matched_delete_condition`` — whenMatchedDelete: matched
          target rows satisfying it are REMOVED (evaluated first,
          like a leading whenMatchedDelete clause);
        * ``matched_update_condition`` — whenMatchedUpdate(condition):
          remaining matched rows update only when it holds, else the
          target row is kept unchanged.  Default: update every match.

        There is one rewrite path: the touched rows join the source
        as ``(t, s)`` pairs, and the same join yields the CDF pre- and
        post-images.  Like real Delta's COW merge, only the data files
        that actually CONTAIN matched rows are rewritten: touched
        files are located by a ``_metadata.file_path`` semi-join on
        the merge keys, their rows are rewritten together with the
        inserts, and every untouched file's add action
        (deletion-vector descriptor included) stays live in the log
        untouched — a 100 TB fact upsert touching one partition
        rewrites that partition's files, not the table.  Duplicate
        keys in ``source`` are refused (delta-spark raises the same
        multiple-source-rows-matched error)."""
        from pyspark.sql import functions as F

        snap = self._cow_snapshot(spark)
        latest, meta, live, _proto, current, data_cols = snap
        # types too, like write(): a source column of another type
        # would commit files the table schema cannot read
        cur_types = {f.name: f.dataType for f in current.schema.fields}
        if sorted(source.columns) != sorted(data_cols) or any(
            f.dataType != cur_types[f.name] for f in source.schema.fields
        ):
            raise ValueError(
                "source schema differs from table schema; Delta-lite "
                "does not evolve schemas implicitly — align the "
                "DataFrame first"
            )
        cdf = self._cdf_enabled(meta)
        if cdf:
            # Pin ONE evaluation of the source (delta-spark's
            # materializeSource): the merge evaluates `source` several
            # times — the touched-file location pass, the rewrite, and
            # the CDF change frame — and a non-deterministic input
            # (rand(), a re-read of a mutating table) would otherwise
            # let the _change_data rows disagree with the committed
            # add files.  localCheckpoint truncates lineage, so a lost
            # block FAILS the job instead of silently recomputing
            # different rows; the blocks are source-sized and freed by
            # the ContextCleaner when the frame goes out of scope.
            source = source.localCheckpoint(eager=True)
        dup = (
            source.groupBy(*keys).count().filter(F.col("count") > 1)
        )
        if dup.limit(1).count() > 0:
            raise ValueError(
                f"source has duplicate keys on {keys}; MERGE requires "
                "at most one source row per target row"
            )
        # Touched files: every file holding >=1 matched row.
        touched_rels = self._touched_files(
            current.join(
                source.select(*keys).distinct(), on=keys, how="left_semi"
            ),
            live,
        )
        # Inserts: source rows matching NO target row (every match
        # lives in a touched file by construction).
        inserts = source.join(
            current.select(*keys), on=keys, how="left_anti"
        ).select(*data_cols)
        strict_ids = [
            c
            for c, sp in self._identity_cols(meta).items()
            if not sp["allow_explicit"]
        ]
        if strict_ids and inserts.limit(1).count() > 0:
            raise ValueError(
                f"table has GENERATED ALWAYS identity columns "
                f"{strict_ids}; MERGE inserts would write explicit "
                "values — write(mode='append') generates them instead"
            )
        rewrite = inserts
        changes = [(inserts, "insert")]
        if touched_rels:
            # Rewrite pass reads ONLY the touched files (targeted scan
            # via the log, not a full-snapshot read + filter): at
            # 100 TB the rewrite I/O is proportional to the files
            # being replaced, and only the match-location pass above
            # scans the table.  Matched pairs join as (t, s) structs
            # so the conditions read like delta-spark's ("s.x <> t.x").
            t = self.read(
                spark, version=latest, _only_paths=touched_rels
            ).select(F.struct(*data_cols).alias("t"))
            srows = source.select(F.struct(*data_cols).alias("s"))
            on = None
            for k in keys:
                c = F.col("t")[k] == F.col("s")[k]
                on = c if on is None else (on & c)
            joined = t.join(srows, on=on, how="left")
            matched = F.col("s").isNotNull()
            dele = matched & F.coalesce(
                F.expr(matched_delete_condition or "false"), F.lit(False)
            )
            upd = (
                matched
                & ~dele
                & F.coalesce(
                    F.expr(matched_update_condition or "true"),
                    F.lit(False),
                )
            )
            rewrite = (
                joined.filter(~dele)
                .select(
                    F.when(upd, F.col("s")).otherwise(F.col("t")).alias("r")
                )
                .select("r.*")
                .unionByName(inserts)
            )
            changes += [
                (joined.filter(dele).select("t.*"), "delete"),
                (joined.filter(upd).select("t.*"), "update_preimage"),
                (joined.filter(upd).select("s.*"), "update_postimage"),
            ]
        cdc_acts = None
        if cdf:
            change = functools.reduce(
                DataFrame.unionByName,
                [
                    rows.withColumn("_change_type", F.lit(kind))
                    for rows, kind in changes
                ],
            )
            cdc_acts, _cdc_dir = self._stage_cdc(
                change, meta.get("partitionColumns", []),
                phys_map=self._write_phys_map(meta),
            )
        v = self._commit_rewrite(
            snap, "MERGE", {"matchedPredicates": "update", "keys": keys},
            touched_rels, rewrite, cdc_acts, txn,
        )
        return {
            "version": v,
            "files_rewritten": len(touched_rels),
            "files_untouched": len(live) - len(touched_rels),
        }

    def _delete_rewrite(self, spark: SparkSession, predicate: str) -> dict:
        """Uncapped DELETE by file-scoped copy-on-write (see
        :meth:`delete` strategy="rewrite"): touched files rewritten
        WITHOUT the matching rows, untouched files (and their DVs)
        carried; a NULL predicate result keeps the row (SQL WHERE
        semantics).  All row movement stays distributed — nothing but
        file PATHS ever reaches the driver."""
        from pyspark.sql import functions as F

        snap = self._cow_snapshot(spark)
        latest, meta, live, _proto, _current, data_cols = snap
        touched_rels = self._touched_files(
            self.read(
                spark, version=latest, predicate=predicate,
                _with_position=True,
            ),
            live,
        )
        if not touched_rels:
            return {"version": latest, "deleted_rows": 0, "files": 0}
        touched_rows = self.read(
            spark, version=latest, _only_paths=touched_rels
        ).select(*data_cols)
        keep = ~F.coalesce(F.expr(predicate), F.lit(False))
        cdc_acts = None
        if self._cdf_enabled(meta):
            cdc_acts, _cdc_dir = self._stage_cdc(
                touched_rows.filter(~keep).withColumn(
                    "_change_type", F.lit("delete")
                ),
                meta.get("partitionColumns", []),
                phys_map=self._write_phys_map(meta),
            )
        v = self._commit_rewrite(
            snap, "DELETE", {"predicate": predicate, "strategy": "rewrite"},
            touched_rels, touched_rows.filter(keep), cdc_acts,
        )
        return {
            "version": v,
            "files": len(touched_rels),
            "deleted_rows": None,  # not counted: no driver-side rows
        }

    def update(
        self,
        spark: SparkSession,
        predicate: str,
        set: dict[str, str],
        txn: tuple[str, int] | None = None,
    ) -> dict:
        """FILE-SCOPED copy-on-write UPDATE — the Delta ``UPDATE tbl
        SET col = expr WHERE predicate`` verb.  ``set`` maps column
        names to SQL expressions evaluated per matching row (they may
        reference any column); non-matching rows in touched files are
        rewritten byte-identical, untouched files (and their deletion
        vectors) stay live in the log unchanged — same scoping as
        :meth:`merge`.  Assignments cast back to the column's declared
        type, so an UPDATE can never drift the table schema.  A NULL
        predicate result means not-matched (SQL WHERE semantics)."""
        from pyspark.sql import functions as F

        snap = self._cow_snapshot(spark)
        latest, meta, live, _proto, _current, data_cols = snap
        assignments = dict(set)  # param named for delta-spark parity
        unknown = sorted(assignments.keys() - {*data_cols})
        if unknown:
            raise ValueError(
                f"SET names unknown columns {unknown} "
                f"(have {sorted(data_cols)})"
            )
        touched_rels = self._touched_files(
            self.read(
                spark, version=latest, predicate=predicate,
                _with_position=True,
            ),
            live,
        )
        if not touched_rels:
            return {
                "version": latest,
                "files_rewritten": 0,
                "files_untouched": len(live),
            }
        # rewrite pass: targeted read of ONLY the touched files (see
        # merge() — the same file-scoped I/O bound)
        touched_rows = self.read(
            spark, version=latest, _only_paths=touched_rels
        ).select(*data_cols)
        hit = F.coalesce(F.expr(predicate), F.lit(False))
        types = {f.name: f.dataType for f in touched_rows.schema.fields}
        cdc_acts: list[dict] | None = None
        if self._cdf_enabled(meta):
            # CDF ordering: stage the change rows FIRST (this is the
            # single evaluation of the SET expressions), then derive
            # the rewritten data files from the STAGED postimages —
            # a non-deterministic assignment (rand(), current_
            # timestamp()) therefore cannot make the _change_data rows
            # disagree with the committed add files.  The predicate
            # itself must be deterministic (same contract as
            # delta-spark's COW update, which also evaluates it more
            # than once).
            from pyspark.sql.types import StringType, StructField, StructType

            pre = touched_rows.filter(hit).withColumn(
                "_change_type", F.lit("update_preimage")
            )
            post = (
                touched_rows.filter(hit)
                .select(
                    *[
                        (
                            F.expr(assignments[c]).cast(types[c]).alias(c)
                            if c in assignments
                            else F.col(c)
                        )
                        for c in data_cols
                    ]
                )
                .withColumn("_change_type", F.lit("update_postimage"))
            )
            cdc_acts, cdc_dir = self._stage_cdc(
                pre.unionByName(post), meta.get("partitionColumns", []),
                phys_map=self._write_phys_map(meta),
            )
            change_schema = StructType(
                list(touched_rows.schema.fields)
                + [StructField("_change_type", StringType())]
            )
            post_rb = (
                self._read_staged(
                    spark, cdc_dir, change_schema,
                    phys_map=self._write_phys_map(meta),
                )
                .filter(F.col("_change_type") == "update_postimage")
                .select(*data_cols)
            )
            rewrite = touched_rows.filter(~hit).unionByName(post_rb)
        else:
            rewrite = touched_rows.select(
                *[
                    (
                        F.when(hit, F.expr(assignments[c]).cast(types[c]))
                        .otherwise(F.col(c))
                        .alias(c)
                        if c in assignments
                        else F.col(c)
                    )
                    for c in data_cols
                ]
            )
        v = self._commit_rewrite(
            snap, "UPDATE", {"predicate": predicate}, touched_rels,
            rewrite, cdc_acts, txn,
        )
        return {
            "version": v,
            "files_rewritten": len(touched_rels),
            "files_untouched": len(live) - len(touched_rels),
        }

    def optimize(
        self,
        spark: SparkSession,
        target_file_bytes: int = 128 << 20,
        zorder_by: list[str] | None = None,
    ) -> dict:
        """OPTIMIZE (bin-packing compaction): rewrite the current
        snapshot's files into ~``target_file_bytes`` outputs as one
        commit with ``dataChange: false`` adds (streaming readers of
        the log know no rows changed).  Deletion vectors are PURGED —
        deleted rows are physically dropped from the rewritten files,
        exactly what Delta's OPTIMIZE does for DV tables — so the
        table afterwards needs no DV support to read.  Old versions
        stay time-travelable until :meth:`vacuum`.

        ``zorder_by`` = Delta's ``OPTIMIZE ... ZORDER BY (cols)``:
        rows are laid out along the Morton interleave of the listed
        columns (sources/clustering.py — pure shift/or expressions, no
        UDF), so every rewritten file covers a compact hyper-rectangle
        of the value space and parquet footer min/max stats prune on
        ANY of the clustered columns.  On a hive-partitioned table the
        clustering applies within partitions (range keys lead with the
        partition columns), matching delta-spark's semantics."""
        latest = self.latest_version()
        if latest is None:
            raise FileNotFoundError(f"no Delta log at {self.log_dir}")
        meta, live, _proto = self._replay(latest)
        self._check_write_protocol(meta, _proto, "compact")
        total = sum(int(a.get("size") or 0) for a in live.values())
        n_out = max(1, -(-total // target_file_bytes))  # ceil division
        part = meta.get("partitionColumns", [])
        current = self.read(spark, version=latest)

        if zorder_by:
            from pyspark.sql import functions as F

            from data_lakehouse_platform_spark.sources.clustering import (
                zorder_key,
            )

            missing = [c for c in zorder_by if c not in current.columns]
            if missing:
                raise ValueError(
                    f"zorder_by columns {missing} not in the table"
                )
            keyed = zorder_key(current, list(zorder_by))
            range_cols = [F.col(c) for c in part] + [F.col("__zkey")]
            staged = (
                keyed.repartitionByRange(n_out, *range_cols)
                .sortWithinPartitions(*range_cols)
                .drop("__zkey")
            )
        else:
            staged = current.coalesce(n_out)
        adds, _stage_dir = self._stage_adds(
            staged, part, data_change=False,
            table_conf=meta.get("configuration"),
            phys_map=self._write_phys_map(meta),
            generated=self._generated_exprs(meta),
        )
        now_ms = int(time.time() * 1000)
        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "OPTIMIZE",
                    "operationParameters": {
                        "targetFileBytes": target_file_bytes,
                        **(
                            {"zOrderBy": list(zorder_by)}
                            if zorder_by
                            else {}
                        ),
                    },
                    "engineInfo": "delta-lite/0.1",
                }
            }
        ]
        for pth in sorted(live):
            actions.append(
                {
                    "remove": {
                        "path": pth,
                        "deletionTimestamp": now_ms,
                        "dataChange": False,
                    }
                }
            )
        actions.extend(adds)

        v = self._commit(
            actions,
            latest + 1,
            stale_sensitive=True,
            computed_against=latest,
            op_desc="OPTIMIZE",
        )
        return {
            "version": v,
            "files_before": len(live),
            "files_after": len(adds),
        }

    # -- restore / vacuum ------------------------------------------------

    def restore(self, version: int, spark: SparkSession | None = None) -> int:
        """Delta RESTORE: re-commit ``version``'s state as a NEW
        version (history preserved, nothing rewound) — removes files
        the current snapshot has that the target lacks, re-adds what
        the target has (including its deletion-vector descriptors, so
        restoring to a pre-DELETE version resurrects exactly the rows
        that version could see).  metaData is re-emitted when the
        target's differs; the protocol is never downgraded.

        On a CDF-enabled table a data-changing restore REQUIRES
        ``spark``: the change files (old-state deletes + target-state
        inserts, what delta-spark's RESTORE writes) can only be
        computed by reading both snapshots.  Committing a mixed
        add/remove version without cdc actions would silently poison
        every ``table_changes`` range containing it (CDF readers
        cannot infer mixed commits), so ``spark=None`` raises instead
        — the module's loud-refusal discipline.  A no-op restore
        (target state == current state) commits fine without spark."""
        latest = self.latest_version()
        if latest is None:
            raise FileNotFoundError(f"no Delta log at {self.log_dir}")
        if version not in self.all_versions():
            raise FileNotFoundError(
                f"version {version} not in log (have {self.all_versions()})"
            )
        meta_t, live_t, _proto_t = self._replay(version)
        meta_c, live_c, _proto_c = self._replay(latest)
        self._check_write_protocol(meta_c, _proto_c, "mutate")
        now_ms = int(time.time() * 1000)
        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "RESTORE",
                    "operationParameters": {"version": version},
                    "engineInfo": "delta-lite/0.1",
                }
            }
        ]
        if meta_t != meta_c:
            actions.append({"metaData": meta_t})
        for pth in sorted(set(live_c) - set(live_t)):
            actions.append(
                {
                    "remove": {
                        "path": pth,
                        "deletionTimestamp": now_ms,
                        "dataChange": True,
                    }
                }
            )
        for pth in sorted(live_t):
            if live_c.get(pth) != live_t[pth]:
                # absent in current, or present with a different DV —
                # remove-then-add swaps in the target's descriptor
                if pth in live_c:
                    actions.append(
                        {
                            "remove": {
                                "path": pth,
                                "deletionTimestamp": now_ms,
                                "dataChange": True,
                            }
                        }
                    )
                actions.append({"add": live_t[pth]})

        data_changing = any(
            ("remove" in a) or ("add" in a) for a in actions
        )
        if spark is None and data_changing and self._cdf_enabled(meta_c):
            raise DeltaProtocolError(
                "RESTORE on a delta.enableChangeDataFeed=true table "
                "changes data files, so it must write cdc actions — "
                "pass spark=... (a commit with mixed adds/removes and "
                "no cdc poisons every table_changes range covering it)"
            )
        if spark is not None and self._cdf_enabled(meta_c):
            from pyspark.sql import functions as F

            new_proto = self._proto_with_cdf(_proto_c)
            if new_proto != _proto_c:
                actions.append({"protocol": new_proto})
            cur_rows = self.read(spark, version=latest)
            tgt_rows = self.read(spark, version=version)
            if cur_rows.columns == tgt_rows.columns:
                change = (
                    cur_rows.exceptAll(tgt_rows)
                    .withColumn("_change_type", F.lit("delete"))
                    .unionByName(
                        tgt_rows.exceptAll(cur_rows).withColumn(
                            "_change_type", F.lit("insert")
                        )
                    )
                )
                cdc_acts, _cdc_dir = self._stage_cdc(
                    change, meta_c.get("partitionColumns", []),
                    phys_map=self._write_phys_map(meta_c),
                )
                actions.extend(cdc_acts)

        return self._commit(
            actions,
            latest + 1,
            stale_sensitive=True,
            computed_against=latest,
            op_desc="RESTORE",
        )

    # -- schema evolution (metadata-only commits) -----------------------
    #
    # Delta's rename/drop model (PROTOCOL.md "Column Mapping"): logical
    # names live only in schemaString metadata; data files address
    # columns by PHYSICAL name.  Upgrading assigns every field (all
    # nesting levels) a never-reused columnMapping.id and a
    # physicalName equal to its current name — existing plain-named
    # files keep reading.  rename_column then changes ONLY the logical
    # name; drop_column removes the field (files keep the bytes,
    # readers project them away); add_column assigns a fresh id and a
    # col-<uuid> physicalName so a re-added name can never collide with
    # dropped data.  Writes stage physical-name files via _stage_adds'
    # phys_map; reads already resolve physical -> logical.

    @staticmethod
    def _proto_with_cm(proto: dict) -> dict:
        """Protocol advertising columnMapping (reader 2 / writer 5
        legacy, or the feature names on v7 feature tables),
        preserving what the old version implied."""
        mrv = proto.get("minReaderVersion", 1)
        mwv = proto.get("minWriterVersion", 2)
        if mwv >= 7:
            wf = set(proto.get("writerFeatures") or ())
            out = dict(proto)
            out["writerFeatures"] = sorted(wf | {"columnMapping"})
            if mrv >= 3:
                rf = set(proto.get("readerFeatures") or ())
                out["readerFeatures"] = sorted(rf | {"columnMapping"})
            else:
                out["minReaderVersion"] = max(mrv, 2)
            return out
        return {
            "minReaderVersion": max(mrv, 2),
            "minWriterVersion": max(mwv, 5),
        }

    def _evolve_commit(
        self, latest: int, new_meta: dict, op: str, params: dict,
        new_proto: dict | None = None,
    ) -> int:
        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": int(time.time() * 1000),
                    "operation": op,
                    "operationParameters": params,
                    "engineInfo": "delta-lite/0.1 (column mapping)",
                }
            }
        ]
        if new_proto is not None:
            actions.append({"protocol": new_proto})
        actions.append({"metaData": new_meta})
        return self._commit(
            actions, latest + 1, stale_sensitive=True,
            computed_against=latest, op_desc=op,
        )

    def upgrade_column_mapping(self) -> int:
        """Upgrade the table to ``delta.columnMapping.mode = 'name'``
        — ONE metadata commit annotating every schema field (all
        nesting levels) with a columnMapping id + physicalName equal
        to its current name, stamping maxColumnId, and raising the
        protocol (reader 2 / writer 5, or feature names on v7).
        Existing data files keep reading (their column names ARE the
        physical names); this is the delta-spark upgrade shape and the
        prerequisite for :meth:`rename_column` / :meth:`drop_column`."""
        latest = self.latest_version()
        if latest is None:
            raise FileNotFoundError(f"no Delta log at {self.log_dir}")
        meta, _live, proto = self._replay(latest)
        self._check_write_protocol(meta, proto, "append")
        conf = dict(meta.get("configuration") or {})
        if conf.get("delta.columnMapping.mode", "none") != "none":
            raise ValueError("table already uses column mapping")
        schema = json.loads(meta["schemaString"])
        counter = {"n": 0}

        def annotate_struct(struct: dict) -> None:
            for f in struct.get("fields", []):
                md = dict(f.get("metadata") or {})
                counter["n"] += 1
                md["delta.columnMapping.id"] = counter["n"]
                md["delta.columnMapping.physicalName"] = f["name"]
                f["metadata"] = md
                annotate_type(f.get("type"))

        def annotate_type(t) -> None:
            if not isinstance(t, dict):
                return
            tt = t.get("type")
            if tt == "struct":
                annotate_struct(t)
            elif tt == "array":
                annotate_type(t.get("elementType"))
            elif tt == "map":
                annotate_type(t.get("keyType"))
                annotate_type(t.get("valueType"))

        annotate_struct(schema)
        conf["delta.columnMapping.mode"] = "name"
        conf["delta.columnMapping.maxColumnId"] = str(counter["n"])
        new_meta = {
            **meta,
            "schemaString": json.dumps(schema),
            "configuration": conf,
        }
        new_proto = self._proto_with_cm(proto)
        return self._evolve_commit(
            latest, new_meta,
            "UPGRADE COLUMN MAPPING",
            {"mode": "name"},
            new_proto if new_proto != proto else None,
        )

    def upgrade_v2_checkpoints(self) -> int:
        """Flip the table to the V2 checkpoint policy — delta-spark's
        ``ALTER TABLE ... SET TBLPROPERTIES('delta.checkpointPolicy' =
        'v2')`` shape: ONE commit raising the protocol to the feature
        form (reader 3 / writer 7) with ``v2Checkpoint`` in BOTH
        feature lists and stamping the policy in the table
        configuration.  From then on :meth:`checkpoint` writes the
        uuid-named manifest + sidecar layout instead of a classic
        single parquet (the feature contract the table now advertises
        to every engine)."""
        latest = self.latest_version()
        if latest is None:
            raise FileNotFoundError(f"no Delta log at {self.log_dir}")
        meta, _live, proto = self._replay(latest)
        self._check_write_protocol(meta, proto, "append")
        conf = dict(meta.get("configuration") or {})
        if conf.get("delta.checkpointPolicy", "classic") == "v2":
            raise ValueError("table already uses the v2 policy")
        conf["delta.checkpointPolicy"] = "v2"
        new_meta = {**meta, "configuration": conf}
        mrv = proto.get("minReaderVersion", 1)
        mwv = proto.get("minWriterVersion", 2)
        new_proto = dict(proto)
        new_proto["minReaderVersion"] = max(mrv, 3)
        new_proto["minWriterVersion"] = max(mwv, 7)
        # legacy numeric versions imply their whole feature set when
        # upgraded to v7 — spell the implied features out so no
        # capability is silently dropped by the upgrade
        implied_w = set(proto.get("writerFeatures") or ())
        implied_r = set(proto.get("readerFeatures") or ())
        if mwv < 7:
            if self._cdf_enabled(meta):
                implied_w.add("changeDataFeed")
            if (conf.get("delta.columnMapping.mode", "none")) != "none":
                implied_w.add("columnMapping")
                implied_r.add("columnMapping")
        new_proto["writerFeatures"] = sorted(implied_w | {"v2Checkpoint"})
        new_proto["readerFeatures"] = sorted(implied_r | {"v2Checkpoint"})
        return self._evolve_commit(
            latest, new_meta, "SET TBLPROPERTIES",
            {"properties": json.dumps(
                {"delta.checkpointPolicy": "v2"}
            )},
            new_proto,
        )

    def rename_column(self, old: str, new: str) -> int:
        """Rename a top-level column — metadata-only (the physicalName
        and id are untouched, so every existing data file keeps
        reading).  Requires column mapping; partition columns rename
        along with their metaData entry."""
        latest = self.latest_version()
        if latest is None:
            raise FileNotFoundError(f"no Delta log at {self.log_dir}")
        meta, _live, proto = self._replay(latest)
        self._check_write_protocol(meta, proto, "append")
        if self._write_phys_map(meta) is None:
            raise ValueError(
                "rename needs column mapping — call "
                "upgrade_column_mapping() first (Delta's own rule)"
            )
        schema = json.loads(meta["schemaString"])
        names = [f["name"] for f in schema["fields"]]
        if old not in names:
            raise ValueError(f"no column {old!r} (have {names})")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        for f in schema["fields"]:
            if f["name"] == old:
                f["name"] = new
        part = [
            new if c == old else c
            for c in meta.get("partitionColumns", [])
        ]
        new_meta = {
            **meta,
            "schemaString": json.dumps(schema),
            "partitionColumns": part,
        }
        return self._evolve_commit(
            latest, new_meta, "RENAME COLUMN",
            {"oldName": old, "newName": new},
        )

    def drop_column(self, name: str) -> int:
        """Drop a top-level column — metadata-only (data files keep
        the bytes; readers project them away).  Requires column
        mapping; partition columns and the last remaining column are
        refused."""
        latest = self.latest_version()
        if latest is None:
            raise FileNotFoundError(f"no Delta log at {self.log_dir}")
        meta, _live, proto = self._replay(latest)
        self._check_write_protocol(meta, proto, "append")
        if self._write_phys_map(meta) is None:
            raise ValueError(
                "drop needs column mapping — call "
                "upgrade_column_mapping() first (Delta's own rule)"
            )
        if name in meta.get("partitionColumns", []):
            raise ValueError(
                f"{name!r} is a partition column — repartition the "
                "table instead of dropping its key"
            )
        schema = json.loads(meta["schemaString"])
        names = [f["name"] for f in schema["fields"]]
        if name not in names:
            raise ValueError(f"no column {name!r} (have {names})")
        if len(names) == 1:
            raise ValueError("cannot drop the only column")
        schema["fields"] = [
            f for f in schema["fields"] if f["name"] != name
        ]
        new_meta = {**meta, "schemaString": json.dumps(schema)}
        return self._evolve_commit(
            latest, new_meta, "DROP COLUMNS", {"columns": [name]}
        )

    def add_column(self, name: str, ddl_type: str) -> int:
        """Append a nullable top-level column (reads NULL from every
        existing file).  On a column-mapping table the new field gets
        a fresh never-reused id and a ``col-<uuid>`` physicalName, so
        re-adding a dropped name can never resurrect old bytes."""
        from pyspark.sql.types import _parse_datatype_string

        latest = self.latest_version()
        if latest is None:
            raise FileNotFoundError(f"no Delta log at {self.log_dir}")
        meta, _live, proto = self._replay(latest)
        self._check_write_protocol(meta, proto, "append")
        dt = _parse_datatype_string(ddl_type)
        schema = json.loads(meta["schemaString"])
        names = [f["name"] for f in schema["fields"]]
        if name in names:
            raise ValueError(f"column {name!r} already exists")
        field = {
            "name": name,
            "type": json.loads(dt.json()),
            "nullable": True,
            "metadata": {},
        }
        conf = dict(meta.get("configuration") or {})
        mapped = conf.get("delta.columnMapping.mode", "none") != "none"
        if mapped:
            next_id = int(conf.get("delta.columnMapping.maxColumnId", 0)) + 1
            field["metadata"] = {
                "delta.columnMapping.id": next_id,
                "delta.columnMapping.physicalName": f"col-{uuid.uuid4()}",
            }
            conf["delta.columnMapping.maxColumnId"] = str(next_id)
        schema["fields"].append(field)
        new_meta = {
            **meta,
            "schemaString": json.dumps(schema),
            "configuration": conf,
        }
        return self._evolve_commit(
            latest, new_meta, "ADD COLUMNS",
            {"columns": [{"name": name, "type": ddl_type}]},
        )

    @staticmethod
    def _proto_with_check(proto: dict) -> dict:
        """Protocol advertising checkConstraints (legacy writer 3, or
        the feature name on v7 tables)."""
        mwv = proto.get("minWriterVersion", 2)
        if mwv >= 7:
            wf = set(proto.get("writerFeatures") or ())
            if "checkConstraints" in wf:
                return proto
            return {
                **proto,
                "writerFeatures": sorted(wf | {"checkConstraints"}),
            }
        if mwv >= 3:  # legacy v3+ implies checkConstraints
            return proto
        return {
            "minReaderVersion": proto.get("minReaderVersion", 1),
            "minWriterVersion": 3,
        }

    def add_constraint(
        self, spark: SparkSession, name: str, expr: str
    ) -> int:
        """ALTER TABLE ADD CONSTRAINT (CHECK): validates every
        EXISTING row first (delta-spark scans the same way), then
        commits ``delta.constraints.<name>`` with a protocol raised to
        checkConstraints.  Every later write validates its staged rows
        against the expression before committing."""
        name = name.strip().lower()
        if not re.fullmatch(r"[a-z][a-z0-9_]*", name):
            raise ValueError(
                f"constraint name {name!r} must be [a-z][a-z0-9_]*"
            )
        latest = self.latest_version()
        if latest is None:
            raise FileNotFoundError(f"no Delta log at {self.log_dir}")
        meta, _live, proto = self._replay(latest)
        self._check_write_protocol(meta, proto, "append")
        conf = dict(meta.get("configuration") or {})
        key = f"delta.constraints.{name}"
        if key in conf:
            raise ValueError(f"constraint {name!r} already exists")
        from pyspark.sql import functions as F

        if (
            self.read(spark, version=latest)
            .filter(~F.coalesce(F.expr(expr), F.lit(False)))
            .limit(1)
            .count()
        ):
            raise DeltaConstraintViolation(
                f"existing rows violate CHECK ({expr}) — constraint "
                "not added"
            )
        conf[key] = expr
        new_meta = {**meta, "configuration": conf}
        new_proto = self._proto_with_check(proto)
        return self._evolve_commit(
            latest, new_meta, "ADD CONSTRAINT",
            {"name": name, "expr": expr},
            new_proto if new_proto != proto else None,
        )

    def drop_constraint(self, name: str) -> int:
        """ALTER TABLE DROP CONSTRAINT — metadata-only commit."""
        latest = self.latest_version()
        if latest is None:
            raise FileNotFoundError(f"no Delta log at {self.log_dir}")
        meta, _live, proto = self._replay(latest)
        self._check_write_protocol(meta, proto, "append")
        conf = dict(meta.get("configuration") or {})
        key = f"delta.constraints.{name.strip().lower()}"
        if key not in conf:
            raise ValueError(f"no constraint {name!r}")
        conf.pop(key)
        new_meta = {**meta, "configuration": conf}
        return self._evolve_commit(
            latest, new_meta, "DROP CONSTRAINT", {"name": name}
        )

    def clone_to(
        self,
        target_path: str,
        version: int | None = None,
    ) -> "DeltaLiteTable":
        """SHALLOW CLONE (delta-spark's ``CREATE TABLE ... SHALLOW
        CLONE``): create a NEW table at ``target_path`` whose version-0
        commit references this table's data files by ABSOLUTE path —
        zero data copied, protocol/schema/configuration carried, stats
        and deletion vectors preserved (DV descriptors rewritten to
        absolute 'p' storage so they resolve from the clone).  The
        clone then evolves independently: its appends/rewrites stage
        files under ITS root, its mutating verbs resolve source files
        through the absolute add paths, and its VACUUM only ever walks
        the clone's own directory — the source's files are never
        deleted by the clone.  Time travel on the clone starts at its
        own version 0 (Delta's clone semantics)."""
        vs = self.all_versions()
        if not vs:
            raise FileNotFoundError(f"no Delta log at {self.log_dir}")
        v = vs[-1] if version is None else version
        meta, live, proto = self._replay(v)
        tgt = DeltaLiteTable(target_path)
        if tgt.latest_version() is not None:
            raise ValueError(
                f"target {target_path} already holds a Delta table"
            )
        now_ms = int(time.time() * 1000)
        actions: list[dict] = [
            {
                "commitInfo": {
                    "timestamp": now_ms,
                    "operation": "CLONE",
                    "operationParameters": {
                        "source": os.path.abspath(self.path),
                        "sourceVersion": v,
                    },
                    "engineInfo": "delta-lite/0.1 (shallow clone)",
                }
            },
            {"protocol": dict(proto)},
            {
                "metaData": {
                    **meta,
                    "id": str(uuid.uuid4()),
                    "createdTime": now_ms,
                }
            },
        ]
        for p in sorted(live):
            add = dict(live[p])
            add["path"] = os.path.abspath(
                os.path.join(self.path, p)
            ).replace(os.sep, "/")
            dv = add.get("deletionVector")
            if dv and dv.get("storageType") == "u":
                add["deletionVector"] = {
                    **dv,
                    "storageType": "p",
                    "pathOrInlineDv": os.path.abspath(
                        self._dv_file_path(dv)
                    ),
                }
            add["dataChange"] = True
            actions.append({"add": add})
        tgt._commit(
            actions, 0,
            stale_sensitive=True,
            computed_against=None,
            op_desc="CLONE",
        )
        return tgt

    def vacuum(self, retain_last: int = 1) -> list[str]:
        """Delta VACUUM: delete data files and DV ``.bin`` files not
        referenced by any of the last ``retain_last`` versions —
        including orphaned staging debris from crashed writers.  Time
        travel to a vacuumed version then FAILS LOUDLY on read
        (missing file), exactly Delta's retention trade-off; the log
        itself is untouched (that is :meth:`clean_log`'s job)."""
        if retain_last < 1:
            raise ValueError("retain_last must be >= 1")
        vs = self.all_versions()
        if not vs:
            raise FileNotFoundError(f"no Delta log at {self.log_dir}")
        referenced: set[str] = set()
        for v in vs[-retain_last:]:
            _meta, live, _proto = self._replay(v)
            for pth, a in live.items():
                referenced.add(os.path.abspath(os.path.join(self.path, pth)))
                dv = a.get("deletionVector")
                if dv and dv.get("storageType") in ("u", "p"):
                    referenced.add(
                        os.path.abspath(self._dv_file_path(dv))
                    )
            # change-data files of retained commits stay readable
            # (table_changes over the retained range); older cdc files
            # are vacuum-eligible like any unreferenced data file
            if os.path.exists(
                os.path.join(self.log_dir, f"{v:020d}.json")
            ):
                for a in self._actions(v):
                    if "cdc" in a:
                        referenced.add(
                            os.path.abspath(
                                os.path.join(
                                    self.path,
                                    _decode_path(a["cdc"]["path"]),
                                )
                            )
                        )
        removed: list[str] = []
        for root, dirs, files in os.walk(self.path):
            if os.path.abspath(root).startswith(
                os.path.abspath(self.log_dir)
            ):
                dirs[:] = []
                continue
            for f in files:
                full = os.path.abspath(os.path.join(root, f))
                is_data = f.endswith(".parquet") or (
                    f.startswith("deletion_vector_") and f.endswith(".bin")
                )
                if is_data and full not in referenced:
                    os.remove(full)
                    removed.append(full)
        # drop now-empty staging directories
        for root, dirs, files in os.walk(self.path, topdown=False):
            if (
                not dirs
                and not files
                and os.path.abspath(root)
                != os.path.abspath(self.path)
                and not os.path.abspath(root).startswith(
                    os.path.abspath(self.log_dir)
                )
            ):
                os.rmdir(root)
        return sorted(removed)

    def _dv_file_path(self, dv: dict) -> str:
        """Filesystem path of an on-disk DV descriptor ('u' or 'p')."""
        if dv["storageType"] == "p":
            return dv["pathOrInlineDv"]
        enc = dv["pathOrInlineDv"]
        prefix, uuid_z85 = enc[:-20], enc[-20:]
        dv_uuid = uuid.UUID(bytes=z85_decode(uuid_z85))
        fname = f"deletion_vector_{dv_uuid}.bin"
        return (
            os.path.join(self.path, prefix, fname)
            if prefix
            else os.path.join(self.path, fname)
        )

    # -- read -----------------------------------------------------------

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        as_of_ts_ms: int | None = None,
        predicate: str | None = None,
        _with_position: bool = False,
        _only_paths: set | None = None,
    ) -> DataFrame:
        """Snapshot read with optional time travel (``version`` or
        Delta's timestampAsOf in unix millis).  ``predicate`` (a SQL
        boolean expression) is BOTH a filter and a scan-pruning hint:
        files whose ``add.stats`` min/max bounds / partition values
        prove no row can match are dropped from the scan before Spark
        ever lists them (Delta's data skipping), and the predicate is
        then applied to the surviving rows, so the result is exact
        whether or not any file was skippable.  ``_with_position``
        (internal, used by :meth:`delete`) keeps the ``__dv_path`` /
        ``__dv_ridx`` file-coordinate columns on the result.
        ``_only_paths`` (internal, used by :meth:`merge` /
        :meth:`update`) restricts the scan to the given relative data
        file paths — the rewrite pass of a file-scoped operation reads
        ONLY the touched files instead of the whole snapshot."""
        if version is not None and as_of_ts_ms is not None:
            raise ValueError("pass version OR as_of_ts_ms, not both")
        vs = self.all_versions()
        if not vs:
            raise FileNotFoundError(f"no Delta log at {self.log_dir}")
        if as_of_ts_ms is not None:
            # commitInfo is OPTIONAL in the Delta protocol; when a
            # version (written by another engine) lacks it, fall back
            # to the log file's mtime — exactly what delta-spark does
            # for timestamp time travel.  A version whose JSON was
            # cleaned after checkpointing uses the checkpoint's mtime.
            cps = self._checkpoints()

            def _version_ts(v: int) -> int:
                log_file = os.path.join(self.log_dir, f"{v:020d}.json")
                if os.path.exists(log_file):
                    for a in self._actions(v):
                        if "commitInfo" in a and "timestamp" in a["commitInfo"]:
                            return int(a["commitInfo"]["timestamp"])
                    return int(os.path.getmtime(log_file) * 1000)
                cp = os.path.join(self.log_dir, cps[v][0])
                return int(os.path.getmtime(cp) * 1000)

            eligible = [v for v in vs if _version_ts(v) <= as_of_ts_ms]
            if not eligible:
                raise FileNotFoundError(
                    f"no commit at or before {as_of_ts_ms}"
                )
            version = max(eligible)
        v = vs[-1] if version is None else version
        if v not in vs:
            raise FileNotFoundError(f"version {v} not in log (have {vs})")
        meta, live, proto = self._replay(v)
        if _only_paths is not None:
            missing = sorted(set(_only_paths) - live.keys())
            if missing:
                raise DeltaProtocolError(
                    f"file {missing[0]} is not in the snapshot"
                )
            live = {p: a for p, a in live.items() if p in _only_paths}

        from pyspark.sql.types import (
            LongType, StringType, StructField, StructType,
        )

        schema = StructType.fromJson(json.loads(meta["schemaString"]))
        part_cols = meta.get("partitionColumns", [])
        if not live:
            return spark.createDataFrame([], schema)
        # Column mapping (reader v2 / v3 columnMapping feature): data
        # files store physical `col-<uuid>` names; the logical names
        # live only in the schema metadata.  'name' mode matches by
        # physical name; 'id' mode tables (as produced by delta-spark)
        # carry the same physicalName alongside the parquet field ids,
        # so the physical-name read covers both — the refusal path in
        # _check_protocol guards everything else.
        mode = (meta.get("configuration") or {}).get(
            "delta.columnMapping.mode", "none"
        )
        if mode in ("name", "id"):
            # The spec attaches delta.columnMapping.physicalName metadata
            # at EVERY nesting level (struct fields inside structs,
            # arrays, maps), so the physical read-schema is built by a
            # recursive walk — a top-level-only map would silently read
            # NULLs for renamed nested fields.
            phys = {
                f.name: (f.metadata or {}).get(
                    "delta.columnMapping.physicalName", f.name
                )
                for f in schema.fields
            }
            phys_schema = _physicalize(schema)
        elif mode == "none":
            phys = {f.name: f.name for f in schema.fields}
            phys_schema = schema
        else:
            raise DeltaProtocolError(
                f"unknown delta.columnMapping.mode {mode!r}"
            )
        if predicate is not None and live:
            tree = _predicate_tree(spark, predicate)
            if tree is not None:
                tz = _session_tz(spark)
                live = {
                    p: a
                    for p, a in live.items()
                    if _skip_possible(
                        tree,
                        _stat_domain(a, schema, part_cols, phys, tz),
                    )
                }
            if not live:
                empty_schema = schema
                if _with_position:
                    empty_schema = StructType(
                        list(schema.fields)
                        + [
                            StructField("__dv_path", StringType()),
                            StructField("__dv_ridx", LongType()),
                        ]
                    )
                return spark.createDataFrame([], empty_schema)
        paths = [os.path.join(self.path, p) for p in sorted(live)]
        from pyspark.sql import functions as F

        data_schema = StructType(
            [
                f
                for f in phys_schema.fields
                if f.name not in {phys[c] for c in part_cols}
            ]
        )
        df = spark.read.schema(data_schema).parquet(*paths)
        # One ATOMIC physical->logical projection (never a sequence of
        # withColumnRenamed: when one column's logical name equals
        # another column's physical name — common after upgrading a
        # table to columnMapping and then renaming/swapping — stepwise
        # renames create a transient duplicate and rebind the wrong
        # column).  Nested renames ride a positional struct cast: the
        # physical and logical types are shape-identical, so casting
        # struct<col-a:int,...> to the logical struct type relabels
        # every nesting level (arrays/maps of structs included) while
        # preserving nulls.
        # Deletion vectors: resolve each add's descriptor to its deleted
        # row indexes NOW (driver-side — the bitmaps are metadata-sized,
        # bounded by total deleted-row cardinality like the log itself),
        # and filter by (file, _metadata.row_index) anti-join below.
        # row_index is Spark's native per-file row position — the same
        # coordinate system the DV bitmap indexes.
        dv_map = {
            p: a["deletionVector"]
            for p, a in live.items()
            if a.get("deletionVector")
        }
        proj = [
            df[phys[f.name]].cast(f.dataType).alias(f.name)
            for f in schema.fields
            if f.name not in part_cols
        ]
        if dv_map or _with_position:
            proj.append(
                F.regexp_replace(
                    F.col("_metadata.file_path"), "^[a-zA-Z0-9+.-]+:/+", "/"
                ).alias("__dv_path")
            )
            proj.append(F.col("_metadata.row_index").alias("__dv_ridx"))
        df = df.select(*proj)
        if part_cols:
            # Partition values come from the LOG (add.partitionValues),
            # not from directory inference — per spec, the log is the
            # source of truth.  The join key is the add-action's FULL
            # relative path matched against the tail of
            # input_file_name(): one task writing several hive
            # partitions emits IDENTICAL part-file basenames in
            # different directories, so the basename alone silently
            # attaches the wrong partition values.  input_file_name()
            # returns a URI whose path may be percent-encoded, so each
            # file is keyed under both its raw relative path and the
            # URI-encoded spelling.
            from pyspark.sql import functions as F

            # Under column mapping, add.partitionValues is keyed by the
            # PHYSICAL column name per spec; resolve through `phys`
            # with a logical-name fallback for lenient writers.
            entries: list = []
            depths = set()
            for p, a in live.items():
                depths.add(p.count("/") + 1)
                enc = urllib.parse.quote(p, safe="/=")
                pv_raw = a["partitionValues"]
                pv = {
                    c: pv_raw.get(phys[c], pv_raw.get(c))
                    for c in part_cols
                }
                for key in {p, enc}:
                    entries.append((key, pv))
            segs = F.split(F.input_file_name(), "/")
            n_seg = F.size(segs)
            for c in part_cols:
                tgt = schema[c].dataType
                m = F.create_map(
                    *[
                        x
                        for key, pv in entries
                        for x in (F.lit(key), F.lit(pv.get(c)).cast("string"))
                    ]
                )
                val = F.lit(None).cast("string")
                for depth in sorted(depths):
                    tail = F.concat_ws(
                        "/", F.slice(segs, n_seg - depth + 1, depth)
                    )
                    val = F.coalesce(val, m[tail])
                df = df.withColumn(c, val.cast(tgt))
        if dv_map:
            deleted = []
            for p, dv in dv_map.items():
                ap = os.path.abspath(os.path.join(self.path, p))
                # The URI spelling must match _metadata.file_path's
                # encoding: file URIs leave '=' raw (hive partition
                # dirs), so '=' stays in the safe set — quoting it
                # would silently skip DV application on partitioned
                # tables whose values needed hive escaping.
                keys = {ap, urllib.parse.quote(ap, safe="/=")}
                for ridx in self._dv_deleted_rows(dv):
                    for key in keys:
                        deleted.append((key, int(ridx)))
            ddf = spark.createDataFrame(
                deleted, "__dv_path string, __dv_ridx long"
            )
            # Small DVs (the common case) broadcast; huge ones fall back
            # to a shuffled anti-join keyed by (file, row_index).
            if len(deleted) <= 2_000_000:
                ddf = F.broadcast(ddf)
            df = df.join(
                ddf, on=["__dv_path", "__dv_ridx"], how="left_anti"
            )
        cols = [f.name for f in schema.fields]
        if _with_position:
            cols += ["__dv_path", "__dv_ridx"]
        df = df.select(*cols)
        if predicate is not None:
            df = df.filter(predicate)
        return df

    def files_matching(
        self,
        spark: SparkSession,
        predicate: str,
        version: int | None = None,
    ) -> tuple[list[str], int]:
        """(files a predicate-scoped read scans, total live files) —
        the data-skipping observability hook (delta-spark's
        filesScanned / filesSkipped scan metrics).  Purely
        metadata-side: nothing is read but the log."""
        from pyspark.sql.types import StructType

        vs = self.all_versions()
        if not vs:
            raise FileNotFoundError(f"no Delta log at {self.log_dir}")
        v = vs[-1] if version is None else version
        meta, live, _proto = self._replay(v)
        schema = StructType.fromJson(json.loads(meta["schemaString"]))
        part_cols = meta.get("partitionColumns", [])
        mapped = (meta.get("configuration") or {}).get(
            "delta.columnMapping.mode", "none"
        ) in ("name", "id")
        phys = {
            f.name: (
                (f.metadata or {}).get(
                    "delta.columnMapping.physicalName", f.name
                )
                if mapped
                else f.name
            )
            for f in schema.fields
        }
        total = len(live)
        tree = _predicate_tree(spark, predicate)
        if tree is None:
            return sorted(live), total
        tz = _session_tz(spark)
        kept = [
            p
            for p, a in sorted(live.items())
            if _skip_possible(
                tree, _stat_domain(a, schema, part_cols, phys, tz)
            )
        ]
        return kept, total

    # -- checkpoints ------------------------------------------------------

    def checkpoint(self, version: int | None = None) -> int:
        """Write a protocol-v1 checkpoint for ``version`` (default:
        latest): a single parquet file holding the replayed state —
        protocol + metaData + every live ``add`` + txn markers +
        unexpired ``remove`` tombstones — plus the
        ``_last_checkpoint`` pointer, exactly the layout delta-spark
        produces every 10 commits.  After a checkpoint, the JSON
        commits it covers may be dropped (:meth:`clean_log`) and every
        read at or after the checkpoint version still works; reads
        STRICTLY BEFORE it correctly fail once their JSON is gone.
        partitionValues/configuration are map-typed with nullable
        values per the spec (null partition value stays null)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        v = self.latest_version() if version is None else version
        if v is None:
            raise FileNotFoundError(f"no Delta log at {self.log_dir}")
        meta, live, proto = self._replay(v)

        smap = pa.map_(pa.string(), pa.field("value", pa.string()))
        proto_t = pa.struct(
            [
                ("minReaderVersion", pa.int32()),
                ("minWriterVersion", pa.int32()),
                ("readerFeatures", pa.list_(pa.string())),
                ("writerFeatures", pa.list_(pa.string())),
            ]
        )
        meta_t = pa.struct(
            [
                ("id", pa.string()),
                (
                    "format",
                    pa.struct([("provider", pa.string()), ("options", smap)]),
                ),
                ("schemaString", pa.string()),
                ("partitionColumns", pa.list_(pa.string())),
                ("configuration", smap),
                ("createdTime", pa.int64()),
            ]
        )
        dv_t = pa.struct(
            [
                ("storageType", pa.string()),
                ("pathOrInlineDv", pa.string()),
                ("offset", pa.int32()),
                ("sizeInBytes", pa.int32()),
                ("cardinality", pa.int64()),
            ]
        )
        add_t = pa.struct(
            [
                ("path", pa.string()),
                ("partitionValues", smap),
                ("size", pa.int64()),
                ("modificationTime", pa.int64()),
                ("dataChange", pa.bool_()),
                # Checkpoints MUST carry the DV descriptor: dropping it
                # would resurrect deleted rows after clean_log().
                ("deletionVector", dv_t),
                # ... and the stats JSON, or data skipping dies the
                # moment clean_log() drops the JSON commits.
                ("stats", pa.string()),
            ]
        )

        def _mapify(d):
            return list((d or {}).items())

        # The REPLAYED protocol, not a hardcoded v1: checkpointing a
        # DV- or column-mapped table must preserve its feature
        # requirements or a post-clean_log reader loses the refusal
        # guard.
        proto_col = [
            {
                "minReaderVersion": proto.get("minReaderVersion", 1),
                "minWriterVersion": proto.get("minWriterVersion", 2),
                "readerFeatures": proto.get("readerFeatures"),
                "writerFeatures": proto.get("writerFeatures"),
            }
        ]
        meta_col = [
            {
                "id": meta.get("id"),
                "format": {
                    "provider": meta.get("format", {}).get("provider", "parquet"),
                    "options": _mapify(meta.get("format", {}).get("options")),
                },
                "schemaString": meta.get("schemaString"),
                "partitionColumns": meta.get("partitionColumns", []),
                "configuration": _mapify(meta.get("configuration")),
                "createdTime": meta.get("createdTime"),
            }
        ]
        def _dv_struct(a):
            dv = a.get("deletionVector")
            if not dv:
                return None
            return {
                "storageType": dv.get("storageType"),
                "pathOrInlineDv": dv.get("pathOrInlineDv"),
                "offset": dv.get("offset"),
                "sizeInBytes": dv.get("sizeInBytes"),
                "cardinality": dv.get("cardinality"),
            }

        add_col = [
            {
                "path": _encode_path(a["path"]),
                "partitionValues": _mapify(a.get("partitionValues")),
                "size": a.get("size"),
                "modificationTime": a.get("modificationTime"),
                "dataChange": bool(a.get("dataChange", True)),
                "deletionVector": _dv_struct(a),
                "stats": a.get("stats"),
            }
            for _, a in sorted(live.items())
        ]
        # Remove TOMBSTONES (spec: checkpoints retain removes until
        # tombstone retention expires) — external vacuum / conflict
        # detection keeps seeing recently removed files after
        # clean_log().
        rm_t = pa.struct(
            [
                ("path", pa.string()),
                ("deletionTimestamp", pa.int64()),
                ("dataChange", pa.bool_()),
            ]
        )
        rm_col = [
            {
                "path": _encode_path(rm["path"]),
                "deletionTimestamp": rm.get("deletionTimestamp"),
                "dataChange": bool(rm.get("dataChange", True)),
            }
            for _, rm in sorted(self._tombstones(v).items())
        ]
        # Application-transaction markers MUST survive checkpointing
        # (spec: checkpoints contain the latest txn per appId) or a
        # streaming sink loses its exactly-once ledger after
        # clean_log().
        txn_t = pa.struct(
            [
                ("appId", pa.string()),
                ("version", pa.int64()),
                ("lastUpdated", pa.int64()),
            ]
        )
        txn_col = [
            {"appId": app, "version": ver, "lastUpdated": None}
            for app, ver in sorted(self.txn_versions(v).items())
        ]
        # A table carrying the v2Checkpoint feature must get a V2-SPEC
        # checkpoint (uuid-named manifest + file actions in a sidecar):
        # writing a classic one would violate the feature contract the
        # table advertises to every other engine.  This is what makes
        # WRITES into v2Checkpoint tables safe (_WRITE_SAFE_FEATURES).
        if "v2Checkpoint" in (proto.get("readerFeatures") or ()):
            sdir = os.path.join(self.log_dir, "_sidecars")
            os.makedirs(sdir, exist_ok=True)
            ns = len(add_col) + len(rm_col)
            sidecar_tbl = pa.table(
                {
                    "add": pa.array(
                        add_col + [None] * len(rm_col), type=add_t
                    ),
                    "remove": pa.array(
                        [None] * len(add_col) + rm_col, type=rm_t
                    ),
                }
            ) if ns else pa.table(
                {
                    "add": pa.array([], type=add_t),
                    "remove": pa.array([], type=rm_t),
                }
            )
            sc_name = f"{uuid.uuid4()}.parquet"
            sc_tmp = os.path.join(sdir, sc_name + ".tmp")
            pq.write_table(sidecar_tbl, sc_tmp)
            os.replace(sc_tmp, os.path.join(sdir, sc_name))

            cpm_t = pa.struct([("version", pa.int64()), ("tags", smap)])
            sc_t = pa.struct(
                [
                    ("path", pa.string()),
                    ("sizeInBytes", pa.int64()),
                    ("modificationTime", pa.int64()),
                    ("tags", smap),
                ]
            )
            nm = 3 + len(txn_col)  # cpm + protocol + metaData + txns + sidecar
            manifest = pa.table(
                {
                    "checkpointMetadata": pa.array(
                        [{"version": v, "tags": []}] + [None] * nm,
                        type=cpm_t,
                    ),
                    "protocol": pa.array(
                        [None] + proto_col + [None] * (nm - 1),
                        type=proto_t,
                    ),
                    "metaData": pa.array(
                        [None, None] + meta_col + [None] * (nm - 2),
                        type=meta_t,
                    ),
                    "txn": pa.array(
                        [None] * 3 + txn_col + [None], type=txn_t
                    ),
                    "sidecar": pa.array(
                        [None] * (3 + len(txn_col))
                        + [
                            {
                                "path": sc_name,
                                "sizeInBytes": os.path.getsize(
                                    os.path.join(sdir, sc_name)
                                ),
                                "modificationTime": int(
                                    time.time() * 1000
                                ),
                                "tags": [],
                            }
                        ],
                        type=sc_t,
                    ),
                }
            )
            target = os.path.join(
                self.log_dir, f"{v:020d}.checkpoint.{uuid.uuid4()}.parquet"
            )
            tmp = target + f".tmp-{uuid.uuid4().hex[:8]}"
            pq.write_table(manifest, tmp)
            os.replace(tmp, target)
            with open(
                os.path.join(self.log_dir, "_last_checkpoint"), "w"
            ) as fh:
                json.dump({"version": v, "size": nm + 1 + ns}, fh)
            return v

        n = 2 + len(add_col) + len(txn_col) + len(rm_col)
        tbl = pa.table(
            {
                "protocol": pa.array(
                    proto_col + [None] * (n - 1), type=proto_t
                ),
                "metaData": pa.array(
                    [None]
                    + meta_col
                    + [None] * (n - 2),
                    type=meta_t,
                ),
                "add": pa.array(
                    [None, None]
                    + add_col
                    + [None] * (len(txn_col) + len(rm_col)),
                    type=add_t,
                ),
                "txn": pa.array(
                    [None] * (2 + len(add_col))
                    + txn_col
                    + [None] * len(rm_col),
                    type=txn_t,
                ),
                "remove": pa.array(
                    [None] * (2 + len(add_col) + len(txn_col)) + rm_col,
                    type=rm_t,
                ),
            }
        )
        target = os.path.join(self.log_dir, f"{v:020d}.checkpoint.parquet")
        tmp = target + f".tmp-{uuid.uuid4().hex[:8]}"
        pq.write_table(tbl, tmp)
        os.replace(tmp, target)
        with open(os.path.join(self.log_dir, "_last_checkpoint"), "w") as fh:
            json.dump({"version": v, "size": n}, fh)
        return v

    def compact_log(self, start: int, end: int) -> str:
        """Write a minor log compaction ``{start}.{end}.compacted.json``
        — the reconciled actions of the commit range, exactly what a
        live delta-spark writer periodically leaves behind (and what
        :meth:`_commit_segments` prefers on replay: one file instead of
        ``end - start + 1``).  Reconciliation keeps, per path, only the
        LAST add-or-remove action of the range (a remove stays as a
        tombstone), plus the last metaData/protocol and the latest txn
        per appId, so applying the file onto any state equals applying
        the individual commits.  The range's JSON commits must all be
        present (a compaction is derived data, never a substitute for
        reading them).  Returns the filename.
        """
        if not 0 <= start <= end:
            raise ValueError(f"bad compaction range [{start}, {end}]")
        have = set(self._versions())
        missing = [v for v in range(start, end + 1) if v not in have]
        if missing:
            raise FileNotFoundError(
                f"cannot compact [{start}, {end}]: versions {missing} "
                "have no JSON commit"
            )
        meta = proto = None
        last: dict[str, dict] = {}  # path -> its last add/remove action
        txns: dict[str, int] = {}
        for v in range(start, end + 1):
            for a in self._actions(v):
                if "protocol" in a:
                    proto = a
                elif "metaData" in a:
                    meta = a
                elif "txn" in a:
                    txns[a["txn"]["appId"]] = int(a["txn"]["version"])
                elif "add" in a:
                    last[_decode_path(a["add"]["path"])] = a
                elif "remove" in a:
                    last[_decode_path(a["remove"]["path"])] = a
        lines: list[dict] = []
        if proto:
            lines.append(proto)
        if meta:
            lines.append(meta)
        lines.extend(
            {"txn": {"appId": app, "version": ver}}
            for app, ver in sorted(txns.items())
        )
        lines.extend(last[p] for p in sorted(last))
        fname = f"{start:020d}.{end:020d}.compacted.json"
        target = os.path.join(self.log_dir, fname)
        tmp = target + ".tmp"
        with open(tmp, "w") as fh:
            for a in lines:
                fh.write(json.dumps(a) + "\n")
        os.replace(tmp, target)
        return fname

    def clean_log(self) -> list[int]:
        """Drop JSON commits at or before the newest checkpoint (Delta's
        log cleanup). Returns the removed versions. Refuses when no
        checkpoint exists — cleanup must never orphan the only copy of
        the state."""
        cps = self._checkpoints()
        if not cps:
            raise FileNotFoundError("no checkpoint; refusing to clean the log")
        floor = max(cps)
        removed = []
        for v in self._versions():
            if v <= floor:
                os.remove(os.path.join(self.log_dir, f"{v:020d}.json"))
                removed.append(v)
        return removed

    def history(self) -> list[dict]:
        out = []
        for v in self._versions():
            for a in self._actions(v):
                if "commitInfo" in a:
                    out.append({"version": v, **a["commitInfo"]})
        return out

    def table_changes(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
        keys: list[str] | None = None,
        allow_diff_fallback: bool = False,
    ) -> DataFrame:
        """Change feed.  When every commit in ``(from_version,
        to_version]`` is CDF-derivable from the log — it carries real
        ``cdc`` actions (written by delta-spark or by this module's
        mutating verbs on a ``delta.enableChangeDataFeed=true`` table),
        is a pure dataChange append (adds infer as inserts, the spec's
        reader rule), or changed no data — the result is the
        delta-spark CDF shape: table columns + ``_change_type`` +
        ``_commit_version`` + ``_commit_timestamp``, one row per
        change, reading the ``_change_data/`` files for mutating
        commits.  ``keys`` is ignored there (cdc files already carry
        the classification).

        Otherwise the behavior depends on whether the table has CDF
        enabled.  A PLAIN table falls back to the SNAPSHOT DIFF: rows
        differing between the two versions with a ``_change_type``
        column; with ``keys`` the diff classifies into insert / delete
        / update_preimage / update_postimage, without keys it degrades
        honestly to insert/delete pairs (an update IS a delete+insert
        when no identity is known).  A CDF-ENABLED table whose range
        is no longer derivable (its json commits were cleaned after
        checkpointing, or the range contains a pre-CDF mixed commit)
        RAISES instead of silently returning the diff shape — the two
        shapes have different columns (the diff has no
        ``_commit_version`` / ``_commit_timestamp``), and a caller
        folding a change feed must not discover the flip from a
        missing column.  Pass ``allow_diff_fallback=True`` to opt into
        the degradation explicitly.

        Scale posture: CDF mode reads only the change/add files of the
        range (proportional to what changed); the diff fallback reads
        and shuffles BOTH snapshots — interop/backfill, not the hot
        path.  Bag semantics via exceptAll in the fallback: duplicate
        rows diff by multiplicity.
        """
        from pyspark.sql import functions as F

        if to_version is None:
            to_version = self.latest_version()
        if to_version is None or from_version > to_version:
            raise ValueError(
                f"bad version range {from_version}..{to_version}"
            )

        cdf_df, not_derivable = self._table_changes_cdf(
            spark, from_version, to_version
        )
        if cdf_df is not None:
            return cdf_df
        if not_derivable is not None and not allow_diff_fallback:
            meta_to, _l, _p = self._replay(to_version)
            if self._cdf_enabled(meta_to):
                raise DeltaProtocolError(
                    "table_changes: CDF is enabled but the range "
                    f"{from_version}..{to_version} is not derivable "
                    f"from the log ({not_derivable}); the snapshot-"
                    "diff fallback has a DIFFERENT result schema (no "
                    "_commit_version/_commit_timestamp) — pass "
                    "allow_diff_fallback=True to accept it"
                )
        old = self.read(spark, version=from_version)
        new = self.read(spark, version=to_version)
        if old.columns != new.columns:
            raise ValueError(
                "schema changed between versions; diff the columns "
                f"first (v{from_version}: {old.columns}, "
                f"v{to_version}: {new.columns})"
            )
        inserted = new.exceptAll(old)
        deleted = old.exceptAll(new)
        if not keys:
            return inserted.withColumn(
                "_change_type", F.lit("insert")
            ).unionByName(
                deleted.withColumn("_change_type", F.lit("delete"))
            )
        for k in keys:
            if k not in old.columns:
                raise ValueError(f"key column {k!r} not in the table")
        # intersect matches NULL keys like any other value, so the
        # joins against its result must too (eqNullSafe) — a plain
        # equi-join would reclassify a NULL-keyed update as delete +
        # insert
        upd_keys = (
            inserted.select(*keys)
            .intersect(deleted.select(*keys))
            .select(*[F.col(k).alias(f"__uk_{k}") for k in keys])
        )

        def _by_key(side: DataFrame, how: str) -> DataFrame:
            cond = None
            for k in keys:
                t = side[k].eqNullSafe(upd_keys[f"__uk_{k}"])
                cond = t if cond is None else cond & t
            return side.join(upd_keys, cond, how)

        ins = _by_key(inserted, "left_anti")
        dele = _by_key(deleted, "left_anti")
        # no forced broadcast: an update-heavy diff makes upd_keys
        # snapshot-sized, so AQE picks broadcast only when it fits
        upd_post = _by_key(inserted, "left_semi")
        upd_pre = _by_key(deleted, "left_semi")
        return (
            ins.withColumn("_change_type", F.lit("insert"))
            .unionByName(
                dele.withColumn("_change_type", F.lit("delete"))
            )
            .unionByName(
                upd_pre.withColumn(
                    "_change_type", F.lit("update_preimage")
                )
            )
            .unionByName(
                upd_post.withColumn(
                    "_change_type", F.lit("update_postimage")
                )
            )
        )

    def _table_changes_cdf(
        self, spark: SparkSession, from_version: int, to_version: int
    ) -> tuple[DataFrame | None, str | None]:
        """Per-commit change feed from real ``cdc`` actions (plus the
        spec's add-only inference).  Returns ``(df, None)`` when the
        range is derivable; ``(None, reason)`` when a commit in the
        range is not CDF-derivable (the caller decides whether the
        snapshot-diff fallback is acceptable); ``(None, None)`` when
        the per-commit shape simply does not apply (empty range, or a
        plain table that never wrote change files)."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        commits = list(range(from_version + 1, to_version + 1))
        if not commits:
            return None, None
        vs = set(self.all_versions())
        plans: list[tuple[int, int, str, list[dict]]] = []
        any_cdc = False
        for v in commits:
            if v not in vs or not os.path.exists(
                os.path.join(self.log_dir, f"{v:020d}.json")
            ):
                # log cleaned: per-commit actions gone
                return None, f"version {v}'s json commit was cleaned"
            acts = self._actions(v)
            ts = next(
                (
                    int(a["commitInfo"]["timestamp"])
                    for a in acts
                    if "commitInfo" in a and "timestamp" in a["commitInfo"]
                ),
                None,
            )
            if ts is None:
                # Foreign writer without commitInfo.timestamp: fall
                # back to the log file's mtime — what delta-spark
                # itself uses for non-ICT tables — but WARN, because
                # mtime is not stable across copies/rsyncs of the
                # table, so _commit_timestamp may differ between two
                # replicas of the same log.
                import warnings

                warnings.warn(
                    f"table_changes: version {v} lacks "
                    "commitInfo.timestamp; using the log file's "
                    "mtime for _commit_timestamp, which is not "
                    "stable across copies of the table",
                    stacklevel=3,
                )
                ts = int(
                    os.path.getmtime(
                        os.path.join(self.log_dir, f"{v:020d}.json")
                    )
                    * 1000
                )
            cdc = [dict(a["cdc"]) for a in acts if "cdc" in a]
            adds = [
                dict(a["add"])
                for a in acts
                if "add" in a and a["add"].get("dataChange", True)
            ]
            removes = [
                a["remove"]
                for a in acts
                if "remove" in a
                and a["remove"].get("dataChange", True)
            ]
            if cdc:
                any_cdc = True
                plans.append((v, ts, "cdc", cdc))
            elif adds and not removes:
                plans.append((v, ts, "insert", adds))
            elif not adds and not removes:
                continue  # metadata-only / compaction commit
            else:
                # mixed dataChange commit without cdc
                return None, (
                    f"version {v} mixes dataChange adds and removes "
                    "without cdc actions"
                )
        meta, _live, _proto = self._replay(to_version)
        if not any_cdc and not self._cdf_enabled(meta):
            # a plain table whose range never wrote change files —
            # keep the legacy snapshot-diff shape
            return None, None
        schema = StructType.fromJson(json.loads(meta["schemaString"]))
        part_cols = meta.get("partitionColumns", [])
        # Column-mapping tables: change/data files carry PHYSICAL
        # names and partitionValues are physically keyed — read
        # physically, surface logically (same rule as read()).
        phys = self._write_phys_map(meta) or {
            f.name: f.name for f in schema.fields
        }
        file_fields = [f for f in schema.fields if f.name not in part_cols]
        file_schema = StructType(
            [
                StructField(phys[f.name], f.dataType, f.nullable)
                for f in file_fields
            ]
        )
        cdc_schema = StructType(
            list(file_schema.fields)
            + [StructField("_change_type", StringType())]
        )

        parts: list[DataFrame] = []
        for v, ts, kind, actions in plans:
            groups: dict[tuple, list[str]] = {}
            for a in actions:
                pv = a.get("partitionValues") or {}
                key = tuple(sorted(pv.items()))
                groups.setdefault(key, []).append(
                    os.path.join(self.path, _decode_path(a["path"]))
                )
            for key, paths in sorted(groups.items()):
                pv = dict(key)
                d = spark.read.schema(
                    cdc_schema if kind == "cdc" else file_schema
                ).parquet(*paths)
                d = d.select(
                    *[
                        F.col(phys[f.name]).alias(f.name)
                        for f in file_fields
                    ],
                    *([F.col("_change_type")] if kind == "cdc" else []),
                )
                if kind == "insert":
                    d = d.withColumn("_change_type", F.lit("insert"))
                for c in part_cols:
                    d = d.withColumn(
                        c,
                        F.lit(pv.get(phys.get(c, c), pv.get(c))).cast(
                            schema[c].dataType
                        ),
                    )
                parts.append(
                    d.withColumn(
                        "_commit_version", F.lit(v).cast("long")
                    ).withColumn(
                        "_commit_timestamp",
                        F.timestamp_millis(F.lit(ts)),
                    )
                )
        if not parts:
            # derivable range with zero data changes: empty CDF frame
            empty = StructType(
                list(schema.fields)
                + [
                    StructField("_change_type", StringType()),
                    StructField("_commit_version", LongType()),
                ]
            )
            return (
                spark.createDataFrame([], empty).withColumn(
                    "_commit_timestamp", F.timestamp_millis(F.lit(None))
                ),
                None,
            )
        out = parts[0]
        for d in parts[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
        return out, None
