"""Partition transforms and bound decoding against the Iceberg spec.

Appendix B of the spec lists the murmur3 hash of one value per type;
the driver-side twins (:func:`murmur3_32`, :func:`bucket_partition_value`)
must reproduce them, and the Spark expressions that partition the data
files must agree with the driver side row by row, since a
``partition_filter`` built on the driver prunes the files written by
the executors.  Truncate and the time transforms follow the spec's
floor semantics, negatives and pre-1970 instants included.  Appendix D
bounds written before an int->long or float->double promotion stay 4
bytes wide and must still decode."""

from __future__ import annotations

import datetime as dt
import struct
import uuid

import pytest

from data_lakehouse_platform_spark.sources.iceberg_lite import (
    IcebergLiteTable,
    _attach_transform,
    _decode_bound,
    _transform_expr,
    bucket_partition_value,
    murmur3_32,
)

_UTC = dt.timezone.utc
_PST = dt.timezone(dt.timedelta(hours=-8))


def _long_bytes(v: int) -> bytes:
    return v.to_bytes(8, "little", signed=True)


# (value's hash input, spec hash); spec Appendix B, "32-bit Hash
# Requirements"
_SPEC_HASHES = {
    "int": (_long_bytes(34), 2017239379),
    "decimal": ((1420).to_bytes(2, "big", signed=True), -500754589),
    "date": (_long_bytes(17486), -653330422),
    "time": (_long_bytes(81_068_000_000), -662762989),
    "timestamp": (_long_bytes(1_510_871_468_000_000), -2047944441),
    "string": (b"iceberg", 1210000089),
    "uuid": (
        uuid.UUID("f79c3e09-677c-4bbd-a479-3f349cb785e7").bytes,
        1488055340,
    ),
    "binary": (bytes([0, 1, 2, 3]), -188683207),
}


@pytest.mark.parametrize("kind", sorted(_SPEC_HASHES))
def test_murmur3_spec_vectors(kind):
    data, want = _SPEC_HASHES[kind]
    assert murmur3_32(data) == want


def _bucket(h: int, n: int) -> int:
    return (h & 0x7FFFFFFF) % n


# (literal, source type, spec hash of that literal)
_BUCKET_LITERALS = {
    "int": (34, "int", 2017239379),
    "long": (34, "long", 2017239379),
    "date": (dt.date(2017, 11, 16), "date", -653330422),
    "timestamp": (dt.datetime(2017, 11, 16, 22, 31, 8), "timestamp",
                  -2047944441),
    "timestamptz": (dt.datetime(2017, 11, 16, 14, 31, 8, tzinfo=_PST),
                    "timestamptz", -2047944441),
    "string": ("iceberg", "string", 1210000089),
}


@pytest.mark.parametrize("kind", sorted(_BUCKET_LITERALS))
def test_bucket_partition_value_spec_vectors(kind):
    value, src_type, h = _BUCKET_LITERALS[kind]
    for n in (1, 4, 16, 1024):
        assert bucket_partition_value(value, n, src_type) == _bucket(h, n)
    assert bucket_partition_value(None, 16, src_type) is None


_SPARK_BUCKET_VALUES = {
    "int": ("int", [34, 0, 1, -1, 2**31 - 1, -(2**31), 7, None]),
    "long": ("bigint", [34, 0, -1, 2**40 + 3, 2**63 - 1, -(2**63), None]),
    "date": ("date", [dt.date(2017, 11, 16), dt.date(1970, 1, 1),
                      dt.date(1969, 12, 31), dt.date(1900, 3, 1), None]),
    "timestamptz": ("timestamp", [
        dt.datetime(2017, 11, 16, 22, 31, 8, tzinfo=_UTC),
        dt.datetime(2017, 11, 16, 14, 31, 8, tzinfo=_PST),
        dt.datetime(1969, 12, 31, 23, 59, 59, 999999, tzinfo=_UTC),
        dt.datetime(2024, 2, 29, 12, 0, 0, 123456, tzinfo=_UTC),
        None,
    ]),
    "string": ("string", ["iceberg", "", "a", "ab", "abc", "abcd",
                          "abcde", "ünïcødé",
                          "日本語テキスト",
                          None]),
}


@pytest.mark.parametrize("src_type", sorted(_SPARK_BUCKET_VALUES))
def test_spark_bucket_transform_matches_driver_side(spark, src_type):
    """Executors partition the files with the expression chain; the
    driver computes lookup filters with the pure-Python hash.  Both
    must land every value (negatives, extremes, UTF-8 tails of 0-3
    bytes, NULL) in the same bucket."""
    ddl, values = _SPARK_BUCKET_VALUES[src_type]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)],
                               f"i int, v {ddl}")
    got = {
        r.i: r.b
        for r in _attach_transform(df, "b", "v", "bucket[16]", src_type)
        .select("i", "b").collect()
    }
    assert got == {
        i: bucket_partition_value(v, 16, src_type)
        for i, v in enumerate(values)
    }


_TRUNCATE_CASES = {
    "int": ("int", "truncate[10]",
            {1: 0, -1: -10, 0: 0, 10: 10, -10: -10, -11: -20, 19: 10}),
    "long": ("bigint", "truncate[10]",
             {1: 0, -1: -10, 1_099_511_627_783: 1_099_511_627_780,
              -1_099_511_627_777: -1_099_511_627_780}),
    "string": ("string", "truncate[3]",
               {"iceberg": "ice", "ab": "ab", "": "",
                "日本語テキ": "日本語"}),
}


@pytest.mark.parametrize("src_type", sorted(_TRUNCATE_CASES))
def test_truncate_spec_semantics(spark, src_type):
    """Spec: integers floor to a multiple of W (-1 -> -10 for W=10),
    strings keep the first W code points."""
    ddl, transform, cases = _TRUNCATE_CASES[src_type]
    df = spark.createDataFrame(list(cases.items()), f"v {ddl}, want {ddl}")
    rows = df.select(
        "v", "want", _transform_expr("v", transform, src_type).alias("t")
    ).collect()
    assert len(rows) == len(cases)
    for r in rows:
        assert r.t == r.want, r.v


_INSTANTS = [
    (dt.datetime(1969, 12, 31, 23, 59, 59, tzinfo=_UTC),
     {"year": -1, "month": -1, "day": -1, "hour": -1}),
    (dt.datetime(1970, 1, 1, tzinfo=_UTC),
     {"year": 0, "month": 0, "day": 0, "hour": 0}),
    (dt.datetime(2017, 11, 16, 22, 31, 8, tzinfo=_UTC),
     {"year": 47, "month": 574, "day": 17486, "hour": 419686}),
    (dt.datetime(1900, 3, 1, 5, 0, 0, tzinfo=_UTC),
     {"year": -70, "month": -838, "day": -25508, "hour": -612187}),
]


@pytest.mark.parametrize("transform", ["year", "month", "day", "hour"])
def test_time_transforms_floor_from_epoch(spark, transform):
    """Years/months/days/hours since 1970-01-01T00:00Z, floored, so
    one second before the epoch is -1 in every unit."""
    df = spark.createDataFrame(
        [(i, ts) for i, (ts, _w) in enumerate(_INSTANTS)],
        "i int, ts timestamp",
    )
    got = {
        r.i: r.t
        for r in df.select(
            "i", _transform_expr("ts", transform, "timestamptz").alias("t")
        ).collect()
    }
    assert got == {i: w[transform] for i, (_ts, w) in enumerate(_INSTANTS)}


@pytest.mark.parametrize(
    "ice_type,raw,want",
    [
        ("long", struct.pack("<i", -5), -5),
        ("long", struct.pack("<q", 2**40), 2**40),
        ("double", struct.pack("<f", 1.5), 1.5),
        ("double", struct.pack("<d", -2.25), -2.25),
    ],
    ids=["long-from-int", "long", "double-from-float", "double"],
)
def test_decode_bound_reads_pre_promotion_widths(ice_type, raw, want):
    """A file written while ``id`` was an int keeps 4-byte bounds
    after the column becomes a long; decoding them as 8 bytes failed,
    and the file could then never be pruned."""
    assert _decode_bound(raw, ice_type, "UTC") == want


def test_time_transform_partitions_roundtrip(spark, tmp_path):
    """End to end: a day-partitioned write of pre- and post-epoch rows
    stores the spec day numbers in the manifest partition tuples."""
    t = IcebergLiteTable(str(tmp_path / "t"))
    rows = [(i, ts) for i, (ts, _w) in enumerate(_INSTANTS)]
    t.write(
        spark.createDataFrame(rows, "i int, ts timestamp"),
        partition_by=[("ts", "day")],
    )
    parts = sorted(part["ts_day"] for _p, _s, part in t.plan_files()[0])
    assert parts == sorted(w["day"] for _ts, w in _INSTANTS)
    assert sorted(r.i for r in t.read(spark).collect()) == list(
        range(len(rows))
    )
    # the day pruner keeps exactly the pre-epoch file
    kept, _d = t.plan_files(partition_filter={"ts_day": -1})
    assert len(kept) == 1
