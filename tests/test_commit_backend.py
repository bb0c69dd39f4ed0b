"""The pluggable commit-slot seam (sources/commit_backend.py): posix
and coordinated backends keep the exactly-one-winner guarantee, both
table formats route every commit through the backend, and a lost slot
race surfaces as retry (pure append) or ConcurrentModificationError
(snapshot-derived commits) — never a silently dropped commit."""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import pytest

from data_lakehouse_platform_spark.sources.commit_backend import (
    ConcurrentModificationError,
    CoordinatedCommitSlots,
    PosixCommitSlots,
)
from data_lakehouse_platform_spark.sources.delta_lite import DeltaLiteTable
from data_lakehouse_platform_spark.sources.iceberg_lite import (
    IcebergLiteTable,
)


@pytest.mark.parametrize(
    "backend_fn",
    [
        lambda: PosixCommitSlots(),
        lambda: CoordinatedCommitSlots({}),
        lambda: __import__(
            "data_lakehouse_platform_spark.sources.commit_backend",
            fromlist=["ObjectStoreCommitSlots"],
        ).ObjectStoreCommitSlots({}),
    ],
    ids=["posix", "coordinated", "objectstore"],
)
def test_exactly_one_winner(tmp_path, backend_fn):
    be = backend_fn()
    slot = str(tmp_path / "00000000000000000001.json")
    with ThreadPoolExecutor(16) as ex:
        wins = list(
            ex.map(
                lambda i: be.put_if_absent(slot, f"w{i}".encode()),
                range(64),
            )
        )
    assert sum(wins) == 1
    assert os.path.exists(slot)


def test_delta_append_retries_lost_slot(spark, tmp_path):
    """A pure APPEND that loses its slot takes the next one — the
    winner's commit is preserved, nothing is lost."""
    claims: dict = {}
    t = DeltaLiteTable(
        str(tmp_path / "d"), commit_backend=CoordinatedCommitSlots(claims)
    )
    t.write(spark.createDataFrame([(1, "a")], "id long, v string"))
    # another writer claims version 1's slot out from under us (the
    # file also exists, as the winner would have written it)
    slot = os.path.join(t.log_dir, f"{1:020d}.json")
    claims[os.path.abspath(slot)] = "other-writer"
    with open(slot, "w") as fh:
        fh.write(
            '{"commitInfo": {"timestamp": 0, "operation": "WRITE"}}\n'
            '{"add": {"path": "missing.parquet", "partitionValues": {}, '
            '"size": 1, "modificationTime": 0, "dataChange": true}}\n'
        )
    v = t.write(
        spark.createDataFrame([(2, "b")], "id long, v string"),
        mode="append",
    )
    assert v == 2  # retried past the stolen slot
    assert t.all_versions() == [0, 1, 2]


def test_delta_stale_sensitive_commit_aborts(spark, tmp_path):
    claims: dict = {}
    t = DeltaLiteTable(
        str(tmp_path / "d2"),
        commit_backend=CoordinatedCommitSlots(claims),
    )
    t.write(spark.createDataFrame([(1, "a")], "id long, v string"))
    slot = os.path.join(t.log_dir, f"{1:020d}.json")
    claims[os.path.abspath(slot)] = "other-writer"
    with pytest.raises(ConcurrentModificationError):
        t.delete(spark, "id = 1", strategy="rewrite")


def test_iceberg_commit_through_backend(spark, tmp_path):
    claims: dict = {}
    t = IcebergLiteTable(
        str(tmp_path / "i"),
        commit_backend=CoordinatedCommitSlots(claims),
    )
    t.write(spark.range(4).selectExpr("id", "id * 2 AS v"))
    t.delete(spark, "id = 0")  # a delete commit rides the backend too
    assert len(claims) == 2  # v1 (write) + v2 (delete)
    # steal the next metadata slot: the commit must ABORT, and the
    # table must still read its pre-steal state
    nxt = os.path.join(t.metadata_dir, "v3.metadata.json")
    claims[os.path.abspath(nxt)] = "other-writer"
    with pytest.raises(ConcurrentModificationError):
        t.upsert(
            spark, spark.range(1, 2).selectExpr("id", "id * 9 AS v"),
            keys=["id"],
        )
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [
        (1, 2), (2, 4), (3, 6)
    ]


def test_posix_is_the_default(tmp_path):
    t = DeltaLiteTable(str(tmp_path / "x"))
    assert isinstance(t.commit_backend, PosixCommitSlots)
    i = IcebergLiteTable(str(tmp_path / "y"))
    assert isinstance(i.commit_backend, PosixCommitSlots)


# -- failure atomicity (the S3DynamoDBLogStore recovery protocol) -----


class _CrashAfterClaim(CoordinatedCommitSlots):
    """A winner that dies between winning the claim and promoting the
    staged payload — the exact window a naive claim-then-write backend
    wedges on."""

    def put_if_absent(self, path: str, payload: bytes) -> bool:
        import uuid

        key = os.path.abspath(path)
        token = f"pid:{os.getpid()}:call:{uuid.uuid4().hex}"
        tmp = f"{key}.{token.rsplit(':', 1)[-1]}.staged"
        with open(tmp, "wb") as fh:
            fh.write(payload)
        won = self._claims.setdefault(key, f"pending|{token}|{tmp}") == (
            f"pending|{token}|{tmp}"
        )
        if won:
            raise RuntimeError("simulated crash after claim")
        return False


def test_crashed_winner_is_recovered_by_next_caller(tmp_path):
    """Crash between claim and write must NOT wedge the slot: the next
    caller promotes the crashed winner's staged payload, returns False
    (the slot belongs to the crashed commit), and the log has no hole."""
    claims: dict = {}
    slot = str(tmp_path / "00000000000000000001.json")
    crasher = _CrashAfterClaim(claims)
    with pytest.raises(RuntimeError, match="simulated crash"):
        crasher.put_if_absent(slot, b"crashed-winner-payload")
    assert not os.path.exists(slot)  # the wedge window is open

    be = CoordinatedCommitSlots(claims)
    assert be.put_if_absent(slot, b"late-loser-payload") is False
    # the slot now holds the CRASHED WINNER's bytes — its claim won
    with open(slot, "rb") as fh:
        assert fh.read() == b"crashed-winner-payload"
    assert claims[os.path.abspath(slot)].startswith("complete|")
    # no staging debris
    assert not [
        p for p in os.listdir(tmp_path) if p.endswith(".staged")
    ]


def test_recovery_is_idempotent_across_callers(tmp_path):
    claims: dict = {}
    slot = str(tmp_path / "00000000000000000001.json")
    with pytest.raises(RuntimeError):
        _CrashAfterClaim(claims).put_if_absent(slot, b"P")
    be = CoordinatedCommitSlots(claims)
    for _ in range(3):  # repeated losers all see a healed slot
        assert be.put_if_absent(slot, b"other") is False
    with open(slot, "rb") as fh:
        assert fh.read() == b"P"


def test_wedged_slot_without_staged_payload_raises(tmp_path):
    """Pending claim, no staged payload, no final file: genuinely
    unrecoverable — fail loudly, never return a False that would make
    the retry loop skip the slot and leave a hole."""
    claims: dict = {}
    slot = str(tmp_path / "00000000000000000001.json")
    claims[os.path.abspath(slot)] = (
        f"pending|pid:1:call:dead|{slot}.dead.staged"
    )
    be = CoordinatedCommitSlots(claims)
    with pytest.raises(RuntimeError, match="wedged"):
        be.put_if_absent(slot, b"x")


def test_delta_log_stays_contiguous_through_a_crashed_writer(
    spark, tmp_path
):
    """End-to-end: writer A crashes mid-commit on version 1's slot;
    writer B's append then recovers A's commit and lands at version 2
    — replay sees 0,1,2 with no hole and BOTH payloads."""
    claims: dict = {}
    t = DeltaLiteTable(
        str(tmp_path / "d"),
        commit_backend=CoordinatedCommitSlots(claims),
    )
    t.write(spark.createDataFrame([(1, "a")], "id long, v string"))
    ta = DeltaLiteTable(
        str(tmp_path / "d"), commit_backend=_CrashAfterClaim(claims)
    )
    with pytest.raises(RuntimeError, match="simulated crash"):
        ta.write(
            spark.createDataFrame([(2, "b")], "id long, v string"),
            mode="append",
        )
    tb = DeltaLiteTable(
        str(tmp_path / "d"),
        commit_backend=CoordinatedCommitSlots(claims),
    )
    tb.write(
        spark.createDataFrame([(3, "c")], "id long, v string"),
        mode="append",
    )
    assert tb.all_versions() == [0, 1, 2]
    got = sorted(
        (r.id, r.v) for r in tb.read(spark).collect()
    )
    assert got == [(1, "a"), (2, "b"), (3, "c")]


# -- object-store backend (r8): blind-PUT semantics, copy-promote, ----
# -- recovery — the S3/GCS configuration of the claim-table protocol --

from data_lakehouse_platform_spark.sources.commit_backend import (  # noqa: E402,E501
    LocalObjectStore,
    ObjectStoreCommitSlots,
)


def test_local_object_store_semantics(tmp_path):
    """The store speaks ONLY object-store verbs: blind overwriting PUT,
    GET, EXISTS, idempotent DELETE, prefix LIST — no O_EXCL, no rename
    reachable through the interface."""
    st = LocalObjectStore()
    k = str(tmp_path / "a" / "obj.bin")
    st.put(k, b"one")
    st.put(k, b"two")  # blind PUT: last writer wins, no error
    assert st.get(k) == b"two"
    assert st.exists(k)
    st.delete(str(tmp_path / "a" / "missing"))  # S3 DELETE: no error
    st.put(str(tmp_path / "a" / "obj2.bin"), b"x")
    assert [os.path.basename(p) for p in st.list(str(tmp_path / "a" / "obj"))] == [
        "obj.bin", "obj2.bin",
    ]
    st.delete(k)
    assert not st.exists(k)


class _ObjectStoreCrashAfterClaim(ObjectStoreCommitSlots):
    """Simulate a winner dying between claim (step 2) and promote
    (step 3) — the window the recovery protocol exists for."""

    def put_if_absent(self, path, payload):
        import uuid

        key = os.path.abspath(path)
        token = f"pid:{os.getpid()}:call:{uuid.uuid4().hex}"
        staged = f"{key}.{token.rsplit(':', 1)[-1]}.staged"
        self._store.put(staged, payload)
        claim = f"pending|{token}|{staged}"
        if self._claims.setdefault(key, claim) == claim:
            raise RuntimeError("simulated crash after claim")
        return False


def test_objectstore_crashed_winner_recovered(tmp_path):
    claims: dict = {}
    slot = str(tmp_path / "00000000000000000001.json")
    with pytest.raises(RuntimeError, match="simulated crash"):
        _ObjectStoreCrashAfterClaim(claims).put_if_absent(slot, b"W")
    assert not os.path.exists(slot)
    be = ObjectStoreCommitSlots(claims)
    assert be.put_if_absent(slot, b"loser") is False
    with open(slot, "rb") as fh:
        assert fh.read() == b"W"  # the crashed winner's claim holds
    assert claims[os.path.abspath(slot)].startswith("complete|")
    assert not [p for p in os.listdir(tmp_path) if p.endswith(".staged")]


def test_objectstore_wedged_slot_raises(tmp_path):
    claims: dict = {}
    slot = str(tmp_path / "00000000000000000001.json")
    claims[os.path.abspath(slot)] = (
        f"pending|pid:1:call:dead|{slot}.dead.staged"
    )
    with pytest.raises(RuntimeError, match="wedged"):
        ObjectStoreCommitSlots(claims).put_if_absent(slot, b"x")


def test_delta_and_iceberg_commit_through_objectstore(spark, tmp_path):
    """Both formats run their ordinary verbs with every log/metadata
    commit riding the object-store protocol (the model suites in
    test_delta_model.py run the full seeded sequences over this
    backend; this is the fast smoke twin)."""
    be = ObjectStoreCommitSlots({})
    t = DeltaLiteTable(str(tmp_path / "d"), commit_backend=be)
    df = spark.createDataFrame([(1, "a")], "id int, val string")
    t.write(df)
    t.write(spark.createDataFrame([(2, "b")], "id int, val string"),
            mode="append")
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 2]

    it = IcebergLiteTable(str(tmp_path / "i"), commit_backend=be)
    it.write(spark.createDataFrame([(1, 1.0)], "id int, v double"))
    it.write(spark.createDataFrame([(2, 2.0)], "id int, v double"),
             mode="append")
    assert sorted(r.id for r in it.read(spark).collect()) == [1, 2]


def test_objectstore_winner_survives_concurrent_recovery(tmp_path):
    """ADVICE r8 (medium): a loser that finds the winner's claim
    'pending' may _recover — promoting and DELETING the winner's
    staged object — while the live winner is between claim (step 2)
    and promote (step 3).  The winner's payload IS committed; its
    put_if_absent must return True, not raise FileNotFoundError (a
    spurious failure invites a retry = double append)."""
    claims: dict = {}
    slot = str(tmp_path / "00000000000000000001.json")
    be = ObjectStoreCommitSlots(claims)

    real_get = be._store.get
    fired = {"n": 0}

    def racing_get(key):
        # First GET is the winner's step-3 read of its own staged
        # object: before it lands, a concurrent loser recovers the
        # pending claim (promote + complete + delete staged).
        if fired["n"] == 0 and key.endswith(".staged"):
            fired["n"] += 1
            ObjectStoreCommitSlots(claims)._recover(os.path.abspath(slot))
        return real_get(key)

    be._store.get = racing_get
    assert be.put_if_absent(slot, b"WINNER") is True
    with open(slot, "rb") as fh:
        assert fh.read() == b"WINNER"
    assert claims[os.path.abspath(slot)].startswith("complete|")
    assert not [p for p in os.listdir(tmp_path) if p.endswith(".staged")]


def test_objectstore_recovery_racing_live_winner_reports_occupied(tmp_path):
    """The mirror race: a loser recovering a 'pending' claim sees no
    final object, but the live winner promotes and deletes its staged
    object before the loser's GET of it.  The slot holds the winner's
    bytes, so the loser must report it occupied — not raise
    FileNotFoundError or call the slot wedged."""
    claims: dict = {}
    slot = str(tmp_path / "00000000000000000001.json")
    key = os.path.abspath(slot)
    staged = f"{key}.live.staged"
    store = LocalObjectStore()
    store.put(staged, b"WINNER")
    claims[key] = f"pending|pid:1:call:live|{staged}"

    loser = ObjectStoreCommitSlots(claims)
    real_get = loser._store.get

    def racing_get(k):
        if k == staged:
            # the winner's step 3 lands first: PUT final, mark
            # complete, DELETE staged
            store.put(key, store.get(staged))
            claims[key] = "complete|pid:1:call:live"
            store.delete(staged)
        return real_get(k)

    loser._store.get = racing_get
    assert loser.put_if_absent(slot, b"loser") is False
    with open(slot, "rb") as fh:
        assert fh.read() == b"WINNER"
    assert claims[key].startswith("complete|")
    assert not [p for p in os.listdir(tmp_path) if p.endswith(".staged")]


def test_objectstore_wedged_slot_does_not_leak_staged(tmp_path):
    """ADVICE r8 (low): when _recover raises the wedged-slot error the
    loser must still clean up its own freshly staged object."""
    claims: dict = {}
    slot = str(tmp_path / "00000000000000000001.json")
    claims[os.path.abspath(slot)] = (
        f"pending|pid:1:call:dead|{slot}.dead.staged"
    )
    for _ in range(3):
        with pytest.raises(RuntimeError, match="wedged"):
            ObjectStoreCommitSlots(claims).put_if_absent(slot, b"x")
    leaked = [p for p in os.listdir(tmp_path) if p.endswith(".staged")]
    assert leaked == []


# -- S3ObjectStore adapter (r10) ----------------------------------------


class _StubS3Client:
    """Dict-backed boto3-shape client: just enough surface for the
    adapter's five verbs, with S3's error shapes (NoSuchKey ClientError
    lookalikes) so the missing-key mapping is exercised."""

    class _Err(Exception):
        def __init__(self, code):
            super().__init__(code)
            self.response = {"Error": {"Code": code}}

    def __init__(self):
        self.objects: dict[tuple[str, str], bytes] = {}

    def put_object(self, Bucket, Key, Body):
        self.objects[(Bucket, Key)] = bytes(Body)

    def get_object(self, Bucket, Key):
        if (Bucket, Key) not in self.objects:
            raise self._Err("NoSuchKey")
        import io

        return {"Body": io.BytesIO(self.objects[(Bucket, Key)])}

    def head_object(self, Bucket, Key):
        if (Bucket, Key) not in self.objects:
            raise self._Err("404")
        return {}

    def delete_object(self, Bucket, Key):
        self.objects.pop((Bucket, Key), None)
        return {}

    def get_paginator(self, name):
        assert name == "list_objects_v2"
        objects = self.objects

        class _Pag:
            def paginate(self, Bucket, Prefix):
                keys = sorted(
                    k for (b, k) in objects if b == Bucket
                    and k.startswith(Prefix)
                )
                # two pages to prove pagination is walked
                mid = (len(keys) + 1) // 2
                for chunk in (keys[:mid], keys[mid:]):
                    yield {"Contents": [{"Key": k} for k in chunk]}

        return _Pag()


def _s3_store():
    from data_lakehouse_platform_spark.sources.commit_backend import (
        S3ObjectStore,
    )

    return S3ObjectStore("bkt", prefix="warehouse",
                         client=_StubS3Client())


@pytest.mark.parametrize("mk", [LocalObjectStore, _s3_store])
def test_object_store_verb_conformance(tmp_path, mk):
    """Both stores satisfy the same verb contract: blind PUT, GET,
    EXISTS, idempotent DELETE, prefix LIST, FileNotFoundError on a
    missing GET — so ObjectStoreCommitSlots runs unchanged over
    either."""
    st = mk()
    base = str(tmp_path / "c")
    k = f"{base}/obj.bin"
    st.put(k, b"one")
    st.put(k, b"two")
    assert st.get(k) == b"two"
    assert st.exists(k)
    assert not st.exists(f"{base}/missing")
    with pytest.raises(FileNotFoundError):
        st.get(f"{base}/missing")
    st.delete(f"{base}/missing")  # idempotent
    st.put(f"{base}/obj2.bin", b"x")
    names = [p.rsplit("/", 1)[-1] for p in st.list(f"{base}/obj")]
    assert names == ["obj.bin", "obj2.bin"]
    st.delete(k)
    assert not st.exists(k)


def test_commit_slots_over_s3_adapter(tmp_path):
    """The full staged-claim-promote protocol over the S3 adapter:
    exactly one winner, loser's bytes never land, recovery works."""
    st = _s3_store()
    claims: dict[str, str] = {}
    a = ObjectStoreCommitSlots(claims, store=st)
    b = ObjectStoreCommitSlots(claims, store=st)
    path = str(tmp_path / "log" / "00000000000000000001.json")
    assert a.put_if_absent(path, b"winner")
    assert not b.put_if_absent(path, b"loser")
    assert st.get(os.path.abspath(path)) == b"winner"
    # no staged debris
    assert [
        p for p in st.list(os.path.abspath(path)) if ".staged" in p
    ] == []


def test_s3_adapter_key_mapping():
    """Filesystem-shaped keys map deterministically under the prefix
    with the leading slash stripped."""
    st = _s3_store()
    st.put("/tmp/t/a.json", b"x")
    assert ("bkt", "warehouse/tmp/t/a.json") in st._c.objects
    assert st.list("/tmp/t/") == ["/tmp/t/a.json"]


@pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_S3_ENDPOINT"),
    reason="SPARK_GRAFT_S3_ENDPOINT not set (no live S3/MinIO here)",
)
def test_s3_adapter_live_endpoint(tmp_path):
    """Same conformance against a real endpoint the moment one exists
    (MinIO: SPARK_GRAFT_S3_ENDPOINT=http://host:9000 plus the usual
    AWS_* env credentials and SPARK_GRAFT_S3_BUCKET)."""
    from data_lakehouse_platform_spark.sources.commit_backend import (
        S3ObjectStore,
    )

    st = S3ObjectStore(
        os.environ.get("SPARK_GRAFT_S3_BUCKET", "dlp-test"),
        prefix="conformance",
        endpoint_url=os.environ["SPARK_GRAFT_S3_ENDPOINT"],
    )
    k = f"/probe/{os.getpid()}/obj.bin"
    st.put(k, b"one")
    st.put(k, b"two")
    assert st.get(k) == b"two"
    assert st.exists(k)
    st.delete(k)
    assert not st.exists(k)
