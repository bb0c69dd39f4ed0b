"""The zero-shuffle MinHash variant must agree exactly with the
exploded/grouped form (MIN is duplicate-insensitive, so both compute
the same signatures)."""

from __future__ import annotations

import os

from data_lakehouse_platform_spark.catalog import load_table
from data_lakehouse_platform_spark.operators import dedup as D
from data_lakehouse_platform_spark.operators import text as T
from tests.conftest import SF_DIR


def test_minhash_inline_matches_exploded(spark):
    docs = load_table(spark, SF_DIR, "documents")
    sh = T.explode_shingles(docs, "doc_id", "text", k=3)
    exploded = {tuple(r) for r in D.minhash_signatures(sh, n_hashes=8).collect()}
    inline = {
        tuple(r) for r in D.minhash_signatures_inline(docs, n_hashes=8).collect()
    }
    assert exploded == inline and exploded


def _union_find_components(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonicalize: min node id per component
    comp = {}
    for x in parent:
        comp[x] = find(x)
    return comp


def test_connected_components_matches_union_find(spark):
    """Min-label propagation vs a driver-side union-find model, on a
    graph with a 6-node chain (diameter 5 — forces multiple rounds),
    a triangle, an isolated pair, and redundant/reversed edges."""
    from data_lakehouse_platform_spark.operators.components import connected_components

    edges = [
        (1, 2), (2, 3), (3, 4), (4, 5), (5, 6),   # chain
        (10, 11), (11, 12), (12, 10),             # triangle
        (20, 21), (21, 20), (20, 21),             # pair w/ dupes+reverse
        (30, 31),
    ]
    df = spark.createDataFrame(edges, "src: long, dst: long")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    want = _union_find_components(edges)
    assert got == want
    assert got[6] == 1 and got[12] == 10 and got[21] == 20


def test_dedup_cluster_keeper_invariants(spark):
    """Every cluster has exactly one keeper = its min doc_id, and
    cluster_size counts its members."""
    from collections import Counter

    from data_lakehouse_platform_spark.queries import all_queries

    rows = all_queries()["dedup_cluster"].build(spark, SF_DIR).collect()
    assert rows
    by_cluster = Counter(r["cluster_id"] for r in rows)
    for r in rows:
        assert r["cluster_size"] == by_cluster[r["cluster_id"]]
        assert r["is_keeper"] == int(r["doc_id"] == r["cluster_id"])
        assert r["cluster_id"] <= r["doc_id"]
    keepers = Counter(r["cluster_id"] for r in rows if r["is_keeper"])
    assert set(keepers) == set(by_cluster) and all(v == 1 for v in keepers.values())


def test_pagerank_fixed_matches_python_model(spark):
    """Fixed-point PageRank vs an integer-arithmetic python model on a
    small graph (star + chain): bit-equality after 3 rounds."""
    from data_lakehouse_platform_spark.operators.components import pagerank_fixed

    edges = [(1, 2), (1, 3), (1, 4), (4, 5), (5, 6)]
    df = spark.createDataFrame(edges, "src: long, dst: long")
    got = {r["node"]: r["rank_scaled"] for r in pagerank_fixed(df, rounds=3).collect()}

    SCALE, DAMP = 10**12, 85
    base = SCALE * (100 - DAMP) // 100
    sym = {}
    for a, b in edges:
        sym.setdefault(a, set()).add(b)
        sym.setdefault(b, set()).add(a)
    r = {n: SCALE for n in sym}
    for _ in range(3):
        contrib = {n: 0 for n in sym}
        for n, nbrs in sym.items():
            c = r[n] // len(nbrs)
            for m in nbrs:
                contrib[m] += c
        r = {n: base + (contrib[n] * DAMP) // 100 for n in sym}
    assert got == r
    # hub out-ranks leaves
    assert got[1] == max(got.values())


def test_lsh_hot_bucket_cap(spark):
    """max_bucket drops pair generation from oversized buckets (the
    identical-boilerplate blowup) while leaving small buckets intact."""
    from data_lakehouse_platform_spark.operators import dedup as D
    from data_lakehouse_platform_spark.operators import text as T

    rows = [(i, "same same same same text body here") for i in range(20)]
    rows += [(100, "unique words apple banana cherry date"),
             (101, "unique words apple banana cherry date")]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")
    sh = T.explode_shingles(docs, "doc_id", "text", k=3, distinct=False)
    sigs = D.minhash_signatures(sh, n_hashes=8)
    uncapped = D.lsh_candidate_pairs(sigs, n_hashes=8, bands=2).collect()
    capped = D.lsh_candidate_pairs(sigs, n_hashes=8, bands=2, max_bucket=5).collect()
    assert len(uncapped) >= 20 * 19 // 2  # identical crowd blows up
    capped_pairs = {(r["doc_a"], r["doc_b"]) for r in capped}
    assert capped_pairs == {(100, 101)}  # crowd suppressed, real pair kept


def test_incremental_dedup_ledger_spans_batches(spark, tmp_path):
    """Cross-batch dedup: the content-hash ledger persists between
    calls, so a document seen in batch 1 is dropped from batch 2 even
    under a different doc_id; within a batch the lowest id wins; the
    ledger is a Delta table (one append per batch)."""
    from data_lakehouse_platform_spark.operators.dedup import incremental_dedup
    from data_lakehouse_platform_spark.sources.delta_lite import DeltaLiteTable

    ledger = str(tmp_path / "ledger")
    b1 = spark.createDataFrame(
        [(1, "alpha text"), (2, "beta text"), (3, "alpha text")],
        "doc_id long, text string",
    )
    out1 = incremental_dedup(b1, ledger)
    assert sorted(r["doc_id"] for r in out1.collect()) == [1, 2]  # 3 is a dup of 1

    b2 = spark.createDataFrame(
        [(10, "alpha text"), (11, "gamma text"), (12, "gamma text")],
        "doc_id long, text string",
    )
    out2 = incremental_dedup(b2, ledger)
    assert sorted(r["doc_id"] for r in out2.collect()) == [11]  # alpha seen in b1

    t = DeltaLiteTable(ledger)
    assert t.latest_version() == 1  # one ledger commit per batch
    # Log-structured: each version APPENDS only its batch's new hashes
    # (O(batch) write cost, not an O(corpus) rewrite per batch)...
    assert t.table_changes(spark, 0, 1).count() == 1  # just gamma
    # ...and the latest version is the union across appends.
    assert t.read(spark).count() == 3  # alpha, beta, gamma
    # empty batch: nothing survives, the ledger gains an empty append
    out3 = incremental_dedup(
        spark.createDataFrame([], "doc_id long, text string"), ledger
    )
    assert out3.count() == 0
    assert t.latest_version() == 2 and t.read(spark).count() == 3
    # and the ledger still blocks everything already seen
    out4 = incremental_dedup(
        spark.createDataFrame([(99, "beta text")], "doc_id long, text string"), ledger
    )
    assert out4.count() == 0


def test_incremental_dedup_null_text_does_not_leak(spark, tmp_path):
    """md5(NULL) is NULL and a left-anti join never matches NULL keys,
    so null-text rows used to ride through dedup forever. They now
    hash as empty text: the first one wins, every later one dedups."""
    from data_lakehouse_platform_spark.operators.dedup import incremental_dedup

    ledger = str(tmp_path / "ledger")
    b1 = spark.createDataFrame([(1, None), (2, None)], "doc_id long, text string")
    out1 = incremental_dedup(b1, ledger)
    assert [r["doc_id"] for r in out1.collect()] == [1]  # first null wins
    b2 = spark.createDataFrame([(3, None), (4, "")], "doc_id long, text string")
    out2 = incremental_dedup(b2, ledger)
    # null ≡ '' under the sentinel; both were seen in batch 1
    assert out2.count() == 0


def test_incremental_dedup_compaction_bounds_files(spark, tmp_path):
    """Every compact_every-th append first folds the ledger (OPTIMIZE,
    then VACUUM of the superseded files) — live files and dead bytes
    stay bounded under continuous ingest, and dedup stays exact across
    the fold.  The fold runs before the ledger read, so even a folding
    call's lazy result never reads a file its own vacuum deleted."""
    from data_lakehouse_platform_spark.operators.dedup import incremental_dedup
    from data_lakehouse_platform_spark.sources.delta_lite import DeltaLiteTable

    ledger = str(tmp_path / "ledger")
    for i in range(7):
        out = incremental_dedup(
            spark.createDataFrame(
                [(i, f"doc {i}"), (10 + i, "doc 0")], "doc_id long, text string"
            ),
            ledger,
            compact_every=3,
        )
        want = [0] if i == 0 else [i]  # "doc 0" is only new in call 1
        assert [r["doc_id"] for r in out.collect()] == want
    t = DeltaLiteTable(ledger)
    ops = [c["operation"] for c in t.history()]
    assert ops.count("OPTIMIZE") == 3  # calls 3, 5 and 7 folded
    # the last fold left one compacted file plus call 7's append, and
    # vacuum removed every file the latest version does not reference
    _meta, live_files, _proto = t._replay(t.latest_version())
    live = {os.path.abspath(os.path.join(ledger, p)) for p in live_files}
    on_disk = {
        os.path.abspath(os.path.join(root, f))
        for root, _dirs, files in os.walk(ledger)
        if "_delta_log" not in root
        for f in files
        if f.endswith(".parquet")
    }
    assert on_disk == live
    last_adds = [
        a for a in t._actions(t.latest_version()) if "add" in a
    ]
    assert len(live) <= 1 + len(last_adds)
    # exactness across the fold: everything ever seen still blocks
    replay = spark.createDataFrame(
        [(100 + i, f"doc {i}") for i in range(7)], "doc_id long, text string"
    )
    assert incremental_dedup(replay, ledger, compact_every=3).count() == 0
