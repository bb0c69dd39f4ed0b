"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH,
SimHash.

Scale design (the whole point — these run over ~100 TB of documents):

* exact: one hash-keyed groupBy; the hash (md5) is computed map-side
  so the shuffle carries 16-byte keys, not document bodies.
* n-gram Jaccard: NEVER a cross join. Candidates come from an
  equi-join on shared shingles (shuffle keyed by shingle), with a
  document-frequency cap on join-key width so a stop-shingle can't
  produce an O(n²) bucket — the classic prefix-filter trick. Exact
  Jaccard is then computed only for candidate pairs.
* MinHash/LSH: fixed-width signatures (n_hashes × 16-byte md5 mins)
  replace the document; candidate generation joins on (band, band
  key) — bounded buckets, tunable recall via bands×rows.
* SimHash: one aggregation to a 16-bit fingerprint, near-dup groups
  are exact-match buckets (hamming-0); wider hamming search would
  union rotations of the key, same join shape.

All hashing is md5-based so the DuckDB oracle can reproduce results
bit-for-bit (xxhash64 exists in both engines but with different
output). Reference analog: the reference dedups via SCD2 change
detection with xxhash64 (gold_dim_products.py:85-87); the corpus
near-dup family generalizes that to content similarity.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Content-hash groups: (content_hash, keep_id, n_copies)."""
    return df.groupBy(
        F.md5(F.col(text_col).cast("binary")).alias("content_hash")
    ).agg(
        F.min(id_col).alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def _shared_shingle_candidates(
    shingles: DataFrame, id_col: str, max_df: int
) -> DataFrame:
    """Shared candidate generation for the set-similarity pair family:
    (doc_a, doc_b, n_inter, n_a, n_b) for every pair sharing at least
    one shingle whose document frequency is <= max_df (the prefix-
    filter cap that keeps boilerplate from exploding the join); set
    sizes use the FULL shingle sets of both documents.

    ``filtered`` is persisted for its two pair-join sides (r10): the
    r10 plan audit disproved the earlier assumption that ReuseExchange
    fuses the duplicated subtrees — column pruning makes each branch's
    exchange canonically DIFFERENT, so the executed adaptive plan
    showed documents scanned six times and zero ReusedExchange nodes.
    Measured at sf0.1: persist-filtered 1.8s steady / 2.6s first-run
    vs 2.1s / 10.3s unpersisted (the first-run gap is six duplicate
    tokenize+explode subtrees compiling and executing).  At corpus
    scale the cache is the capped shingle stream (MEMORY_AND_DISK, so
    it spills rather than OOMs) traded against two full corpus
    re-tokenizations.  `shingles` itself stays unpersisted: its three
    consumers measured a wash, and two of them are the aggregations
    that produce `filtered` anyway."""
    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    dfreq = shingles.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    filtered = shingles.join(
        dfreq.filter(F.col("df") <= max_df).select("shingle"), "shingle"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    a = filtered.select(F.col(id_col).alias("doc_a"), "shingle")
    b = filtered.select(F.col(id_col).alias("doc_b"), "shingle")
    inter = (
        a.join(b, ["shingle"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
    return inter.join(sa, "doc_a").join(sb, "doc_b")


def jaccard_pairs(
    shingles: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.2,
    max_df: int = 100,
) -> DataFrame:
    """Near-dup pairs with exact Jaccard >= threshold.

    ``shingles``: (id, shingle) DISTINCT rows. Candidates come from
    :func:`_shared_shingle_candidates` (both engines apply the same
    df cap, so results stay comparable).
    """
    return (
        _shared_shingle_candidates(shingles, id_col, max_df)
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    shingles: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.6,
    max_df: int = 100,
) -> DataFrame:
    """Near-dup pairs by shingle CONTAINMENT >= threshold:
    ``|A ∩ B| / min(|A|, |B|)``.

    Same candidate generation as :func:`jaccard_pairs` (shared-shingle
    equi-join with a df cap), different score: containment catches
    subset duplication — a short doc embedded verbatim inside a longer
    one scores near 1.0 here but low on Jaccard because the union is
    dominated by the long doc. The standard second gate in corpus
    dedup (RefinedWeb-style) for quote/excerpt removal.
    """
    return (
        _shared_shingle_candidates(shingles, id_col, max_df)
        .select(
            "doc_a",
            "doc_b",
            F.col("n_inter").cast("bigint").alias("n_inter"),
            (F.col("n_inter").cast("double") / F.least("n_a", "n_b")).alias(
                "containment"
            ),
        )
        .filter(F.col("containment") >= threshold)
    )


def _minhash_agg_exprs(n_hashes: int) -> list[F.Column]:
    """n_hashes min-hash aggregates from ceil(n/4) md5 calls: each
    128-bit md5 splits into four independent 8-hex (32-bit) hash
    values — the standard split-one-strong-hash trick, ~3x cheaper
    than one md5 per permutation (measured 3.6s → 1.1s at sf0.1)."""
    aggs = []
    for k in range(n_hashes):
        seed, piece = divmod(k, 4)
        m = F.md5(F.concat(F.lit(f"{seed}|"), F.col("shingle")).cast("binary"))
        aggs.append(F.min(F.substring(m, 1 + 8 * piece, 8)).alias(f"h{k}"))
    return aggs


def minhash_signatures(
    shingles: DataFrame, id_col: str = "doc_id", n_hashes: int = 16
) -> DataFrame:
    """One row per doc with columns h0..h{n-1}: min over shingles of
    the k-th 8-hex slice of md5(seed || '|' || shingle). Deterministic,
    oracle-reproducible."""
    return shingles.groupBy(id_col).agg(*_minhash_agg_exprs(n_hashes))


def minhash_signatures_inline(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = 16,
) -> DataFrame:
    """Zero-shuffle MinHash signatures via array higher-order functions.

    Equivalent to explode→distinct→groupBy-min (``minhash_signatures``)
    because MIN is insensitive to duplicate shingles — signatures become
    a pure map pass: no explode blow-up, no distinct/agg shuffle.

    Measured trade-off (sf0.1, local[32]): the exploded form is ~3.5x
    FASTER here despite its two shuffles, because Spark evaluates
    higher-order-function lambdas per element outside whole-stage
    codegen while the exploded md5+groupBy pipeline stays vectorized.
    Use this variant only when shuffle capacity — not CPU — is the
    binding constraint (e.g. a congested 1000-executor shuffle tier);
    the registry query uses the exploded form. Docs with fewer than k
    tokens have no shingles and are dropped (same as the exploded form).
    """
    from data_lakehouse_platform_spark.operators.text import shingle_expr, ws_tokens

    def _hasher(seed: str, piece: int):
        return lambda s: F.substring(
            F.md5(F.concat(F.lit(seed), s).cast("binary")), 1 + 8 * piece, 8
        )

    mins = []
    for j in range(n_hashes):
        seed, piece = divmod(j, 4)
        mins.append(
            F.array_min(F.transform(F.col("__sh"), _hasher(f"{seed}|", piece))).alias(f"h{j}")
        )
    return (
        docs.select(id_col, ws_tokens(text_col).alias("__toks"))
        .select(id_col, shingle_expr("__toks", k).alias("__sh"))
        .filter(F.size("__sh") > 0)
        .select(id_col, *mins)
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = 16,
    bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Band the signature, bucket-join: pairs sharing >=1 band key.
    Output: (doc_a, doc_b, n_shared_bands).

    ``max_bucket`` is the hot-bucket safety valve for corpus scale: a
    bucket holding B docs emits B^2/2 pairs, so 10k byte-identical
    boilerplate docs in one bucket mean 5*10^7 pairs from a single
    reducer. Buckets larger than the cap are dropped from PAIR
    generation — their members are, by construction, near-identical
    crowds that exact dedup (dedup_exact) already collapses more
    cheaply; SURVEY §4 documents the contract. None (default)
    preserves exact pair semantics for the oracle-checked queries."""
    rows_per_band = n_hashes // bands
    stack_args = []
    for b in range(bands):
        cols = ",".join(f"h{b * rows_per_band + r}" for r in range(rows_per_band))
        stack_args.append(f"{b}, md5(cast(concat_ws(',', {cols}) as binary))")
    banded = signatures.select(
        id_col,
        F.expr(f"stack({bands}, {', '.join(stack_args)}) as (band, bkey)"),
    ).select(id_col, "band", "bkey")
    # Both join sides (and the bucket-count filter, when capped) consume
    # `banded`; without this persist each consumer re-runs the ENTIRE
    # upstream shingle+MinHash pipeline (3 full corpus passes observed).
    # The banded index is n_docs x bands narrow rows — this is the small
    # thing you keep, the classic LSH index materialization.
    from pyspark import StorageLevel

    banded = banded.persist(StorageLevel.MEMORY_AND_DISK)
    if max_bucket is not None:
        small = (
            banded.groupBy("band", "bkey")
            .agg(F.count(F.lit(1)).alias("__bn"))
            .filter(F.col("__bn") <= max_bucket)
            .select("band", "bkey")
        )
        banded = banded.join(small, ["band", "bkey"])

    a = banded.select(F.col(id_col).alias("doc_a"), "band", "bkey")
    b2 = banded.select(F.col(id_col).alias("doc_b"), "band", "bkey")
    return (
        a.join(b2, ["band", "bkey"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


_ODD_HEX = ("1", "3", "5", "7", "9", "b", "d", "f")


def simhash(shingles: DataFrame, id_col: str = "doc_id", bits: int = 16) -> DataFrame:
    """bits-bit SimHash over a document's distinct shingles (unit
    weights): bit i of md5(shingle) is the parity of hex digit i;
    fingerprint bit i is set iff the sum of (+1/-1) contributions is
    positive. Output: (id, simhash, bucket_size)."""
    h = F.md5(F.col("shingle").cast("binary"))
    sums = [
        F.sum(
            F.when(F.substring(h, i + 1, 1).isin(*_ODD_HEX), 1).otherwise(-1)
        ).alias(f"s{i}")
        for i in range(bits)
    ]
    per_doc = shingles.groupBy(id_col).agg(*sums)
    fingerprint = None
    for i in range(bits):
        term = F.when(F.col(f"s{i}") > 0, F.lit(2**i)).otherwise(F.lit(0))
        fingerprint = term if fingerprint is None else fingerprint + term
    out = per_doc.select(id_col, fingerprint.cast("long").alias("simhash"))
    return out.withColumn(
        "bucket_size", F.count(F.lit(1)).over(Window.partitionBy("simhash"))
    )


def incremental_dedup(
    batch: DataFrame,
    ledger_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_every: int = 8,
) -> DataFrame:
    """Cross-batch exact dedup against a persistent content-hash
    LEDGER: rows whose hash appeared in ANY earlier batch are dropped,
    first-in-batch wins among same-batch copies, and the ledger (a
    Delta table of hashes, sources/delta_lite.py) advances atomically
    with each call — the production shape for continuously-ingested
    corpora, where "have we seen this document before?" must survive
    restarts and span every batch ever processed.

    Plan: one md5 map over the batch, a within-batch keep-first
    (min-id per hash), and a LEFT ANTI join against the ledger — the
    anti join keys on the 16-byte hash, so at 100 TB the probe is a
    hash-shuffle of the (small) batch against the (large, but
    hash-bucketed) ledger.

    Each call APPENDS only its new hashes — O(batch) write cost, not
    O(corpus) write amplification — and a read of the latest version
    is the union of every append.  When a call would make the
    ``compact_every``-th append since the last fold, it first folds
    the ledger: OPTIMIZE rewrites the accumulated small files, then
    VACUUM (retain the latest version) reclaims the superseded ones —
    the same compaction rhythm an LSM tree uses, so live files and
    dead bytes stay bounded.  The fold runs BEFORE the ledger read, so
    the returned frame reads only files that survive the call; the
    next fold deletes them, so consume the result before the next
    call on the same ledger.

    NULL text hashes as empty text (``md5(coalesce(text, ''))``), so a
    null-document per batch can never ride through the anti join
    forever — the first null/empty doc wins, the rest dedup away.

    The ledger commit is txn-less here; when batches can replay, stamp
    the caller's commits with a Delta ``txn`` the way
    streaming/pipelines.upsert_stream_to_delta_lite does. Exact
    cross-batch semantics assume one writer at a time (concurrent
    batches cannot see each other's in-flight hashes — serialize
    ingest or accept per-pair duplicates between exactly-concurrent
    batches).

    Returns the surviving (new-content) rows of ``batch``.
    """
    from data_lakehouse_platform_spark.sources.delta_lite import DeltaLiteTable

    spark = batch.sparkSession
    ledger = DeltaLiteTable(ledger_path)

    hashed = batch.withColumn(
        "__h", F.md5(F.coalesce(F.col(text_col), F.lit("")).cast("binary"))
    )
    w = Window.partitionBy("__h").orderBy(F.col(id_col).asc())
    batch_first = (
        hashed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )

    fresh = batch_first
    if ledger.latest_version() is not None:
        ops = [c["operation"] for c in reversed(ledger.history())]
        n_appends = ops.index("OPTIMIZE") if "OPTIMIZE" in ops else len(ops)
        if n_appends + 1 >= compact_every:
            ledger.optimize(spark)
            ledger.vacuum(retain_last=1)
        seen = ledger.read(spark).select(F.col("content_hash").alias("__h"))
        fresh = batch_first.join(seen, "__h", "left_anti")

    ledger.write(fresh.select(F.col("__h").alias("content_hash")).distinct())
    return fresh.drop("__h")
