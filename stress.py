#!/usr/bin/env python
"""Scale-stress kit: adversarial skew shapes with HARD task-input
assertions from the driver's status store (``plans.profile``).

The property/oracle tests prove the skew-safe operators are
*equivalent* to their plain twins; nothing there proves the BOUNDS at
a scale where they bite.  This job generates synthetic hot-key data at
a size where an unbounded plan visibly funnels the key through one
task, runs both the plain and the safe plan, and asserts — from the
per-stage taskSummary (quantile 1.0 = the worst task) — that the safe
plan's worst task reads a small fraction of what the plain plan's
does.  Self-calibrating: the plain twin's measured wall is the
denominator, so the assertion never goes stale as data sizes change.

Shapes (1-3 mirror the round-2 scale-safety rewrites; 4 the round-3
attribution rewrite; 5 proves the STREAMING bounded-state claims):
  1. sessionize_salted vs sessionize — one user with 1M events;
  2. LSH candidate pairs with the hot-bucket cap — a 10k-doc
     identical-text crowd;
  3. with_grouped_rank vs a plain partitionBy(segment) window — one
     segment holding 80% of 2M rows;
  4. pair-free attribution vs the 400M-pair interval join it avoids;
  5. eventlog source -> stateful order tracker at ~0.9M events with a
     500k-item hot key — asserts from the streaming query's
     stateOperators metrics (NOT wall time) that state rows track
     orders-in-flight, not events seen;
  6. Iceberg manifest pruning (files planned + records scanned);
  7. file-scoped Delta MERGE on one hive bucket of a 2,048-file table;
  8. entity-resolution whale block — 100k rows in ONE blocking key
     through the deletion-signature edit-distance join: worst task
     stays linear (<=30x input) where the blocked self-join would
     build C(100k, 2) ~ 5e9 pairs, and 200 planted distance-1 dups
     must ALL be found (the SymSpell completeness proof, executed);
  9. delta_lite STREAMING SOURCE incrementality — a 1M-row table plus
     20 appends, drained in availableNow waves on one checkpoint:
     wave 2 must deliver EXACTLY the 20k appended rows (never
     re-serving the million-row bootstrap), and an OPTIMIZE between
     waves must contribute ZERO rows (dataChange=false invisibility)
     — the per-batch work ∝ new data claim, executed at a size where
     re-serving the snapshot would be a 50x blowup;
 10. data-skipping scan bounds (delta point predicate on a 256-file
     table + iceberg manifest point prune);
 12. MERGE-ON-READ UPSERT (r8 equality-delete writer): a key-hose
     into a 64-partition 2M-row Iceberg table whose commit may only
     touch SOURCE-sized data — zero table files read or rewritten,
     bytes written ~ source-sized — the claim that a 100 TB table
     absorbs a streaming upsert in seconds.  (Number 11 is unused:
     Iceberg has no copy-on-write MERGE; shape 7 covers Delta's.)

Run: python stress.py   (~3-5 min on local[32]; exit 0 = all bounds hold)
"""

from __future__ import annotations

import os
import sys
import time

from pyspark.sql import Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from data_lakehouse_platform_spark.operators.dedup import (  # noqa: E402
    lsh_candidate_pairs,
    minhash_signatures,
)
from data_lakehouse_platform_spark.operators.ranking import (  # noqa: E402
    with_grouped_rank,
)
from data_lakehouse_platform_spark.operators.sessionize import (  # noqa: E402
    sessionize,
    sessionize_salted,
)
from data_lakehouse_platform_spark.operators.text import (  # noqa: E402
    explode_shingles,
)
from data_lakehouse_platform_spark.plans.profile import profile  # noqa: E402
from data_lakehouse_platform_spark.session import get_spark  # noqa: E402


def run_shape(spark, name, fn):
    """Run ``fn`` and return its worst single-task input: the max of
    shuffle-read and scan records at quantile 1.0 over every stage it
    completed."""
    with profile(spark) as rec:
        result = fn()
    worst = rec["max_task_records"]
    print(f"[{name}] result={result} worst_task_records={worst:,} "
          f"wall={rec['wall_s']:.1f}s", flush=True)
    return worst


def main() -> None:
    spark = get_spark("dlp-stress", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    failures: list[str] = []

    # ---- shape 1: hyperactive user -------------------------------------
    HOT = 1_000_000
    hot = spark.range(HOT).select(
        F.lit(0).alias("user_id"),
        F.col("id").alias("event_id"),
        # one event every ~2.6s for 30 days -> sessions break on the gap
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000) + F.col("id") * 2_600_000
        ).alias("ts"),
        (F.col("id") % 97).cast("double").alias("value"),
    )
    normal = spark.range(64_000).select(
        (F.col("id") % 10_000 + 1).alias("user_id"),
        (F.col("id") + HOT).alias("event_id"),
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000) + (F.col("id") % 720) * 3_600_000_000
        ).alias("ts"),
        F.lit(1.0).alias("value"),
    )
    events = hot.unionAll(normal)
    events = events.repartition(32, "event_id").persist()
    n_events = events.count()

    plain_max = run_shape(
        spark, "sessionize_plain",
        lambda: sessionize(events, "user_id", "ts", "event_id").count(),
    )
    salted_max = run_shape(
        spark, "sessionize_salted",
        lambda: sessionize_salted(events, "user_id", "ts", "event_id").count(),
    )
    # the plain window funnels the hot user's 1M rows through ONE task
    if plain_max < HOT:
        failures.append(
            f"shape1 calibration: plain window worst task {plain_max:,} "
            f"< {HOT:,} — the adversarial shape is not adversarial"
        )
    if salted_max > 0.3 * plain_max:
        failures.append(
            f"shape1 BOUND: salted worst task {salted_max:,} not < 30% of "
            f"plain {plain_max:,}"
        )
    events.unpersist()

    # ---- shape 2: LSH identical-text crowd, cap on ---------------------
    CROWD, CAP = 10_000, 1_000
    crowd = spark.range(CROWD).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate text repeated across the crowd "
              "of documents again and again").alias("text"),
    )
    uniq = spark.range(5_000).select(
        (F.col("id") + CROWD).alias("doc_id"),
        F.concat(
            F.lit("unique document number "),
            F.col("id").cast("string"),
            F.lit(" with distinct content tokens "),
            F.md5(F.col("id").cast("string")),
        ).alias("text"),
    )
    docs = crowd.unionAll(uniq).repartition(32).persist()
    docs.count()

    def lsh_capped():
        sh = explode_shingles(docs, "doc_id", "text", k=3, distinct=False)
        sigs = minhash_signatures(sh, n_hashes=16)
        return lsh_candidate_pairs(
            sigs, n_hashes=16, bands=4, max_bucket=CAP
        ).count()

    lsh_max = run_shape(spark, "lsh_capped", lsh_capped)
    # without the cap the crowd emits ~CROWD^2/2 = 5e7 pairs through the
    # crowd's buckets; with it, no task may read more than a small
    # multiple of the corpus (pair generation sees only <=CAP buckets).
    bound = 20 * (CROWD + 5_000)
    if lsh_max > bound:
        failures.append(
            f"shape2 BOUND: capped LSH worst task {lsh_max:,} > {bound:,}"
        )
    docs.unpersist()

    # ---- shape 3: grouped rank on a skewed segment ---------------------
    N, SEGS = 2_000_000, 5
    orders = spark.range(N).select(
        F.col("id").alias("o_orderkey"),
        # 80% of rows land in segment 0
        F.when(F.col("id") % 5 < 4, 0).otherwise((F.col("id") % 5).cast("int"))
        .alias("seg"),
        (F.pmod(F.col("id") * 2654435761, F.lit(1_000_000)))
        .cast("double").alias("price"),
    ).repartition(32, "o_orderkey").persist()
    orders.count()

    # NOTE: a `rn <= k` filter would let Spark's WindowGroupLimit prune
    # map-side and the plain window never sees the skew; summing EVERY
    # row's rank forces the full per-segment sort the rewrite exists for.
    def plain_rank():
        w = Window.partitionBy("seg").orderBy("price", "o_orderkey")
        return (
            orders.withColumn("rn", F.row_number().over(w))
            .agg(F.sum("rn")).collect()[0][0]
        )

    def bucketed_rank():
        ranked = with_grouped_rank(
            orders, ["seg"], [F.col("price"), F.col("o_orderkey")],
            F.col("price"), buckets=64, rn_col="rn",
        )
        return ranked.agg(F.sum("rn")).collect()[0][0]

    plain_sum = {}
    plain_rank_max = run_shape(
        spark, "grouped_rank_plain",
        lambda: plain_sum.setdefault("v", plain_rank()),
    )
    bucketed_sum = {}
    bucketed_max = run_shape(
        spark, "grouped_rank_bucketed",
        lambda: bucketed_sum.setdefault("v", bucketed_rank()),
    )
    if plain_sum["v"] != bucketed_sum["v"]:
        failures.append(
            f"shape3 EQUIVALENCE: sum(rn) plain {plain_sum['v']} != "
            f"bucketed {bucketed_sum['v']}"
        )
    if plain_rank_max < int(0.75 * N):
        failures.append(
            f"shape3 calibration: plain window worst task {plain_rank_max:,} "
            f"< {int(0.75 * N):,} — shape not adversarial"
        )
    if bucketed_max > 0.3 * plain_rank_max:
        failures.append(
            f"shape3 BOUND: bucketed worst task {bucketed_max:,} not < 30% "
            f"of plain {plain_rank_max:,}"
        )
    orders.unpersist()

    # ---- shape 4: attribution whale ------------------------------------
    # One user with WHALE_T touches and WHALE_P purchases all inside one
    # 7-day lookback: the pairwise interval join would materialize
    # ~WHALE_T x WHALE_P rows (4e8 here — unrunnable), the pair-free
    # probe-window plan streams O(WHALE_T + 2*WHALE_P) rows through one
    # per-user sort.  Assert the worst task stays linear in the input.
    from data_lakehouse_platform_spark.operators.attribution import (
        linear_attribution,
    )

    WHALE_T, WHALE_P = 400_000, 1_000
    base_us = 1_700_000_000_000_000
    whale_t = spark.range(WHALE_T).select(
        F.col("id").alias("event_id"),
        # all touches inside ~6.5 days
        F.timestamp_micros(base_us + F.col("id") * 1_400_000).alias("ts"),
        F.lit(7).alias("user_id"),
        F.when(F.col("id") % 2 == 0, "click").otherwise("view").alias(
            "event_type"
        ),
        F.lit(0.0).alias("value"),
        F.lit("{}").alias("props"),
    )
    whale_p = spark.range(WHALE_P).select(
        (F.col("id") + WHALE_T).alias("event_id"),
        F.timestamp_micros(
            base_us + F.lit(560_000_000_000) + F.col("id") * 1_000_000
        ).alias("ts"),
        F.lit(7).alias("user_id"),
        F.lit("purchase").alias("event_type"),
        (F.col("id") % 89).cast("double").alias("value"),
        F.lit("{}").alias("props"),
    )
    attr_events = whale_t.unionByName(whale_p).repartition(32, "event_id").persist()
    n_attr = attr_events.count()

    attr_out = {}
    attr_max = run_shape(
        spark, "attribution_pair_free",
        lambda: attr_out.setdefault(
            "v",
            sorted(
                (r.touch_type, r.n_touches)
                for r in linear_attribution(attr_events).collect()
            ),
        ),
    )
    pairs_avoided = WHALE_T * WHALE_P  # what the interval join would build
    if attr_max > 3 * n_attr:
        failures.append(
            f"shape4 BOUND: pair-free attribution worst task {attr_max:,} "
            f"> 3x input {n_attr:,} (pairwise would be {pairs_avoided:,})"
        )
    # sanity: the whale's touches were actually credited
    total_touches = sum(n for _, n in attr_out["v"])
    if total_touches <= 0:
        failures.append("shape4 calibration: no touches credited")
    attr_events.unpersist()

    # ---- shape 5: streaming state eviction under a hot-key flood -------
    # ~0.9M items through eventlog -> applyInPandasWithState order
    # tracker: 80k orders complete across micro-batch boundaries (state
    # must persist, then EVICT), 1k orders stay open, and ONE hot order
    # receives 500k items that repeat 5 product ids (num_products=6, so
    # it never completes).  Bounded state = numRowsTotal tracks
    # orders-in-flight (~1k), not orders seen (81k) and not events
    # (0.9M); the hot key's half-million rows must collapse to ONE
    # state row.  Metrics come from the query's stateOperators — wall
    # time proves nothing about state.
    import os
    import shutil
    import tempfile

    from data_lakehouse_platform_spark.sources.eventlog_stream import (
        EventLogStreamDataSource,
        append_segment,
    )
    from data_lakehouse_platform_spark.streaming.order_tracker import (
        track_order_completion,
    )

    DONE, OPEN, HOT_ITEMS, WAVES = 80_000, 1_000, 500_000, 4
    sdir = tempfile.mkdtemp(prefix="stress-shape5-")
    log_dir = os.path.join(sdir, "log")
    ckpt = os.path.join(sdir, "ckpt")

    def _item(order, prod, num):
        return {"order_id": f"o{order}", "product_id": f"p{prod}",
                "num_products": num, "customer_id": order}

    waves: list[list[dict]] = [[] for _ in range(WAVES)]
    for o in range(DONE):
        w = o % WAVES
        for i in range(4):  # 4 items now, the 5th in a DIFFERENT batch
            waves[w].append(_item(o, i, 5))
        waves[(w + 1) % WAVES].append(_item(o, 4, 5))
    for o in range(OPEN):  # forever missing items 3..5
        for i in range(3):
            waves[o % WAVES].append(_item(DONE + 1 + o, i, 6))
    for w in range(WAVES):  # the hot key: dupes must not grow state
        for i in range(HOT_ITEMS // WAVES):
            waves[w].append(_item(DONE, i % 5, 6))
    n_stream_events = sum(len(wv) for wv in waves)

    spark.dataSource.register(EventLogStreamDataSource)
    items = (
        spark.readStream.format("eventlog")
        .schema(
            "order_id string, product_id string, "
            "num_products int, customer_id long"
        )
        .option("path", log_dir)
        .load()
    )
    # One availableNow run per wave on a SHARED checkpoint: state
    # persists in the state store across query restarts (the
    # resume-exactly-once contract), and each wave is guaranteed its
    # own micro-batch — so completion-then-eviction demonstrably
    # crosses batch boundaries.  (A continuous trigger would spin
    # no-data batches forever for processing-time timeouts.)
    out_dir = os.path.join(sdir, "out")
    t0 = time.perf_counter()
    state_rows = None
    for w in range(WAVES):
        append_segment(log_dir, waves[w])
        q = (
            track_order_completion(items)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        for prog in reversed(q.recentProgress):
            ops = prog.get("stateOperators") or []
            if ops and ops[0].get("numRowsTotal") is not None:
                state_rows = int(ops[0]["numRowsTotal"])
                break
    wall5 = time.perf_counter() - t0
    n_complete = (
        spark.read.parquet(out_dir).where("status = 'complete'").count()
    )
    shutil.rmtree(sdir, ignore_errors=True)
    total_keys = DONE + OPEN + 1
    print(f"[stream_state] events={n_stream_events:,} complete={n_complete:,} "
          f"state_rows={state_rows} keys_seen={total_keys:,} "
          f"wall={wall5:.1f}s", flush=True)
    if n_complete != DONE:
        failures.append(
            f"shape5 EQUIVALENCE: {n_complete:,} completed orders != {DONE:,}"
        )
    if state_rows is None:
        failures.append("shape5: no stateOperators metrics reported")
    else:
        # in-flight bound: open orders + the hot key, with slack for
        # orders whose final item races the last batch; far below both
        # keys-seen and events.
        if state_rows > 3 * (OPEN + 1):
            failures.append(
                f"shape5 BOUND: state rows {state_rows:,} > 3x in-flight "
                f"orders {OPEN + 1:,} — completed orders not evicted"
            )
        if state_rows >= 0.05 * total_keys:
            failures.append(
                f"shape5 BOUND: state rows {state_rows:,} >= 5% of keys "
                f"seen {total_keys:,}"
            )

    # ------------------------------------------------------------------
    # shape 6: Iceberg manifest pruning — a partition_filter read of a
    # 200-partition table must touch ~1/200th of the records and plan
    # ~1/200th of the files, from MANIFEST metadata alone.
    # ------------------------------------------------------------------
    import shutil
    import tempfile

    from pyspark.sql import functions as _F

    from data_lakehouse_platform_spark.sources.iceberg_lite import (
        IcebergLiteTable,
    )

    N_PART = 200
    ROWS_PER = 10_000
    ice_dir = tempfile.mkdtemp(prefix="stress_ice_")
    shutil.rmtree(ice_dir)
    ice = IcebergLiteTable(ice_dir)
    ice.write(
        spark.range(N_PART * ROWS_PER).select(
            _F.col("id"),
            (_F.col("id") % N_PART).cast("int").alias("bucket"),
            (_F.col("id") * 7).alias("val"),
        ),
        partition_by=["bucket"],
    )

    files_full, _d0 = ice.plan_files()
    files_pruned, _d1 = ice.plan_files(partition_filter={"bucket": 7})

    # total scan input is the pruning metric: the worst task cannot see
    # file skipping when every file is the same size
    with profile(spark) as rec6:
        n_full = ice.read(spark).count()
    full_input = rec6["input_records"]

    with profile(spark) as rec6b:
        n_pruned = ice.read(
            spark, partition_filter={"bucket": 7}
        ).count()
    pruned_input = rec6b["input_records"]
    print(
        f"[iceberg_prune] files {len(files_full):,}->"
        f"{len(files_pruned):,} rows {n_full:,}->{n_pruned:,} "
        f"scan records {full_input:,}->{pruned_input:,}", flush=True
    )
    if n_full != N_PART * ROWS_PER or n_pruned != ROWS_PER:
        failures.append(
            f"shape6 WRONG ANSWER: full={n_full:,} pruned={n_pruned:,}"
        )
    if len(files_pruned) * (N_PART // 2) > len(files_full):
        failures.append(
            f"shape6 BOUND: pruned plan {len(files_pruned):,} files vs "
            f"{len(files_full):,} total — manifest pruning not engaged"
        )
    if pruned_input > 3 * ROWS_PER:
        failures.append(
            f"shape6 BOUND: pruned read scanned {pruned_input:,} records "
            f"> 3x one partition ({ROWS_PER:,}) — files not skipped"
        )
    if full_input < N_PART * ROWS_PER:
        failures.append(
            f"shape6 SANITY: full read scanned {full_input:,} < table "
            "rows — metric broken, bound meaningless"
        )
    shutil.rmtree(ice_dir, ignore_errors=True)

    # ------------------------------------------------------------------
    # shape 7: file-scoped Delta MERGE — an upsert touching ONE hive
    # partition of a 64-partition table must rewrite only that
    # partition's files (write volume ~1/64th of the table, untouched
    # add actions carried verbatim) and its read amplification must
    # stay bounded at ~two key scans + the touched files — never the
    # full-table re-read-and-rewrite the naive COW merge does.
    # ------------------------------------------------------------------
    from data_lakehouse_platform_spark.sources.delta_lite import (
        DeltaLiteTable,
    )

    N7, P7 = 2_000_000, 64
    d_dir = tempfile.mkdtemp(prefix="stress_delta_")
    shutil.rmtree(d_dir)
    dt = DeltaLiteTable(d_dir)
    dt.write(
        spark.range(N7).select(
            _F.col("id").alias("k"),
            (_F.col("id") % P7).cast("int").alias("bucket"),
            (_F.col("id") * 3).alias("val"),
        ),
        partition_by=["bucket"],
    )
    _m7, live7, _p7 = dt._replay(dt.latest_version())
    files_before = len(live7)
    total_bytes = sum(int(a.get("size") or 0) for a in live7.values())
    bucket7_files = sum(
        1
        for a in live7.values()
        if (a.get("partitionValues") or {}).get("bucket") == "7"
    )
    # 2,000 updates + 500 inserts, all landing in bucket 7
    src = spark.range(2_000).select(
        (_F.col("id") * P7 + 7).alias("k"),
        _F.lit(7).cast("int").alias("bucket"),
        _F.lit(-1).cast("long").alias("val"),
    ).unionAll(
        spark.range(500).select(
            (N7 + _F.col("id") * P7 + 7).alias("k"),
            _F.lit(7).cast("int").alias("bucket"),
            _F.lit(-2).cast("long").alias("val"),
        )
    )
    with profile(spark) as rec7:
        res7 = dt.merge(spark, src, keys=["k"])
    merge_input = rec7["input_records"]
    new_actions = dt._actions(dt.latest_version())
    new_bytes = sum(
        a["add"]["size"] for a in new_actions if "add" in a
    )
    print(
        f"[delta_merge_scoped] files {files_before:,} -> rewrote "
        f"{res7['files_rewritten']:,} (bucket7 has {bucket7_files:,}), "
        f"bytes {total_bytes:,} -> wrote {new_bytes:,}, "
        f"merge input records {merge_input:,} vs table {N7:,}",
        flush=True,
    )
    n_after = dt.read(spark).count()
    if n_after != N7 + 500:
        failures.append(
            f"shape7 WRONG ANSWER: {n_after:,} rows != {N7 + 500:,}"
        )
    if dt.read(spark).filter("val = -1").count() != 2_000:
        failures.append("shape7 WRONG ANSWER: updates not applied")
    if res7["files_rewritten"] > bucket7_files:
        failures.append(
            f"shape7 BOUND: rewrote {res7['files_rewritten']:,} files > "
            f"the touched partition's {bucket7_files:,}"
        )
    if res7["files_untouched"] != files_before - res7["files_rewritten"]:
        failures.append("shape7 BOUND: untouched-file accounting off")
    if new_bytes > 0.10 * total_bytes:
        failures.append(
            f"shape7 BOUND: merge wrote {new_bytes:,} bytes > 10% of "
            f"the {total_bytes:,}-byte table — not file-scoped"
        )
    if merge_input > 2.4 * N7 + 1_000_000:
        failures.append(
            f"shape7 BOUND: merge read {merge_input:,} records > "
            f"~2 key scans + touched files of a {N7:,}-row table — "
            "rewrite pass is re-reading the snapshot"
        )
    shutil.rmtree(d_dir, ignore_errors=True)

    # ------------------------------------------------------------------
    # shape 8: entity-resolution whale block — EVERY row in one
    # (nation, segment) block.  The round-5 blocked self-join would put
    # the whole block on one task and build C(n, 2) pairs (~5e9 here —
    # unrunnable, like shape 4's interval join); the deletion-signature
    # join must stay linear per task (signature explosion is a per-row
    # constant, buckets bounded by name geometry not block size) AND
    # stay complete: 200 planted distance-1 dups must all be found.
    # ------------------------------------------------------------------
    from data_lakehouse_platform_spark.operators.editdist import (
        edit_distance_pairs,
    )

    N8, PLANTED = 100_000, 200
    # pseudo-random 9-digit suffixes (Knuth multiplicative hash) so the
    # name space is spread like real ids, not sequential.
    suffix = _F.lpad(
        _F.pmod(_F.col("id") * 2654435761, _F.lit(1_000_000_000)).cast(
            "string"
        ),
        9,
        "0",
    )
    whale_base = spark.range(N8).select(
        _F.col("id").alias("k"),
        _F.lit(0).alias("nationkey"),
        _F.lit("WHALE").alias("seg"),
        _F.concat(_F.lit("Customer#"), suffix).alias("name"),
    )
    # planted near-dups: row N8+i = row i's name with the last char
    # substituted (lev distance 1), the completeness canary.
    whale_dups = spark.range(PLANTED).select(
        (_F.col("id") + N8).alias("k"),
        _F.lit(0).alias("nationkey"),
        _F.lit("WHALE").alias("seg"),
        _F.concat(
            _F.lit("Customer#"), _F.substring(suffix, 1, 8), _F.lit("X")
        ).alias("name"),
    )
    whale = whale_base.unionAll(whale_dups).repartition(32, "k").persist()
    n_whale = whale.count()

    pairs8 = edit_distance_pairs(
        whale, "k", "name", block_cols=("nationkey", "seg"), threshold=2
    ).persist()
    out8 = {}
    whale_max = run_shape(
        spark,
        "editdist_whale_block",
        lambda: out8.setdefault("pairs", pairs8.count()),
    )
    planted_found = pairs8.where(
        _F.col("b_key") - _F.col("a_key") == N8
    ).count()
    quad_pairs = N8 * (N8 - 1) // 2
    print(
        f"[editdist_whale] n={n_whale:,} pairs={out8['pairs']:,} "
        f"planted={planted_found}/{PLANTED} "
        f"(quadratic twin would build {quad_pairs:,} pairs)",
        flush=True,
    )
    if planted_found != PLANTED:
        failures.append(
            f"shape8 COMPLETENESS: {planted_found}/{PLANTED} planted "
            "distance-1 dups found — deletion neighborhood is missing pairs"
        )
    if out8["pairs"] < PLANTED:
        failures.append("shape8 calibration: no pairs at all")
    # linear bound: signature rows are a per-row constant (~100x for
    # 18-char names) hash-split over 32 partitions; measured ~10x n per
    # task.  30x n (~3M) keeps slack while sitting 2,000x below the
    # quadratic twin's C(n,2)/32 per-task share.
    if whale_max > 30 * n_whale:
        failures.append(
            f"shape8 BOUND: worst task {whale_max:,} > 30x input "
            f"{n_whale:,} — signature join is not linear per task"
        )
    pairs8.unpersist()
    whale.unpersist()

    # ------------------------------------------------------------------
    # shape 9: delta_lite streaming source — per-batch work must be
    # proportional to NEW data, never the table.  1M-row bootstrap +
    # 20 x 1k appends; wave 2 must deliver exactly the appends, and an
    # OPTIMIZE between waves must contribute zero rows.
    # ------------------------------------------------------------------
    import tempfile

    from data_lakehouse_platform_spark.sources.delta_lite import (
        DeltaLiteTable,
    )
    from data_lakehouse_platform_spark.sources.delta_stream import (
        DeltaLiteStreamDataSource,
    )

    spark.dataSource.register(DeltaLiteStreamDataSource)
    N9, APPENDS9, PER9 = 1_000_000, 20, 1_000
    s9 = tempfile.mkdtemp(prefix="stress9-")
    t9 = DeltaLiteTable(os.path.join(s9, "t"))
    t9.write(
        spark.range(N9)
        .selectExpr("id", "CAST(id % 97 AS STRING) AS v")
        .coalesce(8)
    )
    out9 = os.path.join(s9, "out")
    ck9 = os.path.join(s9, "ck")

    def _wave9() -> int:
        q = (
            spark.readStream.format("delta_lite")
            .option("path", t9.path)
            .load()
            .writeStream.format("parquet")
            .option("path", out9)
            .option("checkpointLocation", ck9)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return spark.read.parquet(out9).count()

    wave1 = _wave9()
    if wave1 != N9:
        failures.append(
            f"shape9 BOOTSTRAP: wave 1 delivered {wave1:,} rows, "
            f"expected the {N9:,}-row snapshot"
        )
    for i in range(APPENDS9):
        t9.write(
            spark.range(N9 + i * PER9, N9 + (i + 1) * PER9)
            .selectExpr("id", "CAST(id % 97 AS STRING) AS v")
            .coalesce(1),
            mode="append",
        )
    t9.optimize(spark)  # dataChange=false: must be invisible
    t0 = time.perf_counter()
    wave2 = _wave9()
    w9_wall = time.perf_counter() - t0
    appended = APPENDS9 * PER9
    print(
        f"[delta_stream_tail] bootstrap={wave1:,} wave2_delta="
        f"{wave2 - wave1:,} (appended={appended:,}, table={N9 + appended:,},"
        f" OPTIMIZE between waves) wall={w9_wall:.1f}s",
        flush=True,
    )
    if wave2 - wave1 != appended:
        failures.append(
            f"shape9 INCREMENTALITY: wave 2 delivered {wave2 - wave1:,} "
            f"rows, expected exactly the {appended:,} appended rows — "
            "the source re-served snapshot/compaction files"
        )

    # ------------------------------------------------------------------
    # shape 10: data skipping — a point predicate on a 256-file delta
    # table must SCAN ~one file, not the table (add.stats pruning),
    # and the DV delete's locate scan rides the same path.  Iceberg
    # twin: manifest bounds prune to one file, metadata-only.
    # ------------------------------------------------------------------
    from data_lakehouse_platform_spark.sources.iceberg_lite import (
        IcebergLiteTable,
    )

    N10, FILES10 = 1_048_576, 256
    s10 = tempfile.mkdtemp(prefix="stress10-")
    t10 = DeltaLiteTable(os.path.join(s10, "t"))
    t10.write(
        spark.range(N10)
        .selectExpr("id", "CAST(id % 1009 AS STRING) AS v")
        .repartitionByRange(FILES10, "id")
    )
    kept10, total10 = t10.files_matching(spark, "id = 777777")
    with profile(spark) as rec10:
        got10 = t10.read(spark, predicate="id = 777777").count()
    scan10 = rec10["input_records"]
    per_file = N10 // FILES10
    print(
        f"[delta_skip_point] files={len(kept10)}/{total10} rows={got10} "
        f"scan_input={scan10:,} (full scan would read {N10:,})",
        flush=True,
    )
    if got10 != 1:
        failures.append(f"shape10 CORRECTNESS: point read got {got10} rows")
    if len(kept10) > 2:
        failures.append(
            f"shape10 PRUNING: {len(kept10)}/{total10} files kept for a "
            "point predicate — stats bounds are not pruning"
        )
    if scan10 > 4 * per_file:
        failures.append(
            f"shape10 SCAN BOUND: {scan10:,} input records > 4x one "
            f"file ({per_file:,}) — the read ignored the kept-file list"
        )
    with profile(spark) as rec10b:
        res10 = t10.delete(spark, "id = 900000", strategy="dv")
    del_scan10 = rec10b["input_records"]
    print(
        f"[delta_skip_delete] deleted={res10['deleted_rows']} "
        f"files={res10['files']} locate_scan_input={del_scan10:,}",
        flush=True,
    )
    if res10["deleted_rows"] != 1:
        failures.append("shape10 DELETE: wrong match count")
    if del_scan10 > 6 * per_file:
        failures.append(
            f"shape10 DELETE BOUND: locate scan read {del_scan10:,} "
            f"records > 6x one file ({per_file:,})"
        )
    t10i = IcebergLiteTable(os.path.join(s10, "ti"))
    t10i.write(
        spark.range(262_144)
        .selectExpr("id", "CAST(id % 101 AS STRING) AS v")
        .repartitionByRange(64, "id")
    )
    kept10i, total10i = t10i.files_matching(spark, "id = 123456")
    got10i = t10i.read(spark, predicate="id = 123456").count()
    print(
        f"[iceberg_skip_point] files={len(kept10i)}/{total10i} "
        f"rows={got10i}",
        flush=True,
    )
    if got10i != 1 or len(kept10i) > 2:
        failures.append(
            f"shape10 ICEBERG: kept {len(kept10i)}/{total10i}, "
            f"rows {got10i} — manifest bounds are not pruning"
        )

    # ------------------------------------------------------------------
    # shape 12: MERGE-ON-READ UPSERT commit cost — the r8 equality-
    # delete writer.  A key-hose against a 2M-row table through
    # upsert(): the commit may touch ONLY source-sized data
    # (stage the rows + distinct the key set) — zero table files read,
    # zero rewritten, bytes written ~ source-sized.  This is the claim
    # that a 100 TB table absorbs a streaming upsert in seconds; the
    # read-side cost it defers is shape-checked by the read-back
    # assertions (updates visible, inserts present, nothing
    # resurrected).
    # ------------------------------------------------------------------
    N12, P12 = 2_000_000, 64
    s12 = tempfile.mkdtemp(prefix="stress12-")
    tu = IcebergLiteTable(os.path.join(s12, "t"))
    tu.write(
        spark.range(N12).select(
            F.col("id").alias("k"),
            (F.col("id") % P12).cast("int").alias("bucket"),
            (F.col("id") * 3).alias("val"),
        ),
        partition_by=["bucket"],
    )
    files12, _ = tu.plan_files()
    bytes_before12 = sum(os.path.getsize(p) for p, _s, _pt in files12)
    SRC12 = 5_000
    src12 = spark.range(SRC12 - 500).select(
        F.col("id").alias("k"),
        (F.col("id") % P12).cast("int").alias("bucket"),
        F.lit(-1).cast("long").alias("val"),
    ).unionAll(
        spark.range(500).select(
            (N12 + F.col("id")).alias("k"),
            ((N12 + F.col("id")) % P12).cast("int").alias("bucket"),
            F.lit(-2).cast("long").alias("val"),
        )
    )
    with profile(spark) as rec12:
        res12 = tu.upsert(spark, src12, keys=["k"])
    upsert_in12 = rec12["input_records"]
    files12b, dels12b = tu.plan_files()
    new_paths12 = {p for p, _s, _pt in files12b} - {
        p for p, _s, _pt in files12
    }
    new_bytes12 = sum(os.path.getsize(p) for p in new_paths12) + sum(
        os.path.getsize(d["path"]) for d in dels12b
    )
    print(
        f"[iceberg_upsert_mor] commit input {upsert_in12:,} records vs "
        f"table {N12:,}; wrote {new_bytes12:,} bytes vs table "
        f"{bytes_before12:,}; keys={res12['keys']:,} rows={res12['rows']:,}",
        flush=True,
    )
    if {p for p, _s, _pt in files12} - {p for p, _s, _pt in files12b}:
        failures.append("shape12 BOUND: upsert removed/rewrote data files")
    # commit-side reads: staging passes over the SOURCE only (a few
    # materializations of 5k rows), never the 2M-row table
    if upsert_in12 > 20 * SRC12:
        failures.append(
            f"shape12 BOUND: upsert read {upsert_in12:,} records > "
            f"20x the {SRC12:,}-row source — commit cost is not "
            "table-independent"
        )
    if new_bytes12 > 0.02 * bytes_before12:
        failures.append(
            f"shape12 BOUND: upsert wrote {new_bytes12:,} bytes > 2% "
            f"of the {bytes_before12:,}-byte table"
        )
    # read-back: deferred cost, correct answer
    n_after12 = tu.read(spark).count()
    if n_after12 != N12 + 500:
        failures.append(
            f"shape12 WRONG ANSWER: {n_after12:,} rows != {N12 + 500:,}"
        )
    if tu.read(spark, predicate="val = -1").count() != SRC12 - 500:
        failures.append("shape12 WRONG ANSWER: updates not applied")
    if tu.read(spark, predicate="val = -2").count() != 500:
        failures.append("shape12 WRONG ANSWER: inserts missing")
    shutil.rmtree(s12, ignore_errors=True)

    print()
    if failures:
        for f in failures:
            print(f"FAIL {f}")
        sys.exit(1)
    print(f"ALL BOUNDS HOLD (stream={n_stream_events:,}, "
          f"events={n_events:,}, crowd={CROWD:,}, "
          f"orders={N:,}, iceberg={N_PART * ROWS_PER:,}, "
          f"delta_merge={N7:,}, stream_tail={N9 + APPENDS9 * PER9:,})")


if __name__ == "__main__":
    main()
