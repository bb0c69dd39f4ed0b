"""Medallion pipeline assembly + physical-plan audit + schema drift."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_lakehouse_platform_spark.catalog import load_table
from data_lakehouse_platform_spark.operators.quality import DQCheck, schema_drift
from data_lakehouse_platform_spark.plans import MedallionPipeline, audit_plan
from data_lakehouse_platform_spark.queries import all_queries
from tests.conftest import SF_DIR


def test_medallion_end_to_end(spark, tmp_path):
    pipe = MedallionPipeline(spark, str(tmp_path))
    orders = load_table(spark, SF_DIR, "orders")

    # Bronze: first load is full, second is a no-op (nothing new).
    n1 = pipe.bronze_ingest(orders, "orders", "o_orderdate")
    n2 = pipe.bronze_ingest(orders, "orders", "o_orderdate")
    assert n1 == orders.count() and n2 == 0

    # Silver: conform column + status normalization.
    pipe.silver_transform(
        "orders",
        lambda df: df.withColumn(
            "o_orderstatus", F.when(F.col("o_orderstatus") == "P", "O").otherwise(F.col("o_orderstatus"))
        ),
    )
    silver = pipe.read("silver", "orders")
    assert silver.filter(F.col("o_orderstatus") == "P").count() == 0
    assert silver.count() == n1

    # Gold: SCD2 dim over silver; every key gets one current row.
    pipe.gold_scd2(
        "dim_orders",
        "o_orderkey",
        ["o_orderstatus", "o_totalprice"],
        "o_orderdate",
        source_table="orders",
    )
    dim = pipe.read("gold", "dim_orders")
    assert dim.filter("is_current").count() == silver.select("o_orderkey").distinct().count()

    # Gold fact: silver orders x gold dim surrogate keys.
    pipe.gold_fact(
        "fact_orders",
        lambda s, p: p.read("silver", "orders")
        .join(
            F.broadcast(p.read("gold", "dim_orders").filter("is_current").select("o_orderkey", "row_key")),
            "o_orderkey",
        )
        .select("row_key", "o_orderkey", "o_totalprice", "o_orderdate"),
    )
    fact = pipe.read("gold", "fact_orders")
    assert fact.count() == silver.count()

    # DQ over the gold layer: one metrics row per check.
    metrics = pipe.validate(
        "gold",
        [
            DQCheck("fact_orders", "null_count", "row_key"),
            DQCheck("fact_orders", "unique", "row_key"),
            DQCheck("fact_orders", "min", "o_totalprice", min_value=0.0),
        ],
    ).collect()
    assert len(metrics) == 3 and all(m["passed"] for m in metrics)


def test_schema_drift(spark):
    orders = load_table(spark, SF_DIR, "orders")
    expected = {f.name: f.dataType.simpleString() for f in orders.schema.fields}
    assert schema_drift(orders, expected, "orders") == []

    mutated = dict(expected)
    mutated["o_totalprice"] = "string"          # type change
    mutated["o_ghost"] = "int"                  # expected-but-missing
    drifted = orders.withColumn("o_extra", F.lit(1))  # added column
    kinds = {(d["column"], d["kind"]) for d in schema_drift(drifted, mutated, "orders")}
    assert kinds == {
        ("o_totalprice", "type_changed"),
        ("o_ghost", "missing"),
        ("o_extra", "added"),
    }


def test_plan_audit_contract(spark):
    """The scale contracts the engine promises, asserted on real plans."""
    registry = all_queries()

    # Pushdown showcase: the tight filter must reach the parquet scan.
    q6 = registry["q6_forecast_revenue"].build(spark, SF_DIR)
    a6 = audit_plan(q6)
    assert a6.pushed_filters, "q6 filter must appear in PushedFilters"
    assert a6.python_free_hot_path

    # Star fact: dims broadcast, no sort-merge joins, no cartesians.
    star = registry["gold_fact_star"].build(spark, SF_DIR)
    astar = audit_plan(star)
    assert astar.broadcast_hash_joins >= 3
    assert astar.sort_merge_joins == 0 and astar.cartesian_products == 0

    # Watermark incremental: literal filter pushed to scan, no join.
    binc = registry["bronze_incremental_orders"].build(spark, SF_DIR)
    ab = audit_plan(binc)
    assert ab.pushed_filters and ab.join_strategies == {
        "broadcast_hash": 0,
        "sort_merge": 0,
        "broadcast_nested_loop": 0,
        "cartesian": 0,
    }


@pytest.mark.slow
def test_plan_audit_contract_full_registry(spark):
    """No query in the registry uses a row-at-a-time Python UDF, and
    none plans a CartesianProduct (PLANS.md contract, executable).

    ~100 s: building all 299 plans executes every builder's driver-side
    stats collects — slow lane (the named showcases above stay in the
    default lane, and PLANS.md regeneration pins the same columns)."""
    registry = all_queries()
    for name, q in registry.items():
        a = audit_plan(q.build(spark, SF_DIR))
        assert a.python_free_hot_path, name
        assert a.cartesian_products == 0, (
            f"{name} plans a CartesianProduct — broadcast the small "
            "side (inequality-only joins need an explicit F.broadcast)"
        )


def test_new_shape_plan_contracts(spark):
    """Scale contracts for the deep-relational and analytics shapes."""
    registry = all_queries()

    # Q8: the 8-table star keeps every dim chain broadcast — the fact
    # is never sort-merge joined, and nothing degenerates to cartesian.
    a8 = audit_plan(registry["q8_market_share"].build(spark, SF_DIR))
    assert a8.broadcast_hash_joins >= 6
    assert a8.sort_merge_joins == 0 and a8.cartesian_products == 0

    # Q16: NOT-IN exclusion must plan as a broadcast anti join, never
    # a shuffled one (the excluded set is tiny by construction).
    a16 = audit_plan(registry["q16_supplier_part_counts"].build(spark, SF_DIR))
    assert a16.broadcast_hash_joins >= 2  # part attach + anti exclusion
    assert a16.sort_merge_joins == 0

    # Q21: window qualification instead of fact self-joins — the fact
    # contributes at most its grouped shuffle plus the window shuffle.
    a21 = audit_plan(registry["q21_waiting_supplier"].build(spark, SF_DIR))
    assert a21.sort_merge_joins == 0 and a21.cartesian_products == 0

    # Scalar-subquery shapes: the 1-row threshold attaches as a
    # broadcast nested loop (fine: 1 row), never a shuffled join.
    a11 = audit_plan(registry["q11_important_values"].build(spark, SF_DIR))
    assert a11.sort_merge_joins == 0

    # IVF: centroid assignment is a map pass — the corpus side carries
    # no join before the probe broadcast; no cartesian anywhere.
    aivf = audit_plan(registry["ann_ivf_topk"].build(spark, SF_DIR))
    assert aivf.cartesian_products == 0
    assert aivf.sort_merge_joins == 0


def test_sql_surface_over_registered_views(spark):
    """The engine is reachable as plain SQL: register_views + spark.sql
    give the same answer as the DataFrame registry path."""
    from data_lakehouse_platform_spark.catalog import register_views

    register_views(spark, SF_DIR)
    got = spark.sql(
        "SELECT c_mktsegment, COUNT(*) AS n FROM customer GROUP BY c_mktsegment"
    ).collect()
    want = (
        load_table(spark, SF_DIR, "customer")
        .groupBy("c_mktsegment")
        .count()
        .collect()
    )
    assert {(r["c_mktsegment"], r["n"]) for r in got} == {
        (r["c_mktsegment"], r["count"]) for r in want
    }


def test_pipeline_runner_dag_semantics(spark, tmp_path):
    """Topological order, idempotent done-markers, fail-fast with
    downstream cancellation, independent branches unaffected."""
    from data_lakehouse_platform_spark.plans.runner import PipelineRunner

    ran = []
    marker = str(tmp_path / "markers" / "bronze.done")

    def mk(name, fail=False):
        def fn():
            ran.append(name)
            if fail:
                raise RuntimeError(name)
        return fn

    r = (
        PipelineRunner(spark)
        .add("bronze", mk("bronze"), done_marker=marker)
        .add("silver", mk("silver", fail=True), deps=["bronze"])
        .add("gold", mk("gold"), deps=["silver"])
        .add("validate", mk("validate"), deps=["gold"])
        .add("independent", mk("independent"))
    )
    st = {row["task"]: row["state"] for row in r.run().collect()}
    assert st == {
        "bronze": "OK", "silver": "FAILED", "gold": "SKIPPED_UPSTREAM",
        "validate": "SKIPPED_UPSTREAM", "independent": "OK",
    }
    assert ran.index("bronze") < ran.index("silver") and "gold" not in ran

    # rerun: bronze skips via its marker, silver retries (and fails again)
    ran.clear()
    r2 = (
        PipelineRunner(spark)
        .add("bronze", mk("bronze"), done_marker=marker)
        .add("silver", mk("silver", fail=True), deps=["bronze"])
    )
    st2 = {row["task"]: row["state"] for row in r2.run().collect()}
    assert st2["bronze"] == "SKIPPED_DONE" and ran == ["silver"]

    import pytest as _pytest
    with _pytest.raises(ValueError, match="cycle"):
        PipelineRunner(spark).add("a", mk("a"), deps=["b"]).add(
            "b", mk("b"), deps=["a"]
        ).run()


def test_lakehouse_facade(spark, tmp_path):
    from data_lakehouse_platform_spark.engine import Lakehouse

    lh = Lakehouse(spark=spark, sf_dir=SF_DIR)
    assert lh.table("orders").count() > 0
    assert lh.sql("SELECT COUNT(*) AS n FROM lineitem").collect()[0]["n"] > 0
    assert "revenue" in lh.query("q6_forecast_revenue").columns
    assert "dedup_minhash_lsh" in lh.query_names()
    t = lh.delta(str(tmp_path / "t"))
    t.write(lh.table("region"))
    assert t.read(spark).count() == lh.table("region").count()


def test_stats_ext_plan_contracts(spark):
    """Scale contracts for the statistics/graph batch."""
    registry = all_queries()

    # Sweep-line concurrency: the running sum partitions by day —
    # never a global single-partition sort.
    ac = audit_plan(registry["peak_concurrency"].build(spark, SF_DIR))
    assert ac.single_partition_exchanges == 0

    # Exact-moment correlation: one grouped shuffle over the fact,
    # closed-form math afterwards — no joins at all.
    am = audit_plan(registry["corr_qty_price"].build(spark, SF_DIR))
    assert am.shuffles <= 2 and am.cartesian_products == 0

    # PCA power iteration: matvec joins stay on the d^2-row moment
    # matrix (vector side broadcast); nothing cartesian.
    ap = audit_plan(registry["pca_power_iteration"].build(spark, SF_DIR))
    assert ap.cartesian_products == 0 and ap.broadcast_hash_joins >= 1

    # FK sweep: true dims broadcast; the fact-sized parent (orders)
    # must NOT be broadcast — its anti join shuffles.
    ad = audit_plan(registry["dq_referential"].build(spark, SF_DIR))
    assert ad.cartesian_products == 0 and ad.broadcast_hash_joins >= 2

    # Distribution-position windows: spend agg + per-nation window,
    # customer side broadcast into the join.
    ar = audit_plan(registry["percent_rank_spend"].build(spark, SF_DIR))
    assert ar.broadcast_hash_joins >= 1 and ar.single_partition_exchanges == 0


def test_lifecycle_plan_contracts(spark):
    """Scale contracts for the lifecycle/corpus-stats batch."""
    registry = all_queries()

    # Journey mining: the sequence collapse and pattern count are
    # grouped aggregations — no window over the raw event stream, no
    # cartesian anywhere.
    aj = audit_plan(registry["journey_patterns"].build(spark, SF_DIR))
    assert aj.cartesian_products == 0 and aj.python_free_hot_path

    # Vocab growth: running COUNT(DISTINCT) rewritten to grouped MIN +
    # running sums — the windows run over per-doc rows, so the only
    # single-partition window is the tiny curve ordering.
    av = audit_plan(registry["vocab_growth"].build(spark, SF_DIR))
    assert av.cartesian_products == 0

    # Cohort LTV: two custkey/cohort-keyed shuffles + windows; the
    # first-order anchor join must not be cartesian or nested-loop.
    al = audit_plan(registry["cohort_ltv"].build(spark, SF_DIR))
    assert al.cartesian_products == 0 and al.broadcast_nested_loop_joins == 0

    # Gini/HHI: one broadcast (customer dim), grouped moments, and a
    # segment-partitioned rank — never a global sort over the fact.
    ag = audit_plan(registry["gini_hhi_concentration"].build(spark, SF_DIR))
    assert ag.broadcast_hash_joins >= 1 and ag.cartesian_products == 0


def test_pipeline_runner_bounded_retries(spark, tmp_path):
    """Transient failures recover within the retry budget (attempts
    recorded); exhausted retries still fail fast and cancel
    downstream."""
    from data_lakehouse_platform_spark.plans.runner import PipelineRunner

    calls = {"flaky": 0, "broken": 0}

    def flaky():
        calls["flaky"] += 1
        if calls["flaky"] < 3:
            raise RuntimeError("transient")

    def broken():
        calls["broken"] += 1
        raise RuntimeError("permanent")

    r = (
        PipelineRunner(spark)
        .add("flaky", flaky, retries=2)
        .add("after_flaky", lambda: None, deps=["flaky"])
        .add("broken", broken, retries=1)
        .add("after_broken", lambda: None, deps=["broken"])
    )
    rows = {row["task"]: row for row in r.run().collect()}
    assert rows["flaky"]["state"] == "OK" and rows["flaky"]["attempts"] == 3
    assert rows["after_flaky"]["state"] == "OK"
    assert rows["broken"]["state"] == "FAILED" and rows["broken"]["attempts"] == 2
    assert rows["after_broken"]["state"] == "SKIPPED_UPSTREAM"
    assert calls == {"flaky": 3, "broken": 2}


def test_dq_cross_field_rule(spark):
    """Cross-field invariants compile into the same single-pass
    aggregate: violation counts are exact, NULL predicate results
    count as violations, and clean rules pass."""
    from data_lakehouse_platform_spark.operators.quality import DQCheck, run_checks

    df = spark.createDataFrame(
        [
            (1, "shipped", "2024-01-02", "2024-01-01"),
            (2, "shipped", None, "2024-01-01"),        # NULL ship date -> violation
            (3, "pending", None, "2024-01-03"),        # rule not applicable -> ok
            (4, "shipped", "2023-12-30", "2024-01-01"),  # ships before order -> violation
        ],
        "id long, status string, ship_date string, order_date string",
    )
    checks = [
        DQCheck(
            "t", "cross_field", "shipped_has_valid_dates",
            predicate="status != 'shipped' OR (ship_date IS NOT NULL AND ship_date >= order_date)",
        ),
        DQCheck("t", "cross_field", "ids_positive", predicate="id > 0"),
        DQCheck("t", "unique", "id"),
    ]
    rows = {r["column_name"]: r for r in run_checks({"t": df}, checks).collect()}
    assert rows["shipped_has_valid_dates"]["metric_value"] == 2.0
    assert rows["shipped_has_valid_dates"]["passed"] is False
    assert rows["ids_positive"]["metric_value"] == 0.0 and rows["ids_positive"]["passed"] is True
    assert rows["id"]["passed"] is True


def test_medallion_scd2_second_pass_closes_out(spark, tmp_path):
    """SCD2 evolution through the full medallion path: a second load
    with changed attributes closes out the old version (is_current
    false, end_ts stamped) and inserts a new current row; unchanged
    keys keep exactly one open version."""
    from data_lakehouse_platform_spark.plans.medallion import MedallionPipeline

    pipe = MedallionPipeline(spark, str(tmp_path))
    v1 = spark.createDataFrame(
        [(1, "O", 100.0, "2024-01-01"), (2, "O", 200.0, "2024-01-01")],
        "o_orderkey long, o_orderstatus string, o_totalprice double, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    pipe.bronze_ingest(v1, "orders", "ts")
    pipe.silver_transform("orders", lambda df: df)
    pipe.gold_scd2("dim", "o_orderkey", ["o_orderstatus", "o_totalprice"], "ts",
                   source_table="orders")

    # key 1 changes price later; key 2 unchanged (same attributes)
    v2 = spark.createDataFrame(
        [(1, "F", 150.0, "2024-02-01"), (2, "O", 200.0, "2024-02-01")],
        "o_orderkey long, o_orderstatus string, o_totalprice double, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    pipe.bronze_ingest(v2, "orders", "ts")
    pipe.silver_transform("orders", lambda df: df)
    pipe.gold_scd2("dim", "o_orderkey", ["o_orderstatus", "o_totalprice"], "ts",
                   source_table="orders")

    dim = pipe.read("gold", "dim").collect()
    by_key = {}
    for r in dim:
        by_key.setdefault(r["o_orderkey"], []).append(r)

    k1 = sorted(by_key[1], key=lambda r: r["start_ts"])
    assert len(k1) == 2
    assert k1[0]["is_current"] is False and k1[0]["end_ts"] is not None
    assert k1[1]["is_current"] is True and k1[1]["o_totalprice"] == 150.0

    k2 = by_key[2]
    assert len(k2) == 1 and k2[0]["is_current"] is True and k2[0]["end_ts"] is None


def test_dynamic_partition_pruning_reaches_fact_scan(spark, tmp_path):
    """At 100 TB the fact table is hive-partitioned (by day/month) and
    dim-filter joins must prune fact PARTITIONS at runtime, not scan
    everything: Spark's dynamic partition pruning injects the
    broadcast dim's key set into the fact scan's partition filters.
    Pin that this actually fires for the partitioned-fact + filtered-
    dim shape our gold builds use."""
    from pyspark.sql import functions as F

    fact_path = str(tmp_path / "fact")
    (
        spark.range(10_000)
        .select(
            F.col("id").alias("k"),
            (F.col("id") % 12).alias("month"),
            (F.col("id") * 2).alias("v"),
        )
        .write.partitionBy("month")
        .parquet(fact_path)
    )
    fact = spark.read.parquet(fact_path)
    dim = spark.createDataFrame(
        [(m, "keep" if m in (3, 7) else "drop") for m in range(12)],
        "month bigint, flag string",
    )
    q = fact.join(dim.where(F.col("flag") == "keep"), "month").agg(
        F.sum("v").alias("s")
    )
    rows = q.collect()  # execute so the post-AQE plan is final
    # behavior: only months 3 and 7 contribute
    want = sum(i * 2 for i in range(10_000) if i % 12 in (3, 7))
    assert rows[0].s == want
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_runner_bare_done_marker_and_error_column(spark, tmp_path, monkeypatch):
    """A done_marker with no directory component must not fail the
    task after it succeeded, and failures must surface diagnostics in
    the status table's error column."""
    from data_lakehouse_platform_spark.plans.runner import PipelineRunner

    monkeypatch.chdir(tmp_path)
    r = PipelineRunner(spark)
    r.add("ok_task", lambda: None, done_marker="bare.done")
    r.add("boom", lambda: (_ for _ in ()).throw(ValueError("kapow")), retries=0)
    status = {row.task: row for row in r.run().collect()}
    assert status["ok_task"].state == "OK"
    assert (tmp_path / "bare.done").exists()
    assert status["boom"].state == "FAILED"
    assert "ValueError" in status["boom"].error and "kapow" in status["boom"].error
    assert status["ok_task"].error is None


def test_salted_join_rejects_outer(spark):
    import pytest
    from data_lakehouse_platform_spark.operators.skew import salted_join

    big = spark.createDataFrame([(1, "x")], "k bigint, v string")
    small = spark.createDataFrame([(2, "d")], "k bigint, d string")
    with pytest.raises(ValueError, match="full"):
        salted_join(big, small, ["k"], how="full")
    # supported modes still work
    assert salted_join(big, small, ["k"], how="left").count() == 1


def test_dq_unique_ignores_nulls(spark):
    from data_lakehouse_platform_spark.operators.quality import DQCheck, run_checks

    df = spark.createDataFrame(
        [(1,), (2,), (3,), (None,)], "k bigint"
    )
    out = run_checks({"t": df}, [DQCheck("t", "unique", "k")]).collect()
    assert len(out) == 1
    assert out[0].passed and out[0].metric_value == 0.0


def test_similarity_index_shared_across_lsh_consumers(spark, tmp_path):
    """build_similarity_index hashes the corpus ONCE; every LSH consumer
    then reads the stored signature artifact — its plan must scan the
    index parquet, never re-shingle the documents table."""
    from data_lakehouse_platform_spark.operators import dedup as D
    from data_lakehouse_platform_spark.operators import text as T
    from tests.conftest import SF_DIR

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pipe = MedallionPipeline(spark, str(tmp_path))
    path = pipe.build_similarity_index(docs, n_hashes=16)
    assert "similarity_signatures" in path

    sigs = pipe.similarity_signatures()
    # consumer 1: banded candidate pairs off the artifact
    pairs_idx = D.lsh_candidate_pairs(sigs, n_hashes=16, bands=4)
    # consumer 2: signature agreement join off the SAME artifact
    agree_idx = pairs_idx.join(
        sigs.select(F.col("doc_id").alias("doc_a"), F.col("h0").alias("a0")),
        "doc_a",
    )
    for df in (pairs_idx, agree_idx):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "documents.parquet" not in plan  # zero re-shingling
        # scans the signature artifact (paths truncate in toString, but
        # the signature columns only exist in the stored parquet)
        assert "h0:string" in plan
    # and the artifact-backed result equals the direct single-query path
    sh = T.explode_shingles(docs, "doc_id", "text", k=3, distinct=False)
    pairs_direct = D.lsh_candidate_pairs(
        D.minhash_signatures(sh, n_hashes=16), n_hashes=16, bands=4
    )
    got = {(r.doc_a, r.doc_b, r.n_shared_bands) for r in pairs_idx.collect()}
    want = {(r.doc_a, r.doc_b, r.n_shared_bands) for r in pairs_direct.collect()}
    assert got == want and got


def test_uniques_sketch_artifact_merges_across_batches(spark, tmp_path):
    """Daily appends of HLL registers roll up to the EXACT estimate a
    single whole-corpus sketch would give — the reason the pipeline
    persists sketch state instead of raw ids."""
    from data_lakehouse_platform_spark.operators import sketches as SK
    from tests.conftest import SF_DIR

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_type", "user_id"
    )
    day1 = ev.filter(F.col("user_id") % 2 == 0)
    day2 = ev.filter(F.col("user_id") % 2 == 1)

    pipe = MedallionPipeline(spark, str(tmp_path))
    pipe.build_uniques_sketch(day1, ["event_type"], "user_id")
    pipe.build_uniques_sketch(day2, ["event_type"], "user_id")
    # idempotent re-run of a day: same registers, MAX makes it a no-op
    pipe.build_uniques_sketch(day2, ["event_type"], "user_id")

    rolled = {
        r.event_type: r.hll_estimate
        for r in pipe.uniques_estimate(["event_type"]).collect()
    }
    direct = {
        r.event_type: r.hll_estimate
        for r in SK.hll_estimate(
            SK.hll_registers(ev, ["event_type"], "user_id"), ["event_type"]
        ).collect()
    }
    assert rolled == direct
