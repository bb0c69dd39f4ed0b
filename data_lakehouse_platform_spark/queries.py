"""Query registry: the single source of truth for the engine's
query surface.

Each entry pairs a Spark DataFrame builder with an equivalent ANSI-SQL
oracle (run by the driver under DuckDB on the same parquet). Column
names and value determinism are part of the contract:

* money/quantity aggregates go through exact DECIMAL accumulation
  (see functions/money.py) so results are partition-order independent;
* floating-point similarity scores are rounded to a fixed number of
  digits *before* filtering/ranking so both engines take identical
  branch decisions;
* every top-N sort carries a unique tiebreaker key.

Reference parity notes cite /root/reference file:line in each builder.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_lakehouse_platform_spark.catalog import load_table
from data_lakehouse_platform_spark.functions.money import (
    dec,
    dec_sum,
    sql_sum,
    undec,
)
from data_lakehouse_platform_spark.operators.asof import asof_join

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    build: QueryFn
    oracle: str | None
    doc: str = ""


_REGISTRY: dict[str, Query] = {}

# Canonical module order for the registry (the external driver grades
# the FIRST 50 keys by registration order, pinned by
# tests/test_oracle_parity.py::test_driver_first_50_stable).  Plain
# dict-insertion order is import-order-SENSITIVE — a test importing
# queries_r8_ext directly would register its entries before
# queries_llm's and silently shift the first 50 — so all_queries()
# sorts by (this rank, in-module registration sequence) instead.  New
# modules append HERE; all_queries() imports every module listed.
_MODULE_RANK = {
    f"{__package__}.{m}": i
    for i, m in enumerate(
        [
            "queries",
            "queries_llm",
            "queries_pipeline",
            "queries_relational_ext",
            "queries_tpch_deep",
            "queries_analytics_ext",
            "queries_curation_ext",
            "queries_events_ext",
            "queries_stats_ext",
            "queries_seq_ext",
            "queries_mixture_ext",
            "queries_robust_ext",
            "queries_sketch_ext",
            "queries_trend_ext",
            "queries_survival_ext",
            "queries_econ_ext",
            "queries_ops_ext",
            "queries_resolution_ext",
            "queries_lakeops_ext",
            "queries_stattests_ext",
            "queries_r8_ext",
            "queries_r9_ext",
            "queries_r10_ext",
        ]
    )
}
_REGISTRY_SEQ: dict[str, tuple[int, int]] = {}
_MODULE_COUNTERS: dict[str, int] = {}


def _ordered_build(fn: QueryFn) -> QueryFn:
    """Append a total-order final sort (all columns, left-to-right, NULLS
    FIRST) so the emitted row order is deterministic regardless of
    partitioning/shuffle placement.  The driver hashes rows in emitted
    order; this sort is the registry-edge contract that makes the hash
    reproducible.  Spark executes it as a range-partitioned parallel sort
    (TakeOrderedAndProject when a limit precedes it), not a single-reducer
    collapse.  NULLS FIRST + NaN-greatest matches DuckDB's ORDER BY ALL
    NULLS FIRST, so both engines agree on the total order for value-exact
    results."""

    def ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = fn(spark, sf_dir)
        return df.orderBy(*[df[c].asc_nulls_first() for c in df.columns])

    ordered.__name__ = getattr(fn, "__name__", "query")
    ordered.__doc__ = fn.__doc__
    ordered.__wrapped__ = fn  # type: ignore[attr-defined]
    return ordered


# DuckDB's integer-returning builtins (len, rank, ntile, year, strpos,
# levenshtein, date_diff, ...) yield BIGINT where the Spark expression
# yields INT, and the driver's value hash is Arrow-dtype-sensitive.  The
# value-neutral fix lives here, at the single oracle-assembly point, as a
# declarative width map applied with DuckDB's `SELECT * REPLACE` before
# the ORDER BY ALL wrapper (so emitted order is untouched).  The sibling
# class — uncast integer SUM widening to HUGEINT/decimal128 — is fixed
# in-line in each oracle with CAST(SUM(..) AS BIGINT) because the cast
# must sit inside GROUP BY/window scoping.  tests/test_oracle_parity.py
# asserts the whole registry is width-exact against Spark's Arrow schema.
_ORACLE_INT_CASTS: dict[str, tuple[str, ...]] = {
    "activity_streaks": ("streak_days",),
    "ann_cosine_topk": ("rank",),
    "ann_ivf_topk": ("rank",),
    "ann_lsh_topk": ("rank",),
    "ann_pq_topk": ("rank",),
    "basket_value_matrix": ("value_decile",),
    "bronze_incremental_orders": ("year", "month", "day"),
    "cube_sales": ("o_year",),
    "curate_corpus": ("n_tokens",),
    "dedup_verify_editdist": ("edit_distance",),
    "dq_freshness": ("days_stale",),
    "gold_fact_star": ("year", "month"),
    "heavy_hitter_tokens": ("hh_rank",),
    "histogram_totalprice": ("bucket", "bucket_lo"),
    "interpurchase_gaps": ("min_gap_days", "max_gap_days"),
    "kfold_assign": ("fold",),
    "ntile_customer_deciles": ("spend_decile",),
    "pii_scrub": ("n_redactions",),
    "q7_volume_shipping": ("l_year",),
    "q8_market_share": ("o_year",),
    "q9_product_profit": ("o_year",),
    "rank_change_months": ("rnk", "prev_rnk", "rank_delta"),
    "rank_ties_leaderboard": ("rnk", "drnk"),
    "rfm_segments": ("r_score", "f_score", "m_score", "rfm_cell"),
    "editdist_pairs_customers": ("dist",),
    "sample_bottomk": ("smp_rank",),
    "seasonal_decompose_daily": ("weekday",),
    "segment_migration": ("from_tier", "to_tier"),
    "silver_clean_documents": ("n_chars_clean",),
    "supplier_scorecard": ("min_lag_days", "max_lag_days"),
    "text_fingerprint": ("n_chars",),
    "text_langid": ("score_en", "score_de", "score_fr", "score_es"),
    "text_quality": ("n_chars", "n_tokens", "n_punct", "n_stop"),
    "text_tokens": ("ws_tokens", "bpe_ish_tokens", "n_chars"),
    "window_topn_per_customer": ("rn",),
}


def _ordered_oracle(sql: str, name: str) -> str:
    """DuckDB twin of :func:`_ordered_build` — same total order, with the
    registry-level int-width corrections applied first."""
    casts = _ORACLE_INT_CASTS.get(name)
    if casts:
        repl = ", ".join(f"CAST({c} AS INTEGER) AS {c}" for c in casts)
        sql = f"SELECT * REPLACE ({repl}) FROM (\n{sql}\n) AS __w"
    return f"SELECT * FROM (\n{sql}\n) AS __det ORDER BY ALL NULLS FIRST"


def register(name: str, oracle: str | None, doc: str = "") -> Callable[[QueryFn], QueryFn]:
    def wrap(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            # 185 names across 12 side-effect modules: a duplicate must
            # fail at import, not silently displace an earlier query
            # (which would also shift the driver's first-50 check set).
            raise ValueError(f"duplicate registry name {name!r}")
        _REGISTRY[name] = Query(
            name=name,
            build=_ordered_build(fn),
            oracle=_ordered_oracle(oracle, name) if oracle is not None else None,
            doc=doc,
        )
        mod = getattr(fn, "__module__", "") or ""
        rank = _MODULE_RANK.get(mod)
        if rank is None:
            raise ValueError(
                f"{mod!r} is not in queries._MODULE_RANK — append the "
                "new module there so registry order stays "
                "import-order-independent"
            )
        seq = _MODULE_COUNTERS.get(mod, 0)
        _MODULE_COUNTERS[mod] = seq + 1
        _REGISTRY_SEQ[name] = (rank, seq)
        return fn

    return wrap


def all_queries() -> dict[str, Query]:
    # Import the side-effect modules that register the rest of the
    # registry: every module named in _MODULE_RANK.
    for mod in _MODULE_RANK:
        importlib.import_module(mod)

    # canonical order regardless of which module a caller imported
    # first (see _MODULE_RANK)
    return {
        name: _REGISTRY[name]
        for name in sorted(_REGISTRY, key=_REGISTRY_SEQ.__getitem__)
    }


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ----------------------------------------------------------------------------
# Core relational: scan → filter → aggregate
# ----------------------------------------------------------------------------

_Q1_ORACLE = f"""
SELECT
  l_returnflag, l_linestatus,
  {sql_sum('l_quantity')}                                        AS sum_qty,
  {sql_sum('l_extendedprice')}                                   AS sum_base_price,
  {sql_sum('l_extendedprice * (1 - l_discount)')}                AS sum_disc_price,
  {sql_sum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')}  AS sum_charge,
  {sql_sum('l_quantity')} / COUNT(*)                             AS avg_qty,
  {sql_sum('l_extendedprice')} / COUNT(*)                        AS avg_price,
  {sql_sum('l_discount')} / COUNT(*)                             AS avg_disc,
  COUNT(*)                                                       AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01'
GROUP BY l_returnflag, l_linestatus
"""


@register(
    "q1_pricing_summary",
    _Q1_ORACLE,
    "Pricing summary (TPC-H Q1 shape): single-pass grouped multi-aggregate. "
    "Reference analog: gold-layer KPI aggregation (show_gold_tables.py).",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum("l_quantity", "sum_qty"),
            dec_sum("l_extendedprice", "sum_base_price"),
            dec_sum(disc_price, "sum_disc_price"),
            dec_sum(charge, "sum_charge"),
            (undec(F.sum(dec("l_quantity"))) / F.count(F.lit(1))).alias("avg_qty"),
            (undec(F.sum(dec("l_extendedprice"))) / F.count(F.lit(1))).alias("avg_price"),
            (undec(F.sum(dec("l_discount"))) / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_Q6_ORACLE = """
SELECT
  CAST(SUM(CAST(FLOOR((l_extendedprice * l_discount) * 1000000) AS DECIMAL(28,0))) AS DOUBLE) / 1000000 AS revenue,
  COUNT(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount >= 0.03 AND l_discount <= 0.07
  AND l_quantity < 24
"""


@register(
    "q6_forecast_revenue",
    _Q6_ORACLE,
    "Tight multi-predicate filter + global aggregate; predicates all reach "
    "the parquet scan (PushedFilters). Reference analog: incremental "
    "watermark filter loads (bronze_dimension_fact_load.py:71-78).",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dec_sum(F.col("l_extendedprice") * F.col("l_discount"), "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ----------------------------------------------------------------------------
# Joins
# ----------------------------------------------------------------------------

_Q3_ORACLE = """
SELECT
  o_orderkey,
  o_orderdate,
  o_orderpriority,
  CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 1000000) AS DECIMAL(28,0))) AS DOUBLE) / 1000000 AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate  > TIMESTAMP '1998-03-15'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


@register(
    "q3_shipping_priority",
    _Q3_ORACLE,
    "3-way join (broadcast dim + shuffle fact-fact) + agg + top-N with "
    "unique tiebreaker. Reference analog: fact build joins "
    "(gold_fact_orders.py:116-121).",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("1998-03-15").cast("timestamp")
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


_Q5_ORACLE = """
SELECT
  n_name,
  CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 1000000) AS DECIMAL(28,0))) AS DOUBLE) / 1000000 AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


@register(
    "q5_local_supplier",
    _Q5_ORACLE,
    "6-way star join: two shuffle joins between facts, broadcast for every "
    "dim (supplier/nation/region/customer stay bounded at 100 TB). "
    "Reference analog: gold_fact_orders.py:117-120 broadcast dim joins.",
)
def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


_Q10_ORACLE = """
SELECT
  c_custkey,
  c_name,
  n_name,
  CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 1000000) AS DECIMAL(28,0))) AS DOUBLE) / 1000000 AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1997-07-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@register(
    "q10_returned_items",
    _Q10_ORACLE,
    "Returned-item revenue ranking: join + filter + agg + deterministic "
    "top-N. Reference analog: analytics over fact_orders.",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


_BROADCAST_ORACLE = """
SELECT
  r_name,
  n_name,
  COUNT(*) AS n_customers,
  CAST(SUM(CAST(FLOOR((c_acctbal) * 1000000) AS DECIMAL(28,0))) AS DOUBLE) / 1000000 AS total_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


@register(
    "join_broadcast_dim",
    _BROADCAST_ORACLE,
    "Explicit broadcast() dim join — no shuffle on the fact side. "
    "Reference analog: gold_fact_orders.py:117 broadcast(dim_products).",
)
def join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dec_sum("c_acctbal", "total_acctbal"),
        )
    )


_SEMI_ORACLE = """
SELECT o_orderkey, o_orderdate, o_totalprice
FROM orders
WHERE o_orderstatus = 'O'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > TIMESTAMP '2001-06-01'
  )
"""


@register(
    "semi_join_open_orders",
    _SEMI_ORACLE,
    "LEFT SEMI join (EXISTS): open orders with recent shipments. "
    "Reference analog: 'already loaded?' existence checks (utils.py:17).",
)
def semi_join_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("2001-06-01").cast("timestamp")
    )
    return orders.join(li, orders.o_orderkey == li.l_orderkey, "left_semi").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )


_ANTI_ORACLE = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
)
"""


@register(
    "anti_join_inactive_customers",
    _ANTI_ORACLE,
    "LEFT ANTI join (NOT EXISTS): customers with no urgent orders — the "
    "predicate keeps the result non-empty at every SF so the check is "
    "meaningful. Reference analog: new-record detection in incremental "
    "loads.",
)
def anti_join_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    urgent = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


# ----------------------------------------------------------------------------
# Window functions
# ----------------------------------------------------------------------------

_TOPN_ORACLE = """
SELECT o_custkey, o_orderkey, o_totalprice, rn
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (
           PARTITION BY o_custkey
           ORDER BY o_totalprice DESC, o_orderkey
         ) AS rn
  FROM orders
) t
WHERE rn <= 3
"""


@register(
    "window_topn_per_customer",
    _TOPN_ORACLE,
    "Top-N per key via row_number window (one shuffle by key). Reference "
    "analog: SCD2 'current row' selection (gold_dim_products.py:73).",
)
def window_topn_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        orders.select(
            "o_custkey", "o_orderkey", "o_totalprice", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") <= 3)
    )


_RUNNING_ORACLE = """
SELECT
  o_custkey, o_orderkey, o_orderdate,
  CAST(SUM(CAST(FLOOR(o_totalprice * 1000000) AS DECIMAL(28,0))) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS DOUBLE) / 1000000 AS running_spend
FROM orders
"""


@register(
    "window_running_revenue",
    _RUNNING_ORACLE,
    "Running cumulative sum per key (decimal-exact). Reference analog: "
    "watermark/high-water computation over ordered history.",
)
def window_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        undec(F.sum(dec("o_totalprice")).over(w)).alias("running_spend"),
    )


# ----------------------------------------------------------------------------
# Aggregation shapes: distinct, rollup, pivot, union
# ----------------------------------------------------------------------------

_DISTINCT_ORACLE = """
SELECT c_mktsegment,
       COUNT(DISTINCT c_nationkey) AS n_nations,
       COUNT(*) AS n_customers
FROM customer
GROUP BY c_mktsegment
"""


@register(
    "distinct_count_segments",
    _DISTINCT_ORACLE,
    "COUNT(DISTINCT) per group (two-phase partial aggregation). Reference "
    "analog: uniqueness DQ checks (bronze_validation.py:75-79).",
)
def distinct_count_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").agg(
        F.countDistinct("c_nationkey").alias("n_nations"),
        F.count(F.lit(1)).alias("n_customers"),
    )


_ROLLUP_ORACLE = """
SELECT
  COALESCE(l_returnflag, 'ALL') AS returnflag,
  COALESCE(l_linestatus, 'ALL') AS linestatus,
  CAST(SUM(CAST(FLOOR((l_quantity) * 1000000) AS DECIMAL(28,0))) AS DOUBLE) / 1000000 AS sum_qty,
  COUNT(*) AS n_items
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


@register(
    "rollup_sales",
    _ROLLUP_ORACLE,
    "Multi-level ROLLUP aggregate (grouping sets in one shuffle). "
    "Reference analog: layered reporting rollups over gold tables.",
)
def rollup_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(dec_sum("l_quantity", "sum_qty"), F.count(F.lit(1)).alias("n_items"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n_items",
        )
    )


_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")

_PIVOT_ORACLE = """
SELECT
  CAST(date_trunc('day', ts) AS DATE) AS day,
  COUNT(*) FILTER (WHERE event_type = 'click')    AS click,
  COUNT(*) FILTER (WHERE event_type = 'view')     AS view,
  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
  COUNT(*) FILTER (WHERE event_type = 'signup')   AS signup,
  COUNT(*) FILTER (WHERE event_type = 'error')    AS error
FROM events
GROUP BY 1
"""


@register(
    "pivot_events",
    _PIVOT_ORACLE,
    "Pivot with explicit value list (avoids the extra distinct-values "
    "job — mandatory at scale). Reference analog: dashboard pivots.",
)
def pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    out = (
        ev.groupBy(F.to_date(F.date_trunc("day", "ts")).alias("day"))
        .pivot("event_type", list(_EVENT_TYPES))
        .count()
    )
    return out.select(
        "day", *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(t) for t in _EVENT_TYPES]
    )


_UNION_ORACLE = """
SELECT actor_id, kind, COUNT(*) AS n, MIN(at) AS first_at, MAX(at) AS last_at
FROM (
  SELECT o_custkey AS actor_id, 'order' AS kind, o_orderdate AS at FROM orders
  UNION ALL
  SELECT user_id   AS actor_id, 'event' AS kind, ts          AS at FROM events
) t
GROUP BY actor_id, kind
"""


@register(
    "union_activity_feed",
    _UNION_ORACLE,
    "Schema-conformed UNION ALL of heterogeneous sources into one feed. "
    "Reference analog: suggestion-stream union (silver_facts.py:88).",
)
def union_activity_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("actor_id"),
        F.lit("order").alias("kind"),
        F.col("o_orderdate").alias("at"),
    )
    events = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("actor_id"),
        F.lit("event").alias("kind"),
        F.col("ts").alias("at"),
    )
    return (
        orders.unionByName(events)
        .groupBy("actor_id", "kind")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("at").alias("first_at"),
            F.max("at").alias("last_at"),
        )
    )


# ----------------------------------------------------------------------------
# Time-series joins: as-of, range
# ----------------------------------------------------------------------------

_ASOF_ORACLE = """
WITH views AS (
  SELECT user_id, ts, MAX(value) AS view_value
  FROM events WHERE event_type = 'view'
  GROUP BY user_id, ts
),
purchases AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id, p.ts, p.value, v.view_value AS last_view_value
FROM purchases p
ASOF LEFT JOIN views v
  ON p.user_id = v.user_id AND p.ts >= v.ts
"""


@register(
    "asof_join_events",
    _ASOF_ORACLE,
    "As-of join: each purchase gets the latest preceding view's value per "
    "user. Custom operator (operators/asof.py): union-sort formulation, "
    "one shuffle, no range blowup. Reference analog: realtime latest-state "
    "correlation via Redis (orders_consumer.py:38-56).",
)
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    # Collapse right-side timestamp ties deterministically (both engines).
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("view_value"))
    )
    return asof_join(purchases, views, on="ts", by="user_id", value_cols=["view_value"]).select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.col("view_value_right").alias("last_view_value"),
    )


_RANGE_ORACLE = """
SELECT
  p.event_id AS purchase_id,
  e.event_id AS error_id,
  p.user_id,
  p.ts AS purchase_ts,
  e.ts AS error_ts
FROM events p
JOIN events e
  ON p.user_id = e.user_id
 AND p.event_type = 'purchase'
 AND e.event_type = 'error'
 AND e.ts >= p.ts - INTERVAL 10 MINUTE
 AND e.ts <= p.ts
"""


@register(
    "range_join_events",
    _RANGE_ORACLE,
    "Bounded time-range join: equality on user (hash join) + range "
    "residual — never a cross product. Reference analog: TTL-window "
    "correlation (Redis expire 120s, orders_consumer.py:77).",
)
def range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    e = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        F.col("user_id").alias("e_user_id"),
        F.col("ts").alias("error_ts"),
    )
    return (
        p.join(
            e,
            (p.user_id == e.e_user_id)
            & (e.error_ts >= p.purchase_ts - F.expr("INTERVAL 10 MINUTES"))
            & (e.error_ts <= p.purchase_ts),
        )
        .select("purchase_id", "error_id", "user_id", "purchase_ts", "error_ts")
    )
