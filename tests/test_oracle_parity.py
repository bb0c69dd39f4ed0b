"""Every oracle-able query in the registry must match DuckDB on the
same parquet — the exact check the driver runs (row-count + schema +
order-insensitive values)."""

from __future__ import annotations

import pytest

from data_lakehouse_platform_spark.queries import all_queries
from tests.conftest import SF_DIR, assert_matches_oracle

_QUERIES = all_queries()
_ORACLE_KEYS = sorted(name for name, q in _QUERIES.items() if q.oracle is not None)


@pytest.mark.parametrize("name", _ORACLE_KEYS)
def test_query_matches_oracle(spark, duck, name):
    q = _QUERIES[name]
    df = q.build(spark, SF_DIR)
    assert_matches_oracle(df, duck, q.oracle)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns


def test_registry_contract():
    import __spark_entry__ as e

    qs = e.queries()
    oracles = e.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 16


# The driver's CORRECTNESS gate checks the FIRST 50 registry keys in
# registration order; an innocent import reshuffle would silently swap
# which queries get graded.  Keep this literal list in sync ON PURPOSE
# when adding queries ahead of existing ones.
_DRIVER_FIRST_50 = [
    "q1_pricing_summary", "q6_forecast_revenue", "q3_shipping_priority",
    "q5_local_supplier", "q10_returned_items", "join_broadcast_dim",
    "semi_join_open_orders", "anti_join_inactive_customers",
    "window_topn_per_customer", "window_running_revenue",
    "distinct_count_segments", "rollup_sales", "pivot_events",
    "union_activity_feed", "asof_join_events", "range_join_events",
    "dedup_exact", "dedup_ngram_jaccard", "dedup_minhash_lsh",
    "minhash_jaccard_est", "dedup_cluster", "dedup_simhash",
    "embed_neardup_cosine", "ann_cosine_topk", "ann_lsh_topk",
    "text_langid", "text_quality", "text_tokens", "text_fingerprint",
    "sample_stratified", "pii_scrub", "ngram_topk", "length_histogram",
    "dedup_verify_editdist", "graph_pagerank", "bronze_incremental_orders",
    "silver_clean_documents", "scd2_user_state", "scd2_point_in_time",
    "gold_fact_star", "dq_metrics", "sessionize_events",
    "windowed_event_counts", "recommend_eligible", "json_props_extract",
    "incremental_agg_refresh", "skew_salted_agg", "profile_orders",
    "dq_volume_anomaly", "changelog_compaction",
]


def test_driver_first_50_stable():
    import __spark_entry__ as e

    assert list(e.queries())[:50] == _DRIVER_FIRST_50


@pytest.mark.slow
def test_oracle_arrow_dtype_parity(spark, duck):
    """The driver's value hash is Arrow-dtype-sensitive: a DuckDB HUGEINT
    (decimal128) column where Spark emits int64 fails hash_match even with
    every value equal (round-2 root cause; 16 oracles were affected).
    Assert the full registry is Arrow-type-exact so the class cannot
    recur.  Spark schemas come from the lazy plan (no execution); oracle
    schemas from a LIMIT-0 Arrow fetch."""
    import os as _os
    import sys as _sys

    _sys.path.insert(0, _os.path.join(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
        ".claude", "skills", "verify",
    ))
    from oracle_dtype_scan import scan

    qs = {name: q.build for name, q in _QUERIES.items()}
    oracles = {name: q.oracle for name, q in _QUERIES.items() if q.oracle}
    import oracle_dtype_scan as ods

    old_sf = ods.SF
    ods.SF = SF_DIR
    try:
        findings = scan(spark, duck, qs, oracles)
    finally:
        ods.SF = old_sf
    assert not findings, "\n".join(
        f"{n}.{c}: spark={s} oracle={d}" for n, c, s, d in findings
    )


def test_oracle_fixed_point_scale_consistency():
    """Several oracle strings inline the fixed-point money fragment
    verbatim (readable SQL beats interpolation there); this guard
    makes that safe: if functions/money.SCALE ever changes, every
    inlined DECIMAL(28,0) fragment that silently kept the old scale
    fails here at test time instead of drifting from the Spark side."""
    import re

    from data_lakehouse_platform_spark.functions.money import SCALE
    from data_lakehouse_platform_spark.queries_trend_ext import (
        CENT_SCALE_QUERIES,
    )

    pat = re.compile(r"FLOOR\((.+?)\*\s*(\d+)\)\s*AS\s+DECIMAL\(28,\s*0\)")
    checked = 0
    for name, q in _QUERIES.items():
        if not q.oracle:
            continue
        # the trend family declares integer CENTS on purpose (pairwise/
        # prefix products must stay inside int64 at large SF)
        expected = 100 if name in CENT_SCALE_QUERIES else SCALE
        for m in pat.finditer(q.oracle):
            assert int(m.group(2)) == expected, (
                f"{name}: oracle fixed-point scale {m.group(2)} != "
                f"expected {expected}"
            )
            checked += 1
    assert checked > 50  # the guard actually sees the inlined copies
