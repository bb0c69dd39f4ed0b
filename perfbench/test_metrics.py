"""Self-tests for the benchmark's metric math, on synthetic inputs.

No Spark is started:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys
from datetime import datetime, timedelta

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from lake_refresh import CDC_UPDATES, START, generate  # noqa: E402
from metrics import (  # noqa: E402
    OpTally,
    Span,
    interval_union,
    pass_seconds,
    percentile,
    self_times,
    supported_percentile,
    tail_report,
)
from eager_queries import pass_orders, phase_metrics  # noqa: E402


def test_pass_seconds_sums_per_query_medians():
    samples = {"a": [1.0, 9.0, 2.0], "b": [0.5, 0.4, 0.6], "c": [3.0]}
    assert pass_seconds(samples) == pytest.approx(2.0 + 0.5 + 3.0)


def test_pass_seconds_ignores_one_slow_repeat_per_query():
    steady = {"a": [1.0, 1.0, 1.0], "b": [2.0, 2.0, 2.0]}
    spiked = {"a": [1.0, 50.0, 1.0], "b": [2.0, 2.0, 40.0]}
    assert pass_seconds(spiked) == pass_seconds(steady)


def test_pass_seconds_rejects_a_query_without_samples():
    with pytest.raises(ValueError):
        pass_seconds({"a": [1.0], "b": []})


def test_phase_metrics_split_an_op_into_build_and_materialize():
    ops = {"a": [3.0, 5.0], "b": [1.0, 1.0], "c": [10.0, 12.0]}
    builds = {"a": [2.0, 4.0], "b": [0.25, 0.25], "c": [1.0, 1.0]}
    m = phase_metrics(ops, builds)
    assert m["pass_s"] == pytest.approx(4.0 + 1.0 + 11.0)
    assert m["refresh_p50_s"] == pytest.approx(3.0 + 0.25 + 1.0)
    assert m["cdc_commit_p50_s"] == pytest.approx(1.0 + 0.75 + 10.0)
    assert m["read_p50_s"] == pytest.approx(4.0)  # the middle query's median


@pytest.mark.parametrize(
    "n, expected",
    [(0, None), (9, None), (99, None), (100, 90.0), (199, 90.0), (200, 95.0),
     (999, 95.0), (1000, 99.0), (9999, 99.0), (10000, 99.9)],
)
def test_supported_percentile_needs_ten_samples_beyond(n, expected):
    assert supported_percentile(n) == expected


def test_tail_report_names_only_the_supported_tail():
    few = tail_report("op", [1.0, 2.0, 3.0])
    assert few == {"op_p50": 2.0, "op_n": 3}
    many = tail_report("op", [float(i) for i in range(1, 201)])
    assert many["op_n"] == 200 and many["op_p95"] == 190.0
    assert not any(k in many for k in ("op_p99", "op_p90"))


def test_percentile_is_nearest_rank():
    assert percentile([5.0, 1.0, 3.0, 2.0, 4.0], 50) == 3.0
    assert percentile([1.0, 2.0], 100) == 2.0


def _span(id_, start, end, parent=None):
    return Span("s", start, end, parent, op=0, id=id_)


def test_self_time_subtracts_children():
    spans = [_span(1, 0.0, 10.0), _span(2, 1.0, 3.0, 1), _span(3, 5.0, 6.0, 1)]
    assert self_times(spans) == {1: pytest.approx(7.0), 2: 2.0, 3: 1.0}


def test_self_time_counts_overlapping_children_once_and_clips_them():
    spans = [
        _span(1, 0.0, 10.0),
        _span(2, 1.0, 4.0, 1),
        _span(3, 3.0, 5.0, 1),  # overlaps span 2
        _span(4, 9.0, 12.0, 1),  # runs past the parent's end
    ]
    assert self_times(spans)[1] == pytest.approx(10.0 - 4.0 - 1.0)


def test_self_time_of_nested_spans_excludes_only_direct_children():
    spans = [_span(1, 0.0, 10.0), _span(2, 2.0, 8.0, 1), _span(3, 3.0, 4.0, 2)]
    own = self_times(spans)
    assert own[1] == pytest.approx(4.0)
    assert own[2] == pytest.approx(5.0)
    assert sum(own.values()) == pytest.approx(10.0)


def test_interval_union_merges_overlaps():
    assert interval_union([(0.0, 2.0), (1.0, 3.0), (5.0, 6.0)]) == pytest.approx(4.0)
    assert interval_union([]) == 0.0


def test_failures_count_each_op_once():
    t = OpTally()
    ops = [t.attempt() for _ in range(5)]
    t.fail(ops[1])
    t.fail(ops[1], ops[3])  # a check failing over an op that already failed
    assert (t.attempted, t.failed) == (5, 2)


def test_failed_check_fails_every_op_it_covers():
    t = OpTally()
    by_query = {"a": [t.attempt(), t.attempt()], "b": [t.attempt(), t.attempt()]}
    t.fail(*by_query["b"])
    assert (t.attempted, t.failed) == (4, 2)


def test_seed_sets_the_query_order_within_each_pass():
    names = ("a", "b", "c", "d", "e")
    assert pass_orders(names, 3, seed=7) == pass_orders(names, 3, seed=7)
    assert pass_orders(names, 3, seed=7) != pass_orders(names, 3, seed=8)
    assert all(sorted(p) == sorted(names) for p in pass_orders(names, 3, seed=7))


def _base_tables():
    orders = {"o_orderkey": [], "o_custkey": [], "o_orderstatus": [],
              "o_totalprice": [], "o_orderdate": [], "o_orderpriority": []}
    day = START - timedelta(days=60)
    for k in range(1, 1201):
        orders["o_orderkey"].append(k)
        orders["o_custkey"].append(k % 97 + 1)
        orders["o_orderstatus"].append("OFP"[k % 3])
        orders["o_totalprice"].append(float(k))
        orders["o_orderdate"].append(day + timedelta(days=k // 10))
        orders["o_orderpriority"].append("1-URGENT")
    customers = {"c_custkey": list(range(1, 101)), "c_name": [f"c{i}" for i in range(100)],
                 "c_nationkey": [i % 25 for i in range(100)],
                 "c_acctbal": [float(i) for i in range(100)],
                 "c_mktsegment": ["AUTOMOBILE", "BUILDING", "MACHINERY"] * 33 + ["HOUSEHOLD"]}
    return orders, customers


def test_same_seed_generates_identical_inputs():
    a = generate(5, *_base_tables(), 3)
    b = generate(5, *_base_tables(), 3)
    assert a == b
    assert generate(6, *_base_tables(), 3)[2] != a[2]


def test_generated_increments_have_the_declared_shape():
    initial, _, incs = generate(5, *_base_tables(), 3)
    assert all(d < START for d in initial["o_orderdate"])
    seen = set(initial["o_orderkey"])
    for inc in incs:
        assert len(inc.changed) == 2  # 2% of 100 customers
        assert all(d < inc.cutoff for d in inc.orders["o_orderdate"])
        updates = len(inc.cdc["o_orderkey"]) - len(inc.orders["o_orderkey"])
        assert updates == CDC_UPDATES
        keys = inc.cdc["o_orderkey"]
        assert len(set(keys)) < len(keys)  # keys repeat inside a batch
        assert len(set(inc.cdc["cdc_ts"])) == len(keys)  # no timestamp ties
        assert set(keys) - set(inc.orders["o_orderkey"]) <= seen
        seen |= set(inc.orders["o_orderkey"])
    assert incs[0].cutoff == datetime(2000, 1, 15)
