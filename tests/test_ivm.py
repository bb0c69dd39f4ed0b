"""Incremental view maintenance over a Delta table's change feed
(keyed table_changes): applying CDF deltas to a grouped-aggregate view
must be bit-identical to a full rebuild at the target version — including
updates, inserts, deletes, group births, and group deaths."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from data_lakehouse_platform_spark.operators.ivm import (
    agg_state,
    apply_delta,
    changes_to_delta,
)
from data_lakehouse_platform_spark.sources.delta_lite import DeltaLiteTable

_SCHEMA = "k bigint, grp string, amount double"

_V0 = [
    (1, "a", 10.25),
    (2, "a", 5.50),
    (3, "b", 7.00),
    (4, "b", 1.75),
    (5, "c", 100.00),  # group c dies in v1
]

_V1 = [
    (1, "a", 10.25),   # unchanged
    (2, "a", 9.99),    # updated amount
    (3, "b", 7.00),    # unchanged
    # 4 deleted
    (6, "b", 2.25),    # inserted
    (7, "d", 50.00),   # group d born
]


def _canon(df):
    return sorted(
        tuple(r) for r in df.select("grp", "n", "amount_fp").collect()
    )


def test_cdf_delta_apply_equals_full_rebuild(spark, tmp_path):
    tbl = DeltaLiteTable(str(tmp_path / "t"))
    v0 = tbl.write(spark.createDataFrame(_V0, _SCHEMA), mode="overwrite")
    v1 = tbl.write(spark.createDataFrame(_V1, _SCHEMA), mode="overwrite")

    measures = {"amount": "amount"}
    view = agg_state(tbl.read(spark, version=v0), ["grp"], measures)

    cdf = tbl.table_changes(spark, v0, v1, keys=["k"])
    delta = changes_to_delta(cdf, ["grp"], measures)
    maintained = apply_delta(view, delta, ["grp"], ["amount"])

    rebuilt = agg_state(tbl.read(spark, version=v1), ["grp"], measures)
    assert _canon(maintained) == _canon(rebuilt)
    # group c (all rows deleted) is gone; group d (born) is present
    grps = {r.grp for r in maintained.collect()}
    assert "c" not in grps and "d" in grps


def test_delta_chain_across_many_versions(spark, tmp_path):
    """Maintaining the view through a chain of versions — apply each
    version's delta in turn — still matches the final full rebuild."""
    tbl = DeltaLiteTable(str(tmp_path / "chain"))
    rows = {k: ("g" + str(k % 3), float(k)) for k in range(1, 21)}

    def snap():
        return tbl.write(
            spark.createDataFrame(
                [(k, g, a) for k, (g, a) in sorted(rows.items())], _SCHEMA
            ),
            mode="overwrite",
        )

    versions = [snap()]
    # v1: update a third of the keys
    for k in range(1, 21, 3):
        g, a = rows[k]
        rows[k] = (g, a + 0.125)
    versions.append(snap())
    # v2: delete evens, insert a new block in a fresh group
    for k in list(rows):
        if k % 2 == 0:
            del rows[k]
    for k in range(100, 105):
        rows[k] = ("g_new", float(k) / 8)
    versions.append(snap())

    measures = {"amount": "amount"}
    view = agg_state(
        tbl.read(spark, version=versions[0]), ["grp"], measures
    )
    for frm, to in zip(versions, versions[1:]):
        cdf = tbl.table_changes(spark, frm, to, keys=["k"])
        view = apply_delta(
            view, changes_to_delta(cdf, ["grp"], measures), ["grp"], ["amount"]
        )

    rebuilt = agg_state(
        tbl.read(spark, version=versions[-1]), ["grp"], measures
    )
    assert _canon(view) == _canon(rebuilt)


def test_unchanged_groups_survive_and_zero_delta_noop(spark, tmp_path):
    tbl = DeltaLiteTable(str(tmp_path / "noop"))
    v0 = tbl.write(spark.createDataFrame(_V0, _SCHEMA), mode="overwrite")
    # no change
    v1 = tbl.write(spark.createDataFrame(_V0, _SCHEMA), mode="overwrite")

    measures = {"amount": "amount"}
    view = agg_state(tbl.read(spark, version=v0), ["grp"], measures)
    cdf = tbl.table_changes(spark, v0, v1, keys=["k"])
    assert cdf.count() == 0  # fingerprint diff: nothing changed
    maintained = apply_delta(
        view, changes_to_delta(cdf, ["grp"], measures), ["grp"], ["amount"]
    )
    assert _canon(maintained) == _canon(view)


# ---------------------------------------------------------------------------
# Property: for ANY random chain of inserts/updates/deletes, maintaining
# the view by CDF deltas equals the full rebuild at the final version.
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_SETTINGS = dict(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

# one edit: (key 0..9, group 0..2, amount-units, op) where op deletes
# when the key exists and amount is odd, else upserts
_edit = st.tuples(
    st.integers(min_value=0, max_value=9),
    st.integers(min_value=0, max_value=2),
    st.integers(min_value=0, max_value=400),
)
_chain = st.lists(
    st.lists(_edit, min_size=1, max_size=6), min_size=1, max_size=4
)


@pytest.mark.slow
@given(_chain)
@settings(**_SETTINGS)
def test_ivm_property_random_chains(spark, tmp_path_factory, chain):
    tbl = DeltaLiteTable(str(tmp_path_factory.mktemp("ivmprop")))
    state: dict[int, tuple[str, float]] = {
        k: ("g0", float(k)) for k in range(3)
    }

    def snap():
        rows = [(k, g, a) for k, (g, a) in sorted(state.items())]
        if not rows:
            rows = [(-1, "g_sentinel", 0.0)]  # keep snapshots non-empty
        return tbl.write(spark.createDataFrame(rows, _SCHEMA), mode="overwrite")

    versions = [snap()]
    for batch in chain:
        for k, g, a in batch:
            if k in state and a % 2 == 1:
                del state[k]
            else:
                state[k] = (f"g{g}", a / 8)
        versions.append(snap())

    measures = {"amount": "amount"}
    view = agg_state(
        tbl.read(spark, version=versions[0]), ["grp"], measures
    )
    for frm, to in zip(versions, versions[1:]):
        cdf = tbl.table_changes(spark, frm, to, keys=["k"])
        view = apply_delta(
            view, changes_to_delta(cdf, ["grp"], measures), ["grp"], ["amount"]
        )
    rebuilt = agg_state(
        tbl.read(spark, version=versions[-1]), ["grp"], measures
    )
    assert _canon(view) == _canon(rebuilt)


_A_SCHEMA = "k bigint, grp string, amount double"
_B_SCHEMA = "k bigint, rate double"

_A0 = [(1, "a", 10.0), (2, "a", 5.0), (3, "b", 7.0), (4, "c", 2.0)]
_B0 = [(1, 1.5), (2, 2.0), (3, 0.5), (4, 1.0)]

# A: update k=2, delete k=4 (kills group c), insert k=5 (group d)
_A1 = [(1, "a", 10.0), (2, "a", 6.25), (3, "b", 7.0), (5, "d", 4.0)]
# B: update k=1, delete k=3 (drops b's only joined row), insert k=5
_B1 = [(1, 9.0), (2, 2.0), (4, 1.0), (5, 3.0)]


def _canon_join(df):
    return sorted(
        tuple(r) for r in df.select("grp", "n", "amount_fp", "rate_fp").collect()
    )


def test_join_view_delta_equals_rebuild_both_sides_change(spark, tmp_path):
    from data_lakehouse_platform_spark.operators.ivm import (
        join_agg_state,
        join_changes_to_delta,
    )

    ta = DeltaLiteTable(str(tmp_path / "a"))
    tb = DeltaLiteTable(str(tmp_path / "b"))
    va0 = ta.write(spark.createDataFrame(_A0, _A_SCHEMA), mode="overwrite")
    vb0 = tb.write(spark.createDataFrame(_B0, _B_SCHEMA), mode="overwrite")
    va1 = ta.write(spark.createDataFrame(_A1, _A_SCHEMA), mode="overwrite")
    vb1 = tb.write(spark.createDataFrame(_B1, _B_SCHEMA), mode="overwrite")

    measures = {"amount": "amount", "rate": "rate"}
    view = join_agg_state(
        ta.read(spark, version=va0),
        tb.read(spark, version=vb0),
        ["k"],
        ["grp"],
        measures,
    )
    delta = join_changes_to_delta(
        ta.table_changes(spark, va0, va1, keys=["k"]),
        ta.read(spark, version=va0),
        tb.table_changes(spark, vb0, vb1, keys=["k"]),
        tb.read(spark, version=vb1),
        ["k"],
        ["grp"],
        measures,
    )
    maintained = apply_delta(view, delta, ["grp"], ["amount", "rate"])
    rebuilt = join_agg_state(
        ta.read(spark, version=va1),
        tb.read(spark, version=vb1),
        ["k"],
        ["grp"],
        measures,
    )
    assert _canon_join(maintained) == _canon_join(rebuilt)
    grps = {r.grp for r in maintained.collect()}
    # c died (A delete), b died (B delete of its only match), d born
    # (insert on BOTH sides — the ΔA ⋈ ΔB cross term)
    assert grps == {"a", "d"}


def test_join_view_one_sided_change(spark, tmp_path):
    from data_lakehouse_platform_spark.operators.ivm import (
        join_agg_state,
        join_changes_to_delta,
    )

    ta = DeltaLiteTable(str(tmp_path / "a1"))
    tb = DeltaLiteTable(str(tmp_path / "b1"))
    va0 = ta.write(spark.createDataFrame(_A0, _A_SCHEMA), mode="overwrite")
    vb0 = tb.write(spark.createDataFrame(_B0, _B_SCHEMA), mode="overwrite")
    va1 = ta.write(spark.createDataFrame(_A1, _A_SCHEMA), mode="overwrite")

    measures = {"amount": "amount", "rate": "rate"}
    view = join_agg_state(
        ta.read(spark, version=va0),
        tb.read(spark, version=vb0),
        ["k"],
        ["grp"],
        measures,
    )
    empty_changes = tb.table_changes(spark, vb0, vb0, keys=["k"])
    delta = join_changes_to_delta(
        ta.table_changes(spark, va0, va1, keys=["k"]),
        ta.read(spark, version=va0),
        empty_changes,
        tb.read(spark, version=vb0),
        ["k"],
        ["grp"],
        measures,
    )
    maintained = apply_delta(view, delta, ["grp"], ["amount", "rate"])
    rebuilt = join_agg_state(
        ta.read(spark, version=va1),
        tb.read(spark, version=vb0),
        ["k"],
        ["grp"],
        measures,
    )
    assert _canon_join(maintained) == _canon_join(rebuilt)
