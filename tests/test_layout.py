"""Production at-rest layout (sources/layout.py — the bench path's bucketed/
multi-file rewrite): size policy, row-level fidelity, the exchange-free plan
shapes it exists for, and result parity with the pristine-fixture plans."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from airflow_etl_elt_spark.sources import layout
from airflow_etl_elt_spark.sources.readers import read_table

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def rewritten_layout(spark, monkeypatch):
    """Force the rewrite floor to zero so the tiny test fixtures exercise the
    full bucketed + multi-file paths; always deregister afterwards so other
    tests keep reading pristine fixtures."""
    monkeypatch.setattr(layout, "MIN_BYTES", 0)
    monkeypatch.setattr(layout, "BUCKETS", 4)
    try:
        yield layout.prepare_at_rest_layout(spark, SF)
    finally:
        layout.clear(spark)


def test_size_policy_skips_small_fixtures(spark):
    """Every driver fixture is under the 16 MB floor, so the default policy
    rewrites NOTHING — the sf0.1 bench series stays comparable."""
    assert layout.prepare_at_rest_layout(spark, SF) == {}
    assert layout.resolve(spark, SF, "orders") is None
    assert not layout.bucketed_on(spark, SF, "orders", ("o_orderkey",))


def test_rewrite_preserves_rows_exactly(spark, rewritten_layout):
    """Bucketed and multi-file rewrites are row-identical to the source —
    including events' null-timestamp rows."""
    assert set(rewritten_layout) >= {"orders", "lineitem", "events", "documents"}
    for name, key in [("orders", "o_orderkey"), ("documents", "doc_id")]:
        got = layout.resolve(spark, SF, name)
        layout.suspend(spark)
        try:
            src = read_table(spark, SF, name)
            assert sorted(map(tuple, got.collect())) == sorted(
                map(tuple, src.collect())
            )
        finally:
            layout.resume(spark)
    ev = layout.resolve(spark, SF, "events")
    layout.suspend(spark)
    try:
        src_ev = read_table(spark, SF, "events")
        assert ev.count() == src_ev.count()
        assert (
            ev.filter(F.col("ts").isNull()).count()
            == src_ev.filter(F.col("ts").isNull()).count()
        )
    finally:
        layout.resume(spark)


def test_colocated_join_plans_no_exchange(spark, rewritten_layout):
    """The reason the layout exists: q3's fact-fact join sort-merges off the
    bucket metadata with ZERO shuffle exchanges and no fact-sized broadcast
    build (the only broadcast is dimension-sized customer)."""
    from airflow_etl_elt_spark.queries import QUERIES

    assert layout.bucketed_on(spark, SF, "orders", ("o_orderkey",))
    assert layout.bucketed_on(spark, SF, "lineitem", ("l_orderkey",))
    df = QUERIES["tpch_q3"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert shuffles == 0, plan
    assert "SortMergeJoin" in plan, plan
    assert plan.count("BroadcastExchange") == 1, plan  # customer only


def test_q5_custprune_keeps_zero_exchange_merge(spark, rewritten_layout):
    """r9 q5 rewrite regression: the region-pruned customer set pre-joins
    into orders as a broadcast BEFORE the orderkey merge, and the
    co-location predicate is spelled (c_nationkey - s_nationkey) == 0 so
    ExtractEquiJoinKeys cannot lift it into the merge keys — a plain
    equality there turned the keys into (nationkey, orderkey), invalidated
    the orderkey bucket distribution, and re-shuffled BOTH fact sides
    (measured at the 100x replica: 7 exchanges vs 0). Pin: merge on the
    orderkey alone, the subtraction as residual, zero shuffle exchanges,
    zero sorts."""
    from airflow_etl_elt_spark.queries import QUERIES

    df = QUERIES["tpch_q5_local_revenue"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # two exchanges allowed, BOTH carrying only aggregate states (the
    # two-tier exact-sum rollup: groupBy(n_name, pid) then groupBy(n_name),
    # ≤ |nations| × partitions tiny rows each — r10); the fact-fact merge
    # below them still plans zero shuffle.
    shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert shuffles == 2, plan
    assert "SortMergeJoin [l_orderkey" in plan, plan
    assert "- s_nationkey" in plan, plan  # residual, not a merge key
    assert "Sort [" not in plan.replace("SortMergeJoin", ""), plan


def test_sessionize_plans_no_exchange_no_sort(spark, rewritten_layout):
    """events bucketed on user_id and sorted (user_id, ts, event_id): the
    two-window sessionization needs neither an exchange nor a sort."""
    from airflow_etl_elt_spark.queries import QUERIES

    df = QUERIES["sessionize"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Sort [" not in plan.replace("SortMergeJoin", ""), plan


def _canon_row(row):
    # different plan shapes sum floats in different orders; compare at the
    # driver harness's own 9-significant-digit canonicalization
    return tuple(
        float(f"{v:.9g}") if isinstance(v, float) and v == v and v != 0 else v
        for v in row
    )


def test_layout_results_match_pristine_fixtures(spark, rewritten_layout):
    """Same rows in, different physical layout: the layout-served plans must
    return the same results as the pristine-fixture plans (floats compared
    at the oracle harness's 9-significant-digit canonicalization — the SMJ
    and broadcast plans legitimately sum in different orders)."""
    from airflow_etl_elt_spark.queries import QUERIES

    for key in ["tpch_q3", "tpch_q5_local_revenue", "revenue_by_priority",
                "sessionize", "events_hourly", "tpch_q10"]:
        got = sorted(_canon_row(r) for r in QUERIES[key](spark, SF).collect())
        layout.suspend(spark)
        try:
            want = sorted(
                _canon_row(r) for r in QUERIES[key](spark, SF).collect()
            )
        finally:
            layout.resume(spark)
        assert got == want, key


def test_reattach_reuses_files(spark, rewritten_layout):
    """A second prepare in the same session is registry-only; the marker
    files prove the materialization is identity-keyed on disk."""
    again = layout.prepare_at_rest_layout(spark, SF)
    assert again == rewritten_layout
    marker = os.path.join(rewritten_layout["orders"], "_LAYOUT_MARKER.json")
    assert os.path.exists(marker)


# --- ADVICE r7 regression pins -------------------------------------------


def test_clear_purges_suspended_overrides(spark, rewritten_layout):
    """clear() after suspend() must drop the suspended overrides too: a
    later resume() must NOT re-activate supposedly-cleared state."""
    layout.suspend(spark)
    layout.clear(spark)
    layout.resume(spark)
    assert layout.resolve(spark, SF, "orders") is None
    # rewritten_layout's teardown clear() is then a no-op; re-prepare so the
    # fixture's teardown path still sees a consistent world
    layout.prepare_at_rest_layout(spark, SF)


def test_ordering_conf_restored_on_suspend_and_clear(spark, rewritten_layout):
    """The bucketed-scan outputOrdering flag is override state, not session
    state: suspend() restores the pre-prepare value, resume() re-applies it,
    clear() restores it for good."""
    flag = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    assert spark.conf.get(flag) == "true"
    layout.suspend(spark)
    assert spark.conf.get(flag, "false") != "true"
    layout.resume(spark)
    assert spark.conf.get(flag) == "true"
    layout.clear(spark)
    assert spark.conf.get(flag, "false") != "true"
    layout.prepare_at_rest_layout(spark, SF)  # keep fixture teardown sane
    assert spark.conf.get(flag) == "true"


def test_duckdb_path_scoped_to_session(spark, rewritten_layout):
    """duckdb_path(spark=...) must ignore another session's registry entries
    for the same sf_dir."""
    own = layout.duckdb_path(SF, "orders", spark)
    assert own is not None and own.endswith("*.parquet")
    foreign_key = ("some-other-app-id", os.path.abspath(SF), "orders")
    layout._REGISTRY[foreign_key] = {"kind": "files", "path": "/nonexistent/dir"}
    try:
        assert layout.duckdb_path(SF, "orders", spark) == own
    finally:
        del layout._REGISTRY[foreign_key]


def test_source_identity_tracks_fixture_rewrites(tmp_path):
    """Regenerating a fixture file mid-process must produce a new layout
    identity (the r7 memo pinned the first observation forever)."""
    p = tmp_path / "orders.parquet"
    p.write_bytes(b"v1")
    ident1 = layout._source_identity(str(tmp_path))
    os.utime(p, (1000000000, 1000000000))
    ident2 = layout._source_identity(str(tmp_path))
    assert ident1 != ident2
