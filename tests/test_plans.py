"""Physical-plan assertions: the scale-design claims, checked in CI.

Correctness tests prove WHAT each query returns; these prove HOW — that the
plan Catalyst produces is the one that survives a 100x scale-up: filters
reach the parquet scan, projections prune the read schema, dimension joins
broadcast, top-k never global-sorts, and no relational operator silently
falls back to row-at-a-time Python.
"""

from __future__ import annotations

import pytest

from airflow_etl_elt_spark.queries import ORACLE_SQL, QUERIES
from tests.conftest import SF_CORRECT, SF_SMOKE


@pytest.fixture(autouse=True)
def _no_plan_cache(monkeypatch):
    """Plan assertions need FRESH builds: the catalog plan cache returns
    DataFrames whose executedPlan may already be AQE-finalized by an
    earlier test's execution (ShuffleQueryStage / AQEShuffleRead replace
    the Exchange text these tests grep for)."""
    monkeypatch.setenv("SPARK_GRAFT_PLAN_CACHE", "0")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_filter_pushdown_reaches_parquet(spark):
    plan = _formatted(QUERIES["scan_filter_pushdown"](spark, SF_SMOKE))
    assert "PushedFilters: [" in plan
    assert "o_totalprice" in plan.split("PushedFilters")[1].split("]")[0]


def test_column_pruning_in_read_schema(spark):
    plan = _formatted(QUERIES["table_scan_project"](spark, SF_SMOKE))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "o_orderkey" in read_schema and "o_totalprice" in read_schema
    # untouched wide columns must NOT be read
    assert "o_orderdate" not in read_schema and "o_orderpriority" not in read_schema


def test_dimension_join_broadcasts(spark):
    plan = _plan(QUERIES["join_nation_region"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan


def test_q5_broadcasts_dims(spark):
    plan = _plan(QUERIES["tpch_q5_local_revenue"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan


def test_q6_pushes_all_range_predicates(spark):
    plan = _formatted(QUERIES["tpch_q6"](spark, SF_SMOKE))
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters")[1].split("]")[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, f"{col} predicate not pushed to parquet"


def test_q10_topk_and_broadcast(spark):
    plan = _plan(QUERIES["tpch_q10"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan  # top-20, never a global sort
    assert "BroadcastHashJoin" in plan  # nation dim broadcasts


def test_q10_aggregates_before_customer_join(spark):
    """r9 shape pin: the revenue aggregate + top-20 run on the SLIM
    (o_custkey-keyed) fact side BEFORE customer joins — the TakeOrdered
    must sit BELOW the customer join in the plan tree, so customer
    cardinality can never re-enter the aggregation (past the broadcast
    gate the old agg-after-join shape degraded to a customer shuffle join
    + wide-string-key hash agg)."""
    plan = _plan(QUERIES["tpch_q10"](spark, SF_SMOKE))
    take = plan.index("TakeOrderedAndProject")
    # the scan of the wide customer columns must appear ABOVE (before, in
    # top-down print order) the TakeOrdered: customer joins the 20
    # survivors, it does not feed the aggregate
    cust_scan = plan.index("c_name")
    assert cust_scan < take, plan
    # and the aggregate's grouping key is the slim o_custkey, not the
    # four-column post-join width
    agg = plan.index("HashAggregate(keys=[o_custkey")
    assert agg > take, plan  # below TakeOrdered in the printed tree


def test_q3_streams_lineitem_never_broadcasts_it(spark):
    """Regression: without CBO, Catalyst's product-of-children join estimate
    made the column-pruned lineitem scan the broadcast build side (driver
    collect of the query's biggest table). The cost-based choice in
    top_revenue_orders must keep lineitem on the stream side."""
    df = QUERIES["tpch_q3"](spark, SF_SMOKE)
    df.collect()  # let AQE finalize
    final = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    for section in final.split("BroadcastExchange")[1:]:
        scan_cols = section.split("FileScan parquet [", 1)
        if len(scan_cols) > 1:
            assert not scan_cols[1].startswith("l_"), "lineitem was broadcast"


def test_topk_never_global_sorts(spark):
    # orderBy + limit must compile to TakeOrderedAndProject (per-partition
    # local top-k, driver merge) — a global Sort would shuffle everything.
    plan = _plan(QUERIES["tpch_q3"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_agg_is_partial_before_exchange(spark):
    # map-side combine: a partial aggregate must appear below the exchange.
    plan = _plan(QUERIES["count_by_group"](spark, SF_SMOKE))
    assert "partial_count" in plan


ARROW_OK = {
    # Python is the intended execution vehicle for these (Arrow-batched):
    # grouped_stats: exact grouped median is the one aggregate Spark's
    # built-ins can't do efficiently (F.median = interpreted per-group
    # buffers, measured ~1.5x slower than the NumPy quickselect group-apply
    # at 600k rows and ~10x at 6M) — the small-input regime uses
    # mapInArrow; the at-scale regime is pure JVM (bracketed selection).
    "grouped_stats",
    "kde_per_group",
    "dedup_minhash",
    "dedup_minhash_verified",
    # dedup_incremental: the INCREMENT side pays the same signature UDF as
    # dedup_minhash (the corpus side reads persisted signatures — no UDF)
    "dedup_incremental",
    "dedup_simhash",
    "ngram_jaccard",
    "media_features",
    "knn_cosine",
    # knn_batch: the r6 pre-reduction scores each corpus batch against the
    # broadcast query set in BLAS and emits only per-batch top-k candidate
    # rows — MapInPandas IS the pre-reduce (see similarity.batch_knn)
    "knn_batch",
    "ann_ivf",
    "ann_lsh",
    # ann_pq (oracled r9): codes + ADC are pure JVM (pq_encode_jvm), but
    # the exact-cosine rescore + in_exact_top50 twin share ann_ivf's
    # cosine_topk, whose small-corpus regime is the BLAS pandas_udf
    "ann_pq",
    "label_pairs_topk",
    "dedup_embedding",
    # lang_id: marker counting runs in pyarrow's RE2 kernels via a scalar
    # pandas UDF — measured 3x over the java.util.regex codegen form at
    # the 10x replica (SCALING r6 addendum 2); ArrowEvalPython is the point
    "lang_id",
}


@pytest.mark.parametrize("key", sorted(ORACLE_SQL))
def test_no_rowwise_python_in_relational_plans(spark, key):
    """Every oracle-backed query must stay JVM-side: no BatchEvalPython
    (row-at-a-time Python UDF) anywhere in the physical plan. Arrow-batched
    Python (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas) is allowed
    only for the operators built on it."""
    plan = _plan(QUERIES[key](spark, SF_SMOKE))
    assert "BatchEvalPython" not in plan, f"{key} fell back to row-wise Python"
    if key not in ARROW_OK:
        for marker in ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
            assert marker not in plan, f"{key} unexpectedly uses {marker}"


def test_repetition_score_has_no_exchange(spark):
    # Per-row array ops only: a shuffle anywhere means the gram computation
    # stopped being scan-local and the op would not scale linearly.
    plan = _plan(QUERIES["repetition_score"](spark, SF_SMOKE))
    assert "Exchange" not in plan


def test_source_cap_single_shuffle(spark):
    # One hash exchange on the group column feeding the bounded window —
    # a second exchange would mean the rank is recomputed post-shuffle.
    plan = _plan(QUERIES["source_cap"](spark, SF_SMOKE))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan


def test_decontaminate_no_cartesian(spark):
    # Gram digests must equi-join; a nested-loop/cartesian fallback would be
    # O(corpus x eval) and unrunnable at scale.
    plan = _plan(QUERIES["decontaminate"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mode_uses_two_phase_agg_not_window(spark):
    # Distributed mode = two cascaded hash aggregations with map-side
    # partials; the window formulation would sort every group's candidates.
    plan = _plan(QUERIES["mode_event_type"](spark, SF_SMOKE))
    assert "Window" not in plan
    assert "partial_count" in plan


def test_salted_join_result_plan_no_cartesian(spark):
    plan = _plan(QUERIES["salted_revenue_by_segment"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ngram_split_not_reevaluated_per_element(spark):
    """Regression guard for the two optimizer traps in SCALING.md r3
    addendum 2: a split() that ends up inside a transform lambda or an
    InferFiltersFromGenerate filter re-runs per array element (O(T²) regex).
    The materialized-token shapes keep split references per-row-bounded:
    repetition_score evaluates it exactly once; decontaminate at most three
    times per side (projection + pushed size filter + inferred generate
    filter), never inside a lambda."""
    plan = _plan(QUERIES["repetition_score"](spark, SF_SMOKE))
    assert plan.count("split(") == 1, plan.count("split(")
    plan = _plan(QUERIES["decontaminate"](spark, SF_SMOKE))
    assert plan.count("split(") <= 6, plan.count("split(")
    # the per-element trap specifically: no split beneath a lambdafunction
    for frag in plan.split("lambdafunction")[1:]:
        assert "split(" not in frag.split(")")[0]


def test_fuse_gate_modes(spark, monkeypatch):
    """regime.fuse's two gates: plan-cache mode and size. Prepared
    mode must return the input UNCHANGED (the distributed 100 TB shape);
    fresh mode fuses only below the size bound."""
    from airflow_etl_elt_spark import regime
    from airflow_etl_elt_spark.sources.readers import read_table

    df = read_table(spark, SF_SMOKE, "orders").select("o_orderkey")
    monkeypatch.setenv("SPARK_GRAFT_PLAN_CACHE", "1")
    assert regime.fuse(df) is df
    monkeypatch.setenv("SPARK_GRAFT_PLAN_CACHE", "0")
    monkeypatch.setattr(regime, "SMALL_BYTES", 0)
    assert regime.fuse(df) is df
    monkeypatch.setattr(regime, "SMALL_BYTES", 1 << 62)
    assert "Coalesce 1" in _plan(regime.fuse(df))


def test_window_topk_fresh_fuses_to_single_stage(spark):
    """Fresh-build mode, small input: the whole top-k plan is one stage —
    no Exchange anywhere (SinglePartition satisfies the window's
    distribution; the sort is in-place)."""
    plan = _plan(QUERIES["window_topk"](spark, SF_SMOKE))
    assert "Coalesce 1" in plan
    assert "Exchange" not in plan


def test_window_topk_distributed_keeps_window_parallel(spark, monkeypatch):
    """ADVICE r5 regression: in the DISTRIBUTED shape the bounded-output
    sort must be a RANGE EXCHANGE — a barrier between the window and the
    sort — never a narrow coalesce(1) that would fuse the full-input
    window into a single task."""
    from airflow_etl_elt_spark import regime

    monkeypatch.setattr(regime, "SMALL_BYTES", 0)  # force distributed
    plan = _plan(QUERIES["window_topk"](spark, SF_SMOKE))
    assert "Exchange hashpartitioning(o_orderpriority" in plan
    assert "Exchange rangepartitioning" in plan
    assert "Coalesce 1" not in plan


def test_knn_batch_prereduces_before_exchange(spark):
    """Batch KNN (VERDICT r5 next-step 4): the exchange feeding the final
    per-query rank window must read the MapInPandas PRE-REDUCED rows
    (O(q*k*batches)), never the raw q x corpus score rows, and the plan
    must contain no nested-loop join. Forced multi-partition so the
    single-task coalesce gate can't hide the exchange."""
    import numpy as np

    from airflow_etl_elt_spark.operators.similarity import cosine_topk_batch

    rng = np.random.default_rng(7)
    emb = spark.createDataFrame(
        [(i, rng.standard_normal(8).astype(float).tolist()) for i in range(400)],
        "vec_id bigint, embedding array<float>",
    ).repartition(4)
    queries = spark.createDataFrame(
        [(i, rng.standard_normal(8).astype(float).tolist()) for i in range(3)],
        "query_id bigint, embedding array<float>",
    )
    out = cosine_topk_batch(emb, queries, k=5)
    plan = _plan(out)
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert "MapInPandas" in plan
    # the exchange (if any — AQE may have finalized it) sits ABOVE the
    # pre-reduction: everything below the first Exchange mention must
    # still contain MapInPandas
    if "Exchange" in plan:
        below_first_exchange = plan.split("Exchange", 1)[1]
        assert "MapInPandas" in below_first_exchange
    # correctness of the monoid merge across partitions: agrees with the
    # single-query exact operator per query id
    from airflow_etl_elt_spark.operators.similarity import cosine_topk

    got = {
        (r["query_id"], r["rank"]): (r["vec_id"], round(r["cosine"], 9))
        for r in out.collect()
    }
    qvecs = {r["query_id"]: r["embedding"] for r in queries.collect()}
    for qid, qv in qvecs.items():
        solo = cosine_topk(emb, [float(x) for x in qv], k=5).collect()
        for rank, r in enumerate(solo, start=1):
            assert got[(qid, rank)] == (r["vec_id"], round(r["cosine"], 9))


def test_two_tier_dec_agg_bit_identical_to_dec_sum(spark):
    """The long-partial/decimal-merge form (VERDICT r9 next-step 1) must
    produce the SAME double, bit for bit, as the per-addend decimal grid —
    both sum the identical 1e-6-grid integers exactly, so no partitioning
    or summation order may change the value. Also pins null handling
    (all-null slices stay null) and the count plumbing avgs divide by."""
    from pyspark.sql import functions as F

    from airflow_etl_elt_spark.operators.aggregates import (
        dec_sum,
        guarded_long_sum_agg,
        two_tier_dec_agg,
    )

    rows = [
        (i % 5, None if i % 17 == 0 else (i * 0.137 - 250.0) * 1.25)
        for i in range(4000)
    ] + [(9, None)] * 3  # a group whose value column is entirely null
    df = spark.createDataFrame(rows, "k int, v double").repartition(7)

    ref = (
        df.groupBy("k")
        .agg(dec_sum("v").alias("s"), F.count("v").alias("c"))
        .orderBy("k")
        .collect()
    )
    two = two_tier_dec_agg(
        df, ["k"], sums={"s": "v"}, counts={"c": "v"}
    ).orderBy("k").collect()
    one = guarded_long_sum_agg(df, ["k"], {"s": "v"}).orderBy("k").collect()

    assert [(r["k"], r["s"], r["c"]) for r in two] == [
        (r["k"], r["s"], r["c"]) for r in ref
    ]
    assert [(r["k"], r["s"]) for r in one] == [(r["k"], r["s"]) for r in ref]
    # the all-null group survives with a null sum in every formulation
    assert ref[-1]["s"] is None and two[-1]["s"] is None and one[-1]["s"] is None


def test_guarded_long_sum_overflow_raises_not_wraps(spark):
    """A group whose count × max|grid addend| could leave int64 must FAIL
    LOUDLY (either the explicit guard or ANSI ARITHMETIC_OVERFLOW), never
    return a silently wrapped sum."""
    import pytest as _pytest

    from airflow_etl_elt_spark.operators.aggregates import guarded_long_sum_agg

    # grid addend ≈ 9.3e18 > 2^62 alone; two of them would wrap int64
    df = spark.createDataFrame([(1, 9.3e12), (1, 9.3e12)], "k int, v double")
    with _pytest.raises(Exception) as ei:
        guarded_long_sum_agg(df, ["k"], {"s": "v"}).collect()
    msg = str(ei.value)
    assert "overflow" in msg.lower() or "guard" in msg.lower()


def test_agg_output_name_collisions_raise(spark):
    """ADVICE r10: a counts/extras key that shadows a sum name, a group
    column, or an internal __-prefixed staging alias must raise up front,
    not produce ambiguous columns that only fail downstream."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from airflow_etl_elt_spark.operators.aggregates import (
        guarded_long_sum_agg,
        two_tier_dec_agg,
    )

    df = spark.createDataFrame([(1, 2.0)], "k int, v double")
    with _pytest.raises(ValueError, match="duplicate output name"):
        guarded_long_sum_agg(df, ["k"], {"s": "v"}, extras={"s": F.count("v")})
    with _pytest.raises(ValueError, match="duplicate output name"):
        guarded_long_sum_agg(df, ["k"], {"k": "v"})
    with _pytest.raises(ValueError, match="internal staging alias"):
        guarded_long_sum_agg(
            df, ["k"], {"s": "v"}, extras={"__cstar": F.count("v")}
        )
    with _pytest.raises(ValueError, match="internal staging alias"):
        guarded_long_sum_agg(df, ["k"], {"s": "v", "__s_s": "v"})
    with _pytest.raises(ValueError, match="duplicate output name"):
        two_tier_dec_agg(df, ["k"], sums={"s": "v"}, counts={"s": "v"})
    with _pytest.raises(ValueError, match="duplicate output name"):
        two_tier_dec_agg(df, ["k"], sums={"s": "v"}, count_star="s")
    # a backtick in an output name is quoted (doubled), not rejected
    # (tests/test_identifiers.py); an input __pid column collides with the
    # tier-1 staging alias (selectExpr('*', ...) duplicates rather than
    # replaces)
    assert guarded_long_sum_agg(df, ["k"], {"s`x": "v"}).columns == ["k", "s`x"]
    with _pytest.raises(ValueError, match="__pid"):
        two_tier_dec_agg(
            df.selectExpr("k", "v", "1 AS __pid"), ["k"], sums={"s": "v"}
        )


def test_guard_trips_before_wrap_at_datacenter_magnitudes(spark):
    """VERDICT r10 stretch 7 — 100 TB-shaped magnitudes with ANSI OFF: a
    single group of 10^6 addends at 10^13 grid units sums to 10^19 grid >
    2^63, i.e. a silent int64 wrap if nothing guards. guarded_long_sum_agg
    must raise its explicit guard BEFORE any wrapped value escapes, and
    two_tier_dec_agg (the big-group form: per-partition long states, then
    a decimal merge) must return the EXACT sum at the same magnitudes."""
    import pytest as _pytest

    from airflow_etl_elt_spark.operators.aggregates import (
        guarded_long_sum_agg,
        two_tier_dec_agg,
    )

    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        # grid addend = 1e7 * 1e6 = 1e13; count 1e6 => true grid sum 1e19
        df = spark.range(1_000_000).selectExpr(
            "cast(1 as int) as k", "cast(1.0e7 as double) as v"
        )
        with _pytest.raises(Exception) as ei:
            guarded_long_sum_agg(df, ["k"], {"s": "v"}).collect()
        msg = str(ei.value).lower()
        assert "guard" in msg or "overflow" in msg
        row = two_tier_dec_agg(df.repartition(8), ["k"], sums={"s": "v"}).first()
        assert row["s"] == 1.0e13  # exact: 1e19 grid units / 1e6
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)


def test_tpch_q1_two_tier_plan_shape(spark):
    """pricing_summary's two-tier shape: the row-volume aggregate groups by
    (flags, partition id) with LONG sums — no per-row decimal — and the
    decimal merge sits above it on state-count rows only."""
    from airflow_etl_elt_spark.queries import QUERIES

    plan = QUERIES["tpch_q1"](spark, SF_SMOKE)._jdf.queryExecution().optimizedPlan().toString()
    assert "SPARK_PARTITION_ID" in plan.upper() or "spark_partition_id" in plan
    # decimal appears only in the merge tier (cast of the long partials),
    # never on the addend expressions (FLOOR(x*1e6+0.5) stays long)
    assert "cast(FLOOR(" not in plan.replace(" ", "")


def test_tpch_q10_postjoin_keeps_all_topk_rows(spark):
    """ADVICE r9: q10 aggregates by o_custkey and takes the top-20 BEFORE
    the inner joins to customer/nation — correct only under the TPC-H FK
    contract (every o_custkey resolves to a customer, every c_nationkey to
    a nation). A fixture/FK regression would silently DROP a top-20 row at
    the join; this pins that the post-join result still carries exactly the
    20 aggregate winners."""
    from airflow_etl_elt_spark.queries import QUERIES

    out = QUERIES["tpch_q10"](spark, SF_CORRECT).collect()
    assert len(out) == 20, f"post-join q10 returned {len(out)} rows (FK leak?)"
