"""Joins: equi, broadcast, semi/anti, fact-fact, TPC-H Q3-style top-k.

The reference is single-table (SURVEY.md §2.3 note) — joins enter via the
north star (driver fixtures + 100 TB pipelines). Strategy notes per function;
the global rules:

- **Broadcast the small side explicitly** when it is known-small by schema
  (region: 5 rows, nation: 25 — dimension tables stay KB-sized at any fact
  scale). Explicit ``F.broadcast`` documents intent; AQE would usually get
  there too but only after computing sizes.
- **Fact-fact joins** (lineitem ⋈ orders) shuffle both sides on the key —
  unavoidable without co-bucketing. At 100 TB, bucket both tables on the join
  key at rest (``bucketBy``) so the exchange disappears; the functions here
  take pre-loaded DataFrames so bucketed or plain inputs both work.
- **Semi/anti** instead of join+distinct / join+filter-null: they stop probing
  at first match and never duplicate rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from airflow_etl_elt_spark import regime


def nations_with_regions(nation: DataFrame, region: DataFrame) -> DataFrame:
    """Broadcast equi-join of the two smallest dims; zero shuffle."""
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("n_nationkey", "n_name", "r_name")
        .orderBy("n_nationkey")
    )


def revenue_by_segment(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """orders ⋈ customer → revenue + order count per market segment.

    customer is the smaller side at every scale factor (1 customer : ~10
    orders in TPC-H shape); the planner broadcasts it below the session's
    ``autoBroadcastJoinThreshold`` and shuffle-joins it above (customer is
    a fact at 100 TB). Aggregation is partial before the final exchange on
    c_mktsegment; the output is bounded by |segments| (5), so the final
    order uses ``ordered_small`` (no range exchange).
    """
    from airflow_etl_elt_spark.operators.aggregates import two_tier_dec_agg
    from airflow_etl_elt_spark.operators.relational import ordered_small

    # broadcast customer + fused-small stream side = one fresh-build stage.
    # Re-won fresh, sf0.1, 20 pairs: 0.252 vs 0.334 s wall (lower in 19).
    orders = regime.fuse(orders.select("o_custkey", "o_totalprice"))
    # order-independent exact grid sum, long partials / decimal merge
    # (bit-identical to dec_sum; aggregates.two_tier_dec_agg — 5 segments
    # is exactly the low-cardinality shape the two-tier form exists for)
    return ordered_small(
        two_tier_dec_agg(
            orders.join(customer, orders.o_custkey == customer.c_custkey),
            ["c_mktsegment"],
            sums={"total_price": "o_totalprice"},
            count_star="order_cnt",
        ),
        "c_mktsegment",
    )


def revenue_by_priority(
    lineitem: DataFrame, orders: DataFrame, colocated: bool = False
) -> DataFrame:
    """Fact-fact join on orderkey, rolled up to order priority.

    ``colocated=True`` (caller knows BOTH sides are bucketed+sorted on the
    orderkey with matching bucket counts — the at-rest layout
    sources/layout.py serves): force the sort-merge join, which then plans
    ZERO exchange and zero sort — the 100 TB shape, with no per-run build
    cost of any kind. The hint matters: left alone, the planner would
    broadcast or shuffle-hash the small-estimate orders side, re-paying a
    hash-relation build every fresh run and bypassing the bucket layout.

    Otherwise the planner picks the join (sort-merge at scale; AQE splits
    skewed orderkeys), except in a fresh build of a small input, where both
    sides fuse to one task and hash-join (below).
    """
    from airflow_etl_elt_spark.operators.aggregates import two_tier_dec_agg

    # two_tier_dec_agg: exact grid sum, long partials / decimal merge —
    # bit-identical to dec_sum, and 5 priorities is the low-cardinality
    # shape the two-tier form exists for (see aggregates.py)
    rev = "(l_extendedprice * (1 - l_discount))"  # SQL text: fast build path
    if colocated:
        li = lineitem.select("l_orderkey", "l_extendedprice", "l_discount")
        return two_tier_dec_agg(
            li.join(orders.hint("merge"), li.l_orderkey == orders.o_orderkey),
            ["o_orderpriority"],
            sums={"revenue": rev},
            count_star="line_cnt",
        ).orderBy("o_orderpriority")

    build = orders
    # Fresh-build mode: fusing BOTH small sides makes them SinglePartition-
    # compatible, so the join and the rollup plan no exchange at all (one
    # stage). Fusing only one side would just move the exchange; the size
    # gate keys off lineitem (always the larger side here). Re-won fresh,
    # sf0.1, 20 pairs: 0.86 vs 1.55 CPU-s (lower in 20) unfused, and 0.765
    # vs 1.37 CPU-s (lower in 20) with lineitem alone fused.
    li_pruned = lineitem.select("l_orderkey", "l_extendedprice", "l_discount")
    li_fused = regime.fuse(li_pruned)
    if li_fused is not li_pruned:
        lineitem = li_fused
        # keep the hash build: SMJ would in-partition-sort both fused sides
        build = regime.fuse(
            orders.select("o_orderkey", "o_orderpriority")
        ).hint("shuffle_hash")
    return two_tier_dec_agg(
        lineitem.join(build, lineitem.l_orderkey == orders.o_orderkey),
        ["o_orderpriority"],
        sums={"revenue": rev},
        count_star="line_cnt",
    ).orderBy("o_orderpriority")


def customers_with_orders(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """LEFT SEMI: customers having ≥1 order; no row duplication, early-out probe."""
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_semi")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


def customers_without_orders(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """LEFT ANTI: the idempotent-append primitive (SURVEY.md §2 row 5) in
    query form — rows whose key is absent from the other side. NULL-safe by
    construction (unlike NOT IN)."""
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    salt: int = 8,
    how: str = "inner",
    seed: int = 42,
) -> DataFrame:
    """Skew-resistant equi-join: spread a hot fact key across ``salt``
    reducers by salting the fact side randomly and replicating the dim side
    ``salt``x.

    When one fact key holds a large fraction of all rows (power-law user_ids,
    null-ish default keys), a plain shuffle join sends that key's entire
    volume to ONE reducer — the straggler that dominates the stage at 100 TB.
    Salting trades ``salt``x duplication of the (small) dim side for an even
    spread of the hot key. AQE's skew-join handles the sort-merge case
    automatically; salting is the explicit form for the cases AQE can't see:
    pre-AQE plans, bucketed inputs that skip the exchange, streaming joins.
    Result is identical to the unsalted join (verified in tests).
    """
    salt_col = (F.rand(seed) * salt).cast("int")
    salted_fact = fact.withColumn("__salt", salt_col)
    salted_dim = dim.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    joined = salted_fact.join(
        salted_dim,
        (salted_fact[fact_key] == salted_dim[dim_key])
        & (salted_fact["__salt"] == salted_dim["__salt"]),
        how,
    )
    return joined.drop("__salt")


def top_revenue_orders(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    segment: str = "BUILDING",
    k: int = 10,
    colocated: bool = False,
) -> DataFrame:
    """TPC-H Q3-shaped: revenue per order for one segment, top-k.

    Join order is selectivity-first: the segment filter prunes customer, that
    prunes orders (segment ≈ 1/|segments| of orders survive), and lineitem —
    the biggest fact — is the STREAM side of the final join. Left to itself,
    Catalyst picked the column-pruned LINEITEM as the build side whenever it
    squeaked under the broadcast threshold (without CBO a join's size
    estimate is the product of its children, so the orders⋈customer side
    always *looks* bigger): a driver-side collect + hash build of the
    largest table in the query, and exactly the side that stops fitting
    first at real scale. So the broadcast decision is made HERE, cost-based,
    from an honest bound Catalyst doesn't track: segment_orders is at most
    the orders scan, so broadcast it iff that scan's size estimate fits the
    broadcast bound (``regime.BROADCAST_BYTES``, the session's
    ``autoBroadcastJoinThreshold``). At 100 TB orders exceeds it and the join
    degrades to the correct shuffle join (which AQE may still upgrade from
    ACCURATE runtime sizes). orderBy+limit compiles to
    TakeOrderedAndProject — each partition keeps its local top-k, the driver
    merges k rows, no global sort materializes. Tie-broken by o_orderkey.
    """
    segment_orders = (
        customer.filter(F.col("c_mktsegment") == segment)
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .select("o_orderkey", "o_orderdate")
    )
    lineitem = lineitem.select("l_orderkey", "l_extendedprice", "l_discount")
    if colocated:
        # Both facts bucketed+sorted on the orderkey (the at-rest layout):
        # customer broadcasts INTO the bucketed orders scan (preserving its
        # partitioning/ordering), and the merge hint forces the SMJ that the
        # bucket metadata makes exchange-free AND sort-free — no fact-sized
        # hash relation is ever built, fresh or prepared. The broadcast
        # branch below is strictly worse here: it re-pays a segment-orders
        # hash build every fresh run.
        segment_orders = (
            F.broadcast(customer.filter(F.col("c_mktsegment") == segment))
            .join(orders, F.col("c_custkey") == F.col("o_custkey"))
            .select("o_orderkey", "o_orderdate")
            .hint("merge")
        )
    elif 0 < regime.plan_bytes(
        orders.select("o_orderkey", "o_orderdate")
    ) < regime.BROADCAST_BYTES:
        # Re-won fresh, scale 0.02, 20 pairs of 3-call means: 0.333 vs
        # 0.359 s wall (lower in 20); sf0.1: 0.536 vs 0.908 s (lower in 20).
        # A prepared plan ties (lower in 10 of 20).
        segment_orders = F.broadcast(segment_orders)
    from airflow_etl_elt_spark.operators.aggregates import guarded_long_sum_agg

    # guarded_long_sum_agg: bit-identical to dec_sum's exact grid sum, but
    # the per-orderkey aggregation stays on primitive longs (high-cardinality
    # key — the two-tier form would re-pay a full state-volume exchange);
    # per-group totals are bounded by the guarded count×max|addend| check
    # (an orderkey has ≤7 lineitems at any SF). VERDICT r9 next-step 1.
    return (
        guarded_long_sum_agg(
            lineitem.join(
                segment_orders, F.col("o_orderkey") == F.col("l_orderkey")
            ),
            ["o_orderkey", "o_orderdate"],
            {"revenue": "(l_extendedprice * (1 - l_discount))"},
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(k)
    )
