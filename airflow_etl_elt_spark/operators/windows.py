"""Window functions: ranking, running aggregates, lag/lead deltas.

Not present in the reference (SURVEY.md §2.5 note) — required by the driver
fixtures (events) and any real pipeline. All windows here are PARTITIONED
(``partitionBy``): an un-partitioned window is a single-task funnel and is
banned in this codebase outside of dimension-sized inputs (see
relational.surrogate_key's docstring).

Determinism: every ``orderBy`` includes a unique tiebreaker column so running
aggregates and ranks are reproducible against the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from airflow_etl_elt_spark import regime
from airflow_etl_elt_spark.operators.relational import quote_ident


def top_k_per_group(
    df: DataFrame,
    group_col: str,
    order_col: str,
    tiebreak_col: str,
    k: int = 3,
) -> DataFrame:
    """row_number ≤ k per group, ordered by ``order_col`` desc.

    One shuffle on the group key; each group sorted independently. For heavy
    skew (one giant group), pre-aggregate or use a per-partition partial top-k
    (e.g. groupBy + max_by/collect-sort for tiny k).

    Two plan shapes (see ``regime.fuse`` for the mode split):

    - **Distributed** (prepared mode, or any input above the size gate —
      the 100 TB shape): the window runs parallel per group; the final
      ordering of the bounded (#groups x k) output is a global ``orderBy``,
      i.e. a RANGE EXCHANGE. The exchange is the point, not an accident: a
      narrow ``coalesce(1)`` here would fuse into the SAME stage as the
      window and silently single-task the full-input window (ADVICE r5) —
      the barrier keeps the window stage parallel and range-sorts only the
      tiny result.
    - **Fused** (fresh-build mode, small input): the input is already one
      partition, the window plans no exchange, and the sort is an in-place
      ``sortWithinPartitions`` — one stage end to end. Re-won fresh, sf0.1,
      20 pairs of 3-call means: 0.363 vs 0.523 CPU-s (lower in 20).
    """
    fused = regime.fuse(df)
    g, o, t = (quote_ident(c) for c in (group_col, order_col, tiebreak_col))
    # SQL-text build path (OPTIMIZATION r13, same contract as
    # two_tier_dec_agg): the window + rank expression is one parsed
    # string instead of ~60 nested py4j Column calls — parses to the
    # identical physical plan (plans/r13 before/after dumps;
    # F.desc == SQL DESC NULLS LAST).
    ranked = fused.selectExpr(
        "*",
        f"CAST(row_number() OVER (PARTITION BY {g} ORDER BY {o} DESC, {t})"
        " AS BIGINT) AS rn",
    ).filter(f"rn <= {int(k)}")
    if fused is df:
        return ranked.orderBy(g, "rn")
    return ranked.sortWithinPartitions(g, "rn")


# Above this optimized-plan size estimate the full-ranking suite considers
# the bucket-composed plan (below it the plain window is strictly cheaper:
# compose costs two extra scan passes). FALLBACK signal only: compressed
# bytes mis-gate when the at-rest layout changes compression (r7 finding —
# the r6 replica rewrite compressed orders 2x better and silently flipped
# this gate OFF at 10x/30x, resurrecting the plain-window spill). Callers
# that can see parquet footer statistics pass ``total_rows`` instead.
RANK_COMPOSE_BYTES = 48 * 1024 * 1024

# Rows-per-group threshold for the row-based gate (the honest unit: the
# hazard is ONE task sorting one group's rows, which scales with rows, not
# compressed bytes). Measured crossover on the production at-rest layout,
# compute-only (the result fetch is identical in both plans), alternating
# pair order, r7: 0.9M rows/group composed 2.12 s vs plain 2.16 s (tie);
# 3M rows/group composed 5.45 s vs plain 8.35 s (composed 1.5x ahead and
# the gap grows with group size — the plain window is super-linear once a
# group's sort spills).
RANK_COMPOSE_ROWS_PER_GROUP = 1_000_000


def ranking_suite(
    df: DataFrame,
    group_col: str,
    order_col: str,
    tiebreak_col: str,
    ntile_n: int = 4,
    total_rows: int | None = None,
) -> DataFrame:
    """dense_rank / percent_rank / ntile / cume_dist per group over the
    UNIQUE total order (``order_col`` DESC, ``tiebreak_col`` ASC) — with a
    plan that stays distributed when the partition key has few values.

    The plain ``Window.partitionBy(group)`` form sorts each group in ONE
    task — with 5 priorities over billions of rows that plan dies (VERDICT
    r4/r5: the named low-cardinality spill; 8-11 s at the 30x replica,
    super-linear). Unlike ``top_k_per_group`` there is no WindowGroupLimit
    to bound it: every row keeps its rank.

    Scale path — range-bucket offset composition, the windowed sibling of
    ``grouped_exact_median``'s bracketed-selection machinery (r6: that
    operator's brackets come from codegen histograms now; this one keeps
    its one-shot ``approxQuantile`` boundaries — ranking needs balanced
    buckets, not a rank-exact bracket):

    1. Sketch pass: GLOBAL ``approxQuantile`` boundaries split the order
       column into ~parallelism range buckets. Approximation (and using
       one global boundary set instead of per-group ones) only skews
       bucket BALANCE, never correctness — bucket assignment is a
       monotone function of the value, so bucket order refines value
       order within every group. The ~parallelism boundary doubles are
       collected once and embedded as a LITERAL comparison chain: pure
       codegen, and both downstream passes see identical boundaries by
       construction. (A first cut broadcast-joined a per-group boundary
       array and folded it with ``F.aggregate`` — 36 s at the 30x
       replica, the same interpreted-HOF-per-row trap SCALING.md records
       for the median's bucketed-sort variant; the literal chain is
       ~100x cheaper.)
    2. Count pass: rows per (group, bucket) — map-side partial to a
       #groups x #buckets frame; prefix sums give each bucket's global
       offset and each group's total N.
    3. Rank pass: ONE full-data exchange hash-partitioned on
       (group, bucket) — parallelism = groups x buckets instead of groups —
       local ``row_number`` + offset = the exact global position ``rn``.

    Because the total order is UNIQUE (the module contract: every orderBy
    carries a tiebreaker), every ranking function is a pure codegen
    expression of (rn, N): dense_rank = rn, percent_rank = (rn-1)/(N-1),
    cume_dist = rn/N, ntile by the first-r-buckets-get-one-extra rule.
    With duplicate (order, tiebreak) pairs these identities break — that
    contract is asserted nowhere cheaper than the caller's schema (a unique
    id column), so it is the documented precondition.

    Size gates, measured not guessed: below ``RANK_COMPOSE_BYTES``
    the two extra passes cost more than they parallelize (the plain window
    serves); above it,
    an ``approx_count_distinct`` probe checks the key's cardinality — a
    HIGH-cardinality key already gives the plain window its parallelism,
    so compose engages only where the window genuinely degenerates. NULL
    order values sort last (Spark DESC NULLS LAST), bucketed past every
    boundary.
    """
    g, o, t = (quote_ident(c) for c in (group_col, order_col, tiebreak_col))
    src = df.select(g, o, t)
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    # Gate, best signal first. With ``total_rows`` (parquet footer stats —
    # exact, layout- and compression-independent): compose iff the key is
    # low-cardinality AND rows-per-group crosses the measured spill
    # threshold. Without it: the legacy compressed-bytes estimate (known
    # to mis-fire when the at-rest layout compresses well — see
    # RANK_COMPOSE_BYTES).
    if total_rows is not None:
        composed = total_rows >= RANK_COMPOSE_ROWS_PER_GROUP
    else:
        # re-won (plain window below the bound) on sf0.1 orders without
        # footer stats, fresh, 20 pairs: 0.65 vs 1.73 CPU-s (lower in 20)
        composed = regime.plan_bytes(src) >= RANK_COMPOSE_BYTES
    if composed:
        n_groups = src.agg(
            F.approx_count_distinct(g).alias("g")
        ).first()["g"]
        composed = n_groups < 4 * par
        if composed and total_rows is not None:
            composed = total_rows / max(n_groups, 1) >= RANK_COMPOSE_ROWS_PER_GROUP
    if not composed:
        # SQL-text build path (OPTIMIZATION r13): one parsed string per
        # output instead of nested Column ops — identical physical plan
        # (F.desc == DESC NULLS LAST; plans/r13 before/after dumps).
        w = f"PARTITION BY {g} ORDER BY {o} DESC, {t}"
        return src.selectExpr(
            t,
            g,
            f"CAST(dense_rank() OVER ({w}) AS BIGINT) AS drank",
            f"percent_rank() OVER ({w}) AS prank",
            f"CAST(ntile({int(ntile_n)}) OVER ({w}) AS BIGINT) AS quartile",
            f"cume_dist() OVER ({w}) AS cdist",
        )

    n_buckets = max(par, 2)
    qs = [i / n_buckets for i in range(1, n_buckets)]
    v = F.col(o).cast("double")
    # Boundary precision only affects bucket BALANCE, never rank
    # correctness (bucket order refines value order at any boundaries), so
    # the sketch runs at a COARSE 1/(2·buckets) relative error: worst case
    # a bucket is ~50% over/under target size. ε=1e-4 was the composed
    # path's dominant cost at the 10x replica — 1.6 s of a 2.4 s total vs
    # 0.5 s at ε=1/64 (r6 A/B), for balance precision ranking never needed.
    err = 1.0 / max(2 * n_buckets, 16)
    bnds = sorted(
        set(
            src.filter(F.col(o).isNotNull())
            .select(v.alias("__v"))
            .stat.approxQuantile("__v", qs, err)
        )
    )
    # DESC order: bucket = #boundaries above the value (monotone non-
    # decreasing along the sort order) as a literal codegen chain;
    # NULLs (sorted last) past them all
    bucket = F.lit(0)
    for b in bnds:
        bucket = bucket + F.when(v < F.lit(float(b)), 1).otherwise(0)
    bucket = F.when(v.isNull(), F.lit(len(bnds) + 1)).otherwise(bucket)
    bucketed = src.withColumn("__bkt", bucket)
    w_off = (
        Window.partitionBy(g)
        .orderBy("__bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_tot = Window.partitionBy(g)
    offsets = (
        bucketed.groupBy(g, "__bkt")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .select(
            g,
            "__bkt",
            F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).alias("__off"),
            F.sum("__cnt").over(w_tot).alias("__n"),
        )
    )
    w_local = Window.partitionBy(g, "__bkt").orderBy(F.desc(o), F.col(t))
    ranked = (
        bucketed.join(F.broadcast(offsets), [group_col, "__bkt"])
        .withColumn(
            "__rn", (F.row_number().over(w_local) + F.col("__off")).cast("bigint")
        )
        .withColumn("__q", F.expr(f"__n div {ntile_n}"))
        .withColumn("__r", F.expr(f"__n % {ntile_n}"))
    )
    tile = F.when(
        F.col("__rn") <= F.col("__r") * (F.col("__q") + 1),
        F.expr("(__rn - 1) div (__q + 1) + 1"),
    ).otherwise(F.expr("__r + (__rn - __r * (__q + 1) - 1) div __q + 1"))
    return ranked.select(
        t,
        g,
        F.col("__rn").alias("drank"),
        F.when(F.col("__n") == 1, F.lit(0.0))
        .otherwise((F.col("__rn") - 1) / (F.col("__n") - 1))
        .alias("prank"),
        tile.cast("bigint").alias("quartile"),
        (F.col("__rn") / F.col("__n")).alias("cdist"),
    )


def running_sum(
    df: DataFrame,
    partition_col: str,
    order_cols: list[str],
    value_col: str,
    out_col: str = "running_value",
) -> DataFrame:
    """Cumulative sum per partition in a fixed total order (rows unbounded
    preceding → current). The frame is row-based, so double accumulation order
    is identical across engines — bit-reproducible against the oracle."""
    w = (
        Window.partitionBy(partition_col)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(out_col, F.sum(value_col).over(w))


def lag_delta(
    df: DataFrame,
    partition_col: str,
    order_cols: list[str],
    value_col: str,
    out_col: str = "delta",
) -> DataFrame:
    """value - lag(value) per partition; NULL for each partition's first row."""
    w = Window.partitionBy(partition_col).orderBy(*order_cols)
    return df.withColumn(out_col, F.col(value_col) - F.lag(value_col).over(w))
