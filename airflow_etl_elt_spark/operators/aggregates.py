"""Aggregations: multi-stat grouped agg, count-by-group, TPC-H-style rollups.

Reference parity (SURVEY.md §2.4):
- grouped_stats — pandas ``groupby("quality")["alcohol"].agg(["mean","median",
  "std","min","max","count"])`` + sort desc (etl_elt_wine.py:426-428).
  pandas ``std`` is sample std (ddof=1) → ``stddev_samp``; pandas ``median``
  is exact interpolated → Spark ``median``/``percentile(col, 0.5)`` (exact),
  never ``approx_percentile`` in oracle-checked paths (SURVEY.md §7 hazard 3).
- count_by_group — Metabase query (README.md:95-105).

Scale notes: groupBy aggregations in Spark are two-phase (partial map-side
combine, then shuffle on the group key, then final merge) — the shuffle
volume is #groups × #partial-states, not #rows. Exact median is the one
exception: it buffers each group's values, so it is reserved for low-ish
cardinality group keys; at 100 TB with high-cardinality keys switch to
``approx_percentile`` (documented per-callsite, not silently).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from airflow_etl_elt_spark import regime
from airflow_etl_elt_spark.operators._cache import rotate_persist
from airflow_etl_elt_spark.operators.relational import quote_ident

# Histogram-bracketed selection knobs (exact median, large regime).
# _HIST_BUCKETS equal-width cells per refinement level: hist shuffle volume
# is #groups x occupied-cells of tiny (key, int, long) rows with map-side
# combine, and each level shrinks the candidate bracket ~B-fold.
# 1024, down from 8192 (r11): the histogram pass is bound by the per-row
# probe into the partial-agg hash map, and #groups × B entries at 8192
# spill past L2 — measured same-session A/B on the 100x replica (60M rows,
# 3 groups): 2.55 s at B=8192 vs 0.81 s at B=1024, identical level counts
# at every realistic N (ceil(log_B(N/131072)): both give 1 level at 60M,
# 2 at 6e9). Exactness is B-independent — the bracket bookkeeping is
# exact-count-driven for any width.
_HIST_BUCKETS = 1024
# Stop refining a group once its bracket holds at most this many rows: the
# final selection compresses the bracket to DISTINCT (group, value) counts,
# so 128k raw rows bound the selection shuffle at <= 128k tiny rows/group
# (far fewer under ties, which compress to one row per distinct value).
_SELECT_MAX_ROWS = 1 << 17
# Depth backstop. Non-tie data converges in ceil(log_B(n / _SELECT_MAX))
# levels (1e12 rows -> 2); tie-heavy data exits earlier via width collapse.
# Running out of levels costs selection size, NEVER correctness — the
# selection is exact over whatever bracket the loop last produced.
_MAX_HIST_LEVELS = 6

#: input rows below which the selection's literal bounding-box pre-filter
#: (and its extra driver job) is a net loss — breakeven measured between the
#: 10x (6M-row, loss) and 100x (60M-row, 2x win) replicas; see
#: _exact_median_from_bounds.
_BOX_PREFILTER_MIN_ROWS = 20_000_000


#: Fixed-point addend type for order-independent float aggregation: the
#: 1e-6-grid integers land in DECIMAL(18,0) whose Spark sum buffer
#: (decimal(28,0)) stays on the compact-long fast path (see dec_sum).
DEC_SUM_TYPE = "decimal(18,0)"


def dec_sum(col) -> F.Column:
    """Order-independent sum of a float expression, returned as DOUBLE.

    A plain double ``sum()`` depends on partition/merge order: two runs of
    the same plan (or two engines) can differ in the last ulp, and when the
    true value sits within that drift of a 9-significant-digit rounding
    boundary, an exact value-hash comparison flips between runs (the
    ``revenue_by_priority`` driver red in round 8; SCALING r8 addendum 2).

    Fix in the query contract: put each ADDEND on a fixed 1e-6 grid —
    ``floor(x * 1e6 + 0.5)`` — which is exact for the money×rate products of
    the TPC-H-shaped keys (≤6 true decimal digits) and a deterministic,
    engine-identical rounding for anything else; then sum the grid integers
    EXACTLY, so no summation order can ever change the result. The final
    cast back to double + one division is computed from one exact value,
    identically in every engine.

    Formulation, measured (tpch_q1 at sf0.1, 7 aggregates over 590k rows;
    plain double sums 0.35 s):
    - per-addend ``CAST(x AS DECIMAL(18,6))``: 1.09 s — Spark's double→
      decimal cast allocates a java BigDecimal per row (so does F.round on
      doubles);
    - ``floor(x*1e6 + 0.5)`` (primitive) summed as LONG: 0.40 s — but a
      long grand total WRAPS silently at ~9.2e12 raw, which a 100 TB
      per-group revenue exceeds;
    - floor grid cast LONG→DECIMAL(18,0) (compact, no BigDecimal) and
      summed in decimal: 0.69 s — the decimal(28,0) sum buffer stays on
      Spark's compact-long fast path until 1e18 and is exact to 1e38, so
      grand totals at 100 TB cannot overflow. This is the shape used here.
    All three produce bit-identical results where they are defined; the
    oracle twin is ``CAST(sum(CAST(floor((x) * 1000000.0 + 0.5) AS
    DECIMAL(18,0))) AS DOUBLE) / 1000000.0`` (DuckDB sums DECIMAL(18,0)
    into exact DECIMAL(38,0)). NaN/Inf inputs are outside the contract
    (fixture money/rate/measure columns carry neither; Spark's non-ANSI
    double→long cast of NaN is 0 where DuckDB errors).
    """
    c = F.col(col) if isinstance(col, str) else col
    grid = F.floor(c * F.lit(1e6) + F.lit(0.5)).cast(DEC_SUM_TYPE)
    return F.sum(grid).cast("double") / F.lit(1e6)


def dec_avg(col) -> F.Column:
    """Order-independent mean: exact grid sum (see dec_sum) divided by the
    non-null count in ONE IEEE double division — both operands are engine-
    identical, so the quotient is too."""
    c = F.col(col) if isinstance(col, str) else col
    return dec_sum(c) / F.count(c)


def _grid_long_sql(expr_sql: str) -> str:
    """The 1e-6-grid addend of SQL expression ``expr_sql`` as a primitive
    LONG (``FLOOR`` of a DOUBLE is LongType) — same grid as dec_sum, no
    per-row decimal (``1e6``/``0.5D`` are DOUBLE literals, same as
    ``F.lit``)."""
    return f"FLOOR((({expr_sql}) * 1e6) + 0.5D)"


def dec_sum_sql(expr_sql: str) -> str:
    """SQL-text twin of ``dec_sum`` (OPTIMIZATION r13) — parses to the
    identical Catalyst tree: grid addend cast to DECIMAL(18,0), exact
    decimal sum, one double cast + division. Same value bit for bit."""
    return (
        f"(CAST(sum(CAST({_grid_long_sql(expr_sql)} AS {DEC_SUM_TYPE})) "
        "AS DOUBLE) / 1e6)"
    )


#: Pre-overflow bound for long-summed grid addends: a sum (in any order) of
#: a set of longs can never leave int64 if count × max|addend| < 2^62 (the
#: true bound is 2^63; the factor-2 headroom absorbs the double rounding in
#: the count×max product check). Compared as doubles so the check itself
#: cannot overflow.
_LONG_SUM_GUARD = float(2**62)


def _require_sql(where: str, *maps) -> None:
    """The grid-sum builders take SQL expression text only: a Column value
    raises here, with the builder named."""
    for m in maps:
        for name, v in m.items():
            if not isinstance(v, str):
                raise TypeError(
                    f"{where}: {name!r} must be SQL expression text, "
                    f"got {type(v).__name__}"
                )


def _assert_agg_names_disjoint(where: str, group_cols, sums, *extra_maps):
    """Reject output-name collisions up front (ADVICE r10): every sums /
    counts / extras key must be distinct from the group columns and from
    each other, and must not shadow an internal staging alias this call
    will actually generate (``__cstar``, ``__s_<sum>``, ``__m_<sum>``,
    ``__c_<name>``) — duplicate or ambiguous columns would otherwise only
    fail downstream. Caller-chosen ``__``-prefixed names that don't hit a
    generated alias stay legal (q1's ``__sum_disc`` convention)."""
    internal = {"__cstar", "__pid", "__ok"}
    for n in sums:
        internal.add(f"__s_{n}")
        internal.add(f"__m_{n}")
    all_names = [n for m in (sums, *extra_maps) for n in m]
    internal.update(f"__c_{n}" for n in all_names)
    seen = set(group_cols)
    for name in all_names:
        if name in internal:
            raise ValueError(
                f"{where}: output name {name!r} collides with an internal "
                "staging alias this aggregate generates"
            )
        if name in seen:
            raise ValueError(
                f"{where}: duplicate output name {name!r} (collides with "
                "a group column or another aggregate key)"
            )
        seen.add(name)


def two_tier_dec_agg(
    df: DataFrame,
    group_cols: list[str],
    sums: dict[str, str],
    counts: dict[str, str] | None = None,
    count_star: str | None = None,
) -> DataFrame:
    """Exact order-independent grid sums at primitive-long partial speed.

    Same value, bit for bit, as ``dec_sum`` per name in ``sums`` — the grid
    addends are summed EXACTLY either way — but the per-row work is a LONG
    add instead of a decimal add (the ~2× tpch_q1 cost of the r9 grid;
    VERDICT r9 next-step 1).  Two tiers:

    - **tier 1** groups by ``group_cols + spark_partition_id()``: every
      input partition's slice of a group is long-summed map-side, so the
      row-volume path never touches a decimal. Safety is generic, not
      assumed: each tier-1 state also carries count(*) and max|addend|, and
      ``count × maxabs < 2^62`` (⇒ no prefix of any summation order can
      leave int64) is CHECKED per state — a violation raises instead of
      wrapping (and under ANSI-on, Spark's own ARITHMETIC_OVERFLOW would
      raise first).
    - **tier 2** groups by ``group_cols`` alone and merges the long
      partials as DECIMAL(20,0) (a partial can approach 2^63, past
      DECIMAL(18,0)) — exact to 1e38, so grand totals at 100 TB cannot
      overflow, exactly as dec_sum's merge.

    Output-name collisions raise up front (ADVICE r10): a ``counts`` /
    ``count_star`` / ``extras`` key that shadows a sum name, a group column,
    or an internal ``__``-prefixed alias would otherwise produce duplicate
    or ambiguous columns that only fail downstream.

    Shuffle cost: both exchanges carry only aggregate states
    (≤ #groups × #input-partitions tiny rows, map-side combined), so this
    is for LOW-cardinality group keys (q1's 6 groups). For high-cardinality
    keys the extra exchange re-pays the full state volume — use
    ``guarded_long_sum_agg`` there instead.

    ``sums``/``counts`` values are SQL expression text (a bare quoted
    column name is the degenerate case); a Column raises ``TypeError``.
    ``counts`` adds non-null counts (tier-1 count(col), tier-2 sum) named
    by key; ``count_star`` adds count(*) under that name. Output columns:
    group_cols, sums (double, /1e6), count_star, counts. Compose averages
    caller-side as sum_col / count_col — identical to dec_avg.
    """
    counts = counts or {}
    _require_sql("two_tier_dec_agg", sums, counts)
    _assert_agg_names_disjoint(
        "two_tier_dec_agg",
        group_cols,
        sums,
        counts,
        [count_star] if count_star else [],
    )
    # SQL-text build (OPTIMIZATION r12): the whole aggregate is JVM-parsed
    # expression text — one py4j round trip per output instead of one per
    # Column operation (the nested-Column form cost ~1,700 py4j calls,
    # ~0.3 s of driver time, per tpch_q1 build for the identical trees).
    # An INPUT column named __pid would collide with the tier-1 partition-id
    # staging alias (`selectExpr('*', ...)` DUPLICATES rather than replaces
    # it — ADVICE r12): raise with the operator named instead of an opaque
    # ambiguity error downstream.
    if "__pid" in df.columns:
        raise ValueError(
            "two_tier_dec_agg: input already has a __pid column, which "
            "collides with the tier-1 partition-id staging alias"
        )
    gcols = [quote_ident(g) for g in group_cols]
    # Quoted identifiers of the output names and their staging aliases.
    out = {n: quote_ident(n) for n in (*sums, *counts)}
    s_ = {n: quote_ident(f"__s_{n}") for n in sums}
    m_ = {n: quote_ident(f"__m_{n}") for n in sums}
    c_ = {n: quote_ident(f"__c_{n}") for n in counts}
    aggs = [F.expr(f"sum({_grid_long_sql(s)}) AS {s_[n]}") for n, s in sums.items()]
    aggs += [
        F.expr(f"max(abs({_grid_long_sql(s)})) AS {m_[n]}") for n, s in sums.items()
    ]
    aggs.append(F.expr("count(1) AS __cstar"))
    aggs += [F.expr(f"count({c}) AS {c_[n]}") for n, c in counts.items()]
    t1 = (
        df.selectExpr("*", "spark_partition_id() AS __pid")
        .groupBy(*gcols, "__pid")
        .agg(*aggs)
    )
    maxes = ", ".join(f"coalesce({m_[n]}, 0)" for n in sums)
    biggest = maxes if len(sums) == 1 else f"greatest({maxes})"
    ok = (
        f"(CAST(__cstar AS DOUBLE) * CAST({biggest} AS DOUBLE))"
        f" < {_LONG_SUM_GUARD!r}D"
    )
    guard_msg = (
        "two_tier_dec_agg: long grid-sum overflow guard tripped — "
        "use dec_sum (decimal per-addend) for this input scale"
    )
    # Two projection steps so the guard predicate is PARSED once (`__ok`)
    # instead of once per sum — the inlined form re-parses the
    # greatest(...) tree N times (~35 ms of JVM parse per build on q1's 5
    # sums). The optimizer collapses both projections into one, so the
    # executed plan is unchanged (the CASE still inlines __ok's tree).
    staged = t1.selectExpr("*", f"({ok}) AS __ok")
    checked = staged.selectExpr(
        *gcols,
        *[
            f"CAST(CASE WHEN __ok THEN {s_[n]} ELSE raise_error('{guard_msg}')"
            f" END AS DECIMAL(20,0)) AS {s_[n]}"
            for n in sums
        ],
        "__cstar",
        *c_.values(),
    )
    return checked.groupBy(*gcols).agg(
        *[F.expr(f"(CAST(sum({s_[n]}) AS DOUBLE) / 1e6) AS {out[n]}") for n in sums],
        *([F.expr(f"sum(__cstar) AS {quote_ident(count_star)}")] if count_star else []),
        *[F.expr(f"sum({c_[n]}) AS {out[n]}") for n in counts],
    )


def guarded_long_sum_agg(
    df: DataFrame,
    group_cols: list[str],
    sums: dict[str, str],
    extras: dict[str, "F.Column"] | None = None,
) -> DataFrame:
    """Single-tier exact grid sum in primitive LONG, overflow-guarded.

    Bit-identical to ``dec_sum`` per name, but the whole aggregation —
    map-side partials AND the merge — stays on longs. Sound because every
    intermediate of any summation order over a group is bounded by
    count(*) × max|addend|, which is aggregated alongside and CHECKED per
    final group (< 2^62 ⇒ no int64 overflow anywhere); a violation raises
    (as would Spark's own ANSI ARITHMETIC_OVERFLOW) instead of wrapping.

    This is the HIGH-cardinality-key form (q3's per-orderkey revenue, q10's
    per-custkey): one exchange of aggregate states, exactly like the plain
    agg it replaces — the two extra primitive aggregates (count, max-abs)
    ride the same hash state. Per-group totals are what the guard bounds,
    so it fits keys whose groups stay small (an orderkey's ≤7 lineitems at
    any SF); a group big enough to trip it should use dec_sum or the
    two-tier form.

    ``sums`` values are SQL expression text (a Column raises ``TypeError``).
    ``extras`` adds further aggregate expressions (e.g. a count) that ride
    the SAME hash-aggregate state — no extra pass, no extra exchange — and
    appear in the output under their key names.
    """
    extras = extras or {}
    _require_sql("guarded_long_sum_agg", sums)
    _assert_agg_names_disjoint(
        "guarded_long_sum_agg", group_cols, sums, extras
    )
    # SQL-text build (OPTIMIZATION r12, see two_tier_dec_agg): ~10x fewer
    # py4j round trips than the nested-Column form of the same trees.
    # Column-valued extras ride along unchanged.
    gcols = [quote_ident(g) for g in group_cols]
    s_ = {n: quote_ident(f"__s_{n}") for n in sums}
    m_ = {n: quote_ident(f"__m_{n}") for n in sums}
    t = df.groupBy(*gcols).agg(
        *[F.expr(f"sum({_grid_long_sql(s)}) AS {s_[n]}") for n, s in sums.items()],
        *[
            F.expr(f"max(abs({_grid_long_sql(s)})) AS {m_[n]}")
            for n, s in sums.items()
        ],
        F.expr("count(1) AS __cstar"),
        *[e.alias(n) for n, e in extras.items()],
    )
    maxes_sql = ", ".join(f"coalesce({m_[n]}, 0)" for n in sums)
    biggest_sql = maxes_sql if len(sums) == 1 else f"greatest({maxes_sql})"
    ok_sql = (
        f"(CAST(__cstar AS DOUBLE) * CAST({biggest_sql} AS DOUBLE))"
        f" < {_LONG_SUM_GUARD!r}D"
    )
    guard_msg = (
        "guarded_long_sum_agg: long grid-sum overflow guard tripped — "
        "use dec_sum (decimal per-addend) for this input scale"
    )
    return t.selectExpr(
        *gcols,
        *[
            f"(CAST(CASE WHEN {ok_sql} THEN {s_[n]} ELSE "
            f"raise_error('{guard_msg}') END AS DOUBLE) / 1e6) AS {quote_ident(n)}"
            for n in sums
        ],
        *[quote_ident(n) for n in extras],
    )


def grouped_exact_median(
    df: DataFrame,
    group_col: str,
    value_col: str,
    accuracy: int = 1000,
    value_bounds: tuple[float, float] | None = None,
    total_rows: int | None = None,
) -> DataFrame:
    """Exact per-group median that stays distributed at any group size.

    ``F.median``/``percentile`` buffer every value of a group into one
    aggregation state and merge those buffers in ONE final task per group —
    measured 22 s on 6M rows x 3 groups, and a non-starter when a group holds
    billions of values. This is adaptive histogram-bracketed selection: every
    pass is whole-stage-codegen built-ins (HashAggregate over primitive
    state), replacing the r1-r5 GK-sketch bracket whose
    ``percentile_approx`` + ``collect_list`` passes ran in
    ObjectHashAggregate (interpreted per-row eval, object state) and
    dominated the measured cost (1.9 s GK + 2.2 s selection of a 4.9 s
    median at 6M rows — see SCALING.md r6 addendum 5).

    1. Bounds pass: per-group non-null count n and NaN-free min/max (one
       codegen aggregation; ``grouped_stats`` fuses its base stats into this
       same scan).
    2. Refinement levels (usually one): bucket each group's candidate
       bracket into ``_HIST_BUCKETS`` equal-width cells and count per cell —
       a codegen groupBy on (group, int cell) with map-side combine, tiny
       shuffle. A window cum-sum over the per-group cell counts (a few
       thousand tiny rows per group) locates the cell(s) holding the middle
       rank(s), yielding an EXACT count of rows below the new bracket and a
       ~B-fold narrower bracket. Levels repeat while any group's bracket
       holds more than ``_SELECT_MAX_ROWS`` rows, to ``_MAX_HIST_LEVELS``;
       the per-level driver action is a ONE-row convergence aggregate (no
       per-group collect, no driver ceiling — VERDICT r4 missing #4 stays
       closed).
    3. Selection pass: rows passing every level's cell predicate (a handful
       per group by construction) compress to DISTINCT (group, value)
       counts — codegen, tie-proof: a value duplicated a billion times is
       ONE row here, closing the GK variant's documented tie-inflation
       hazard — and a window cum-sum over that tiny frame reads off the
       middle-rank value(s). No ``collect_list``, no object state anywhere.

    Cell membership is decided by one shared expression (``_hist_bucket``)
    in the counting pass, the refinement filters, and the selection filter,
    so float rounding at cell edges can never desynchronize the below-count
    bookkeeping from the final filter — consistency, not boundary
    exactness, is what the rank arithmetic needs. Values are compared as
    doubles (as in every prior round); NaN sorts above +inf, matching Spark.

    Degenerate distributions cost extra selection size, never correctness:
    a bracket that stops shrinking (all-tie groups exit immediately via
    zero width; adversarial near-tie packings exhaust ``_MAX_HIST_LEVELS``)
    still gets an exact, value-compressed selection. NULL group keys are
    not supported (bracket join drops them); filter upstream if present.
    ``accuracy`` is retained for API compatibility and ignored — the
    bracket is now exact-count-driven rather than GK-error-driven.
    Returns (group_col, median_val).
    """
    del accuracy
    vals = df.filter(F.col(value_col).isNotNull()).select(
        group_col, F.col(value_col).cast("double").alias("__v")
    )
    # No small-input F.median shortcut: at sf0.1 lineitem it cost 3.08 vs
    # 1.36 CPU-s per fresh call, slower on every one of 20 pairs.
    tag = f"median:{group_col}:{value_col}"
    if _usable_bounds(value_bounds):
        return _exact_median_from_bounds(
            vals,
            group_col,
            _global_hist_bounds(vals, group_col, *value_bounds),
            tag=tag,
            levels_done=1,
            depth=_depth_for(total_rows),
            input_rows=total_rows,
        )
    vd = F.col("__v")
    pre = vals.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("__nn"),
        F.min(F.when(~F.isnan(vd), vd)).alias("__mn"),
        F.max(F.when(~F.isnan(vd), vd)).alias("__mx"),
    )
    bounds = _median_bounds(pre, group_col)
    return _exact_median_from_bounds(vals, group_col, bounds, tag=tag)


def _usable_bounds(value_bounds) -> bool:
    """Engine-stats value bounds are usable as a histogram bootstrap when
    they give a finite positive cell width. Bounds QUALITY is a pure
    progress concern (too-narrow bounds clamp outliers into the edge
    cells); membership and rank bookkeeping stay exact regardless — see
    ``_hist_bucket``."""
    if value_bounds is None:
        return False
    lo, hi = value_bounds
    w = (float(hi) - float(lo)) / _HIST_BUCKETS
    return w > 0 and math.isfinite(w)


def _depth_for(total_rows: int | None) -> int | None:
    """Remaining refinement levels after the stats bootstrap, sized from the
    table's total row count (an upper bound on any group's count): each
    level shrinks a bracket ~B-fold, so ceil(log_B(N / select_max)) levels
    reach selection size; the bootstrap already spent one. None (unknown N)
    defers to the one-row convergence collect in
    ``_exact_median_from_bounds``. Tie-packed distributions can under-shrink
    a static depth — the value-compressed selection stays exact either way.
    """
    if not total_rows:
        return None
    if total_rows <= _SELECT_MAX_ROWS:
        return 0
    need = math.ceil(
        math.log(total_rows / _SELECT_MAX_ROWS) / math.log(_HIST_BUCKETS)
    )
    return max(0, need - 1)


def _global_hist_bounds(
    vals: DataFrame, group_col: str, lo: float, hi: float
) -> DataFrame:
    """Bootstrap bounds frame whose first refinement level uses GLOBAL
    value bounds (engine scan statistics — parquet footer min/max, a
    catalog hint) embedded as literals: the histogram pass is join-free
    whole-stage codegen, and its per-group cell totals double as the
    non-null counts the middle ranks derive from — no separate counting
    pass, no driver collect. Callers validate with ``_usable_bounds``."""
    B = _HIST_BUCKETS
    lo = float(lo)
    w = (float(hi) - lo) / B
    v = F.col("__v")
    hist = vals.groupBy(
        group_col, _hist_bucket(v, F.lit(lo), F.lit(w)).alias("__b")
    ).agg(F.count(F.lit(1)).alias("__c"))
    wnd = (
        Window.partitionBy(group_col)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    histw = hist.withColumn("__cum", F.sum("__c").over(wnd)).withColumn(
        "__nn", F.sum("__c").over(Window.partitionBy(group_col))
    )
    cum = F.col("__cum")
    k1 = F.expr("(__nn + 1) div 2")
    k2 = F.expr("__nn div 2 + 1")
    agg = histw.groupBy(group_col).agg(
        F.max("__nn").alias("__nn"),
        F.min(F.when(cum >= k1, F.col("__b"))).alias("__nblo"),
        F.min(F.when(cum >= k2, F.col("__b"))).alias("__nbhi"),
        F.min(F.when(cum >= k1, cum - F.col("__c"))).alias("__badd"),
        F.min(F.when(cum >= k2, cum)).alias("__cumhi"),
    )
    inb = F.col("__cumhi") - F.col("__badd")
    new_w = (F.col("__nbhi") - F.col("__nblo") + 1) * F.lit(w) / B
    return agg.select(
        group_col,
        F.expr("(__nn + 1) div 2").alias("__k1"),
        F.expr("__nn div 2 + 1").alias("__k2"),
        F.array(F.lit(lo)).alias("__los"),
        F.array(F.lit(w)).alias("__ws"),
        F.array(F.col("__nblo")).alias("__blos"),
        F.array(F.col("__nbhi")).alias("__bhis"),
        (F.lit(lo) + F.col("__nblo") * F.lit(w)).alias("__lo"),
        new_w.alias("__w"),
        F.col("__badd").cast("long").alias("__below"),
        inb.alias("__inb"),
        ((inb <= _SELECT_MAX_ROWS) | ~(new_w > 0)).alias("__done"),
    )


def _hist_bucket(v, lo, w):
    """Cell index of double ``v`` among ``_HIST_BUCKETS`` equal-width cells
    starting at ``lo`` with width ``w``, clamped to [0, B-1] in DOUBLE space
    BEFORE any integral conversion — ANSI mode turns ``floor``/casts of
    NaN or overflowing doubles into runtime errors, while IEEE double
    division never throws. ``w = +inf`` is the documented pass-through (a
    converged group's padding entry): every finite offset divides to ±0.0,
    cell 0, always inside [0, B-1]. NaN values — and offsets that round to
    NaN, e.g. (inf - lo) / inf — map to the TOP cell, consistent with
    Spark's sort order where NaN ranks above +inf.

    Branch-free on purpose: ``least(greatest(off, 0), B-1)`` clamps in
    double space (Spark's least/greatest order NaN above +inf, so a NaN
    offset clamps to the TOP cell — the exact semantics of the previous
    when-chain, measured ~20% cheaper on the 10x histogram pass), and the
    int cast truncates toward zero ≡ floor for the non-negative clamped
    range."""
    off = (v - lo) / w
    return F.least(
        F.greatest(off, F.lit(0.0)), F.lit(float(_HIST_BUCKETS - 1))
    ).cast("int")


def _level_member(v, nlevels: int):
    """AND-chain of the completed refinement levels' cell predicates, read
    from the joined bounds columns (__los/__ws/__blos/__bhis arrays, one
    entry per level). The exact expression both passes share — see
    ``_hist_bucket`` on why consistency is the correctness requirement."""
    cond = F.lit(True)
    for i in range(1, nlevels + 1):
        b = _hist_bucket(v, F.element_at("__los", i), F.element_at("__ws", i))
        cond = cond & (b >= F.element_at("__blos", i)) & (
            b <= F.element_at("__bhis", i)
        )
    return cond


def _median_bounds(pre, group_col: str) -> DataFrame:
    """Level-0 bracket frame for ``_exact_median_from_bounds`` from a
    per-group aggregate ``pre`` carrying __nn (non-null count) and __mn/__mx
    (NaN-free double min/max): middle ranks k1/k2, full-range bracket, zero
    below-count, empty level arrays. Groups already at/below the selection
    threshold — or with a degenerate range (all values equal, or all NaN:
    min/max null) — start converged; the tie-compressed selection handles
    them exactly without any refinement."""
    B = _HIST_BUCKETS
    mn = F.coalesce(F.col("__mn"), F.lit(0.0))
    w = (F.coalesce(F.col("__mx"), F.lit(0.0)) - mn) / B
    return pre.filter(F.col("__nn") > 0).select(
        group_col,
        F.expr("(__nn + 1) div 2").alias("__k1"),
        F.expr("__nn div 2 + 1").alias("__k2"),
        F.expr("cast(array() as array<double>)").alias("__los"),
        F.expr("cast(array() as array<double>)").alias("__ws"),
        F.expr("cast(array() as array<int>)").alias("__blos"),
        F.expr("cast(array() as array<int>)").alias("__bhis"),
        mn.alias("__lo"),
        F.when(w > 0, w).otherwise(F.lit(float("inf"))).alias("__w"),
        F.lit(0).cast("long").alias("__below"),
        F.col("__nn").alias("__inb"),
        ((F.col("__nn") <= _SELECT_MAX_ROWS) | ~(w > 0)).alias("__done"),
    )


def _refine_level(
    vals: DataFrame, group_col: str, bounds: DataFrame, nlevels: int
) -> DataFrame:
    """One engine-side refinement level (no action): histogram the
    unconverged groups' current bracket into ``_HIST_BUCKETS`` cells,
    window-cumsum the tiny per-group cell counts to locate the cells
    holding the middle ranks, narrow the bracket, and append this level's
    membership entry to the level arrays — converged (or defensively
    hist-less) groups get a tautological pad (w = +inf: every value maps
    to cell 0 — see ``_hist_bucket``) so all groups' arrays stay aligned
    with the Python-side level count."""
    B = _HIST_BUCKETS
    v = F.col("__v")
    live = (
        vals.join(F.broadcast(bounds), group_col)
        .filter(~F.col("__done"))
        .filter(_level_member(v, nlevels))
    )
    hist = live.groupBy(
        group_col, _hist_bucket(v, F.col("__lo"), F.col("__w")).alias("__b")
    ).agg(F.count(F.lit(1)).alias("__c"))
    wnd = (
        Window.partitionBy(group_col)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    histw = hist.join(
        F.broadcast(bounds.select(group_col, "__k1", "__k2", "__below")),
        group_col,
    ).withColumn("__cum", F.sum("__c").over(wnd))
    k1r = F.col("__k1") - F.col("__below")
    k2r = F.col("__k2") - F.col("__below")
    cum = F.col("__cum")
    newb = histw.groupBy(group_col).agg(
        F.min(F.when(cum >= k1r, F.col("__b"))).alias("__nblo"),
        F.min(F.when(cum >= k2r, F.col("__b"))).alias("__nbhi"),
        F.min(F.when(cum >= k1r, cum - F.col("__c"))).alias("__badd"),
        F.min(F.when(cum >= k2r, cum)).alias("__cumhi"),
    )
    keep = F.col("__done") | F.col("__nblo").isNull()
    new_inb = F.col("__cumhi") - F.col("__badd")
    new_w = (F.col("__nbhi") - F.col("__nblo") + 1) * F.col("__w") / B
    return bounds.join(newb, group_col, "left").select(
        group_col,
        "__k1",
        "__k2",
        F.concat(
            "__los", F.array(F.when(keep, F.lit(0.0)).otherwise(F.col("__lo")))
        ).alias("__los"),
        F.concat(
            "__ws",
            F.array(F.when(keep, F.lit(float("inf"))).otherwise(F.col("__w"))),
        ).alias("__ws"),
        F.concat(
            "__blos", F.array(F.when(keep, F.lit(0)).otherwise(F.col("__nblo")))
        ).alias("__blos"),
        F.concat(
            "__bhis",
            F.array(F.when(keep, F.lit(B - 1)).otherwise(F.col("__nbhi"))),
        ).alias("__bhis"),
        F.when(keep, F.col("__lo"))
        .otherwise(F.col("__lo") + F.col("__nblo") * F.col("__w"))
        .alias("__lo"),
        F.when(keep, F.col("__w")).otherwise(new_w).alias("__w"),
        F.when(keep, F.col("__below"))
        .otherwise(F.col("__below") + F.col("__badd"))
        .alias("__below"),
        F.when(keep, F.col("__inb")).otherwise(new_inb).alias("__inb"),
        (keep | (new_inb <= _SELECT_MAX_ROWS) | ~(new_w > 0)).alias("__done"),
    )


def _exact_median_from_bounds(
    vals: DataFrame,
    group_col: str,
    bounds: DataFrame,
    tag: str,
    levels_done: int = 0,
    depth: int | None = None,
    input_rows: int | None = None,
    co_materialize: DataFrame | None = None,
) -> DataFrame:
    """Refinement levels + tie-compressed selection of the histogram-
    bracketed exact median (see ``grouped_exact_median``). ``vals`` is
    (group_col, __v double) with NULL values pre-filtered; ``bounds`` is a
    ``_median_bounds`` / ``_global_hist_bounds`` frame with ``levels_done``
    membership entries already in its arrays. ``depth`` = how many MORE
    levels to run; None pays one ONE-row convergence aggregate (max
    unconverged bracket size → levels at ~B-fold shrink per level) — the
    only driver action in the whole operator, and none at all when the
    caller sized depth from engine stats. Returns (group_col, median_val).

    Every per-level frame is #groups rows, broadcast-joined and pinned via
    ``rotate_persist``; eviction by later calls only ever costs a
    deterministic recompute — nothing here samples."""
    v = F.col("__v")
    nlevels = levels_done
    bounds = rotate_persist(f"{tag}:l{nlevels}", bounds, materialize=False)
    if depth is None:
        from airflow_etl_elt_spark.operators._cache import no_aqe_first

        # non-adaptive driver probe (OPTIMIZATION r13): AQE splits this
        # fixed one-row convergence aggregate into one job per internal
        # stage — see _cache.no_aqe_count
        worst = no_aqe_first(bounds.filter(~F.col("__done")).agg(F.max("__inb")))[0]
        depth = (
            0
            if worst is None or worst <= _SELECT_MAX_ROWS
            else math.ceil(
                math.log(worst / _SELECT_MAX_ROWS) / math.log(_HIST_BUCKETS)
            )
        )
    for _ in range(max(0, min(depth, _MAX_HIST_LEVELS - nlevels))):
        bounds = _refine_level(vals, group_col, bounds, nlevels)
        nlevels += 1
        bounds = rotate_persist(f"{tag}:l{nlevels}", bounds, materialize=False)
    # Literal bounding-box pre-filter for the selection scan (r8; measured
    # at the 100x replica: the full-input BroadcastHashJoin + element_at
    # bucket chain ran ~90 ns/row over 60M rows = 5.6 s of the key's 7.9 s,
    # vs ~22 ns/row for a bare codegen scan). The union of the last level's
    # per-group brackets, widened by ONE FULL CELL per side (>> any FP
    # boundary rounding), is a VALUE-LITERAL range — two double compares in
    # the scan stage, no join — and a strict superset of every group's
    # members, so the exact per-group `_level_member` check after the join
    # only ever sees bracket-sized input. Sides where any group's bracket
    # touches a clamp cell (0 or B-1: unbounded tails, NaN at the top) or
    # has a non-finite cell width (a converged group's +inf padding) are
    # left unbounded. Cost: one driver .first() over the persisted
    # #groups-row bounds frame — the same bounded-action precedent as the
    # depth=None convergence collect, and it materializes a frame the
    # selection's broadcast needs anyway.
    #
    # SIZE-GATED (r8, measured at the 10x replica): the extra driver job
    # costs one scheduling floor AND serializes the bounds scan ahead of
    # stages that previously ran concurrently under the single final
    # action — a net LOSS below ~4M input rows (grouped_stats at 6M rows:
    # 2.6 -> 3.7 s ungated on a drifting box) and a 2x win at 60M. Callers
    # that know the input cardinality (engine footer stats) pass it;
    # unknown-N callers keep the join-only plan. `co_materialize` lets the
    # caller hitch an independent same-input frame (grouped_stats' base
    # aggregate) onto the pre-filter job, so the job's floor buys that
    # stage's materialization too instead of pushing it behind the bounds.
    sel_input = vals
    if nlevels >= 1 and input_rows and input_rows >= _BOX_PREFILTER_MIN_ROWS:
        _B = float(_HIST_BUCKETS)
        _w = F.element_at("__ws", nlevels)
        _lo = F.element_at("__los", nlevels)
        _blo = F.element_at("__blos", nlevels)
        _bhi = F.element_at("__bhis", nlevels)
        _finite = ~F.isnan(_w) & (_w > 0) & (_w < float("inf"))
        box = bounds.agg(
            F.max(
                F.when(_finite & (_blo > 0), F.lit(0)).otherwise(F.lit(1))
            ).alias("lo_open"),
            F.min(F.when(_finite & (_blo > 0), _lo + (_blo - 1) * _w)).alias(
                "glo"
            ),
            F.max(
                F.when(_finite & (_bhi < _B - 1), F.lit(0)).otherwise(F.lit(1))
            ).alias("hi_open"),
            F.max(
                F.when(_finite & (_bhi < _B - 1), _lo + (_bhi + 2) * _w)
            ).alias("ghi"),
        )
        if co_materialize is not None:
            box = box.crossJoin(
                co_materialize.agg(F.count(F.lit(1)).alias("__com_n"))
            )
        from airflow_etl_elt_spark.operators._cache import no_aqe_first

        # non-adaptive (OPTIMIZATION r13): this fixed bookkeeping action
        # ran as FOUR AQE stage-jobs at the 100x replica; one suffices
        box = no_aqe_first(box)
        pre = None
        if box["lo_open"] == 0 and box["glo"] is not None:
            pre = v >= float(box["glo"])
        if box["hi_open"] == 0 and box["ghi"] is not None:
            hi_pred = v <= float(box["ghi"])
            pre = hi_pred if pre is None else (pre & hi_pred)
        if pre is not None:
            sel_input = vals.filter(pre)
    sel = (
        sel_input.join(F.broadcast(bounds), group_col)
        .filter(_level_member(v, nlevels))
        .groupBy(group_col, "__v")
        .agg(
            F.count(F.lit(1)).alias("__c"),
            F.first("__k1").alias("__k1"),
            F.first("__k2").alias("__k2"),
            F.first("__below").alias("__below"),
        )
    )
    wnd = (
        Window.partitionBy(group_col)
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    selw = sel.withColumn("__cum", F.sum("__c").over(wnd) + F.col("__below"))
    cum = F.col("__cum")
    return selw.groupBy(group_col).agg(
        (
            (
                F.min(F.when(cum >= F.col("__k1"), v))
                + F.min(F.when(cum >= F.col("__k2"), v))
            )
            / 2.0
        ).alias("median_val")
    )


def grouped_stats(
    df: DataFrame,
    group_col: str,
    value_col: str,
    value_bounds: tuple[float, float] | None = None,
    total_rows: int | None = None,
) -> DataFrame:
    """mean/median/std/min/max/count of ``value_col`` per ``group_col``,
    ordered by group desc (etl_elt_wine.py:426-428 restated).

    Cost-based, two regimes on the Catalyst size estimate:

    - **Tiny inputs** (≲200k rows) — ONE single-task Arrow pass: project
      the two columns, ``coalesce(1)``, ``mapInArrow`` computing every
      group's six stats in one numpy pass (pandas groupby + quickselect
      median). Best one-shot latency for interactive-scale data.
    - **Everything else** — stay fully JVM and state-bounded: the streaming
      stats partial-aggregate map-side, FUSED into the same scan as the
      median's bounds pass (all mergeable codegen aggregation states);
      only the histogram refinement level(s) and the tie-compressed
      selection (see ``grouped_exact_median``) touch the data again.
      Typically 3 scans end-to-end, no full-data shuffle, every pass
      whole-stage codegen — the 100 TB path (``F.median`` buffers one task
      per group: measured 22 s at 6M rows; the r5 GK-sketch variant spent
      4.1 s of its 4.9 s in ObjectHashAggregate — SCALING.md r6 addendum
      5). Under the catalog plan cache the bounds/bracket frames persist at
      first execution, so steady-state re-execution is a single selection
      scan (measured 0.028 s prepared at 6M rows).
    """
    import pandas as pd

    # One-task numpy regime for FRESH builds below ~1-2M numeric rows
    # (regime.SMALL_BYTES of plan-size estimate): the best one-shot latency.
    # In PREPARED mode the bracketed path below wins at every size: its
    # bounds agg is persisted at first execution, so steady-state
    # re-execution is a single selection scan (measured 0.057 s at 600k rows
    # vs 0.45 s here — the Arrow crossing re-pays every run). Re-won against
    # the simplest replacement, coalesce(1) + a JVM groupBy.agg(avg,
    # median, stddev_samp, min, max, count): local[4] on 4 vCPU, plan cache
    # off, 120k-row lineitem, 3 warm-ups + 20 timed calls, process-tree CPU:
    #   numpy     0.60-0.63 CPU-s/op   0.27-0.30 s wall/op
    #   F.median  0.92-0.95 CPU-s/op   0.51-0.53 s wall/op
    # Re-won against its own at-scale branch, fresh, perfbench scale 0.02,
    # 20 pairs: 0.35 vs 1.71 CPU-s and 0.21 vs 0.75 s wall (lower in 20).
    if regime.fresh() and (
        regime.plan_bytes(df.select(group_col, value_col)) < regime.SMALL_BYTES
    ):
        gtype = df.schema[group_col].dataType.simpleString()

        def _np_stats_all(batches):
            # Arrow-native (OPTIMIZATION r12): the pandas form of this pass
            # spent its time converting the 600k-row group STRING column to
            # pandas objects (measured 0.81 s for a count-only mapInPandas
            # crossing vs 0.50 s mapInArrow at sf0.1 — guide §4.2). Group
            # rows via dictionary codes + numpy masks; stats come off the
            # same float64 arrays as before (np mean/median/std(ddof=1) —
            # output proved byte-equal). Semantics preserved from the
            # pandas groupby(dropna=False): null keys kept (as None), NaN
            # keys collapse to ONE None-key group, count(*) includes null
            # values, stats exclude null/NaN values.
            import numpy as np
            import pyarrow as pa
            import pyarrow.compute as pc

            batches = list(batches)
            if not batches or sum(b.num_rows for b in batches) == 0:
                return
            tbl = pa.Table.from_batches(batches)
            gcol = tbl.column(0).combine_chunks()
            enc = pc.dictionary_encode(gcol)
            if isinstance(enc, pa.ChunkedArray):
                enc = enc.combine_chunks()
            codes = enc.indices.to_numpy(zero_copy_only=False)
            keys = enc.dictionary.to_pylist()
            codes = np.where(np.isnan(codes), -1.0, codes).astype(np.int64) if codes.dtype.kind == "f" else codes.astype(np.int64)
            # pandas groupby(dropna=False) folds null AND NaN keys into one
            # NA group (emitted as None); mirror that by remapping every
            # NaN dictionary entry onto the null code.
            nan_codes = {
                i for i, k in enumerate(keys)
                if isinstance(k, float) and np.isnan(k)
            }
            if nan_codes:
                codes = np.where(np.isin(codes, list(nan_codes)), -1, codes)
            vcol = tbl.column(1)
            vvalid = pc.is_valid(vcol).to_numpy(zero_copy_only=False)
            vals = vcol.to_numpy(zero_copy_only=False).astype(float, copy=False)
            out = []
            out_keys = []
            # Group-slicing strategy (ADVICE r12): the old boolean mask per
            # dictionary code was O(groups x rows) — pathological for
            # high-cardinality keys inside the size gate (200k keys -> 4e10
            # compares). Above a small key count, ONE stable argsort +
            # segment slicing keeps the pass O(rows log rows); at the
            # bench's 3-6 keys the mask loop's few linear passes stay
            # cheaper than a full sort, so it is kept below the threshold.
            # Both forms yield ELEMENT-WISE identical per-group arrays
            # (stable sort preserves original row order within a segment,
            # exactly as the boolean mask did), so the float stats are
            # bit-equal either way — pinned by
            # test_grouped_stats_numpy_path_high_cardinality_and_null_keys.
            if len(keys) <= 32:
                segments = []
                for code in [-1] + list(range(len(keys))):
                    if code in nan_codes:
                        continue
                    idx = np.flatnonzero(codes == code)
                    if idx.size:
                        segments.append((code, idx))
            else:
                order = np.argsort(codes, kind="stable")
                sc = codes[order]
                starts = (
                    np.flatnonzero(np.r_[True, sc[1:] != sc[:-1]])
                    if sc.size
                    else np.array([], dtype=np.int64)
                )
                seg_bounds = list(starts) + [sc.size]
                segments = [
                    (int(sc[seg_bounds[si]]), order[seg_bounds[si]:seg_bounds[si + 1]])
                    for si in range(len(seg_bounds) - 1)
                ]
            for code, idx in segments:
                n_all = idx.size
                x = vals[idx][vvalid[idx]]
                x = x[~np.isnan(x)]
                n = x.size
                out_keys.append(None if code == -1 else keys[code])
                out.append(
                    (
                        float(x.mean()) if n else None,
                        float(np.median(x)) if n else None,
                        # ddof=1: pandas/reference sample std (SURVEY hazard 3)
                        float(x.std(ddof=1)) if n > 1 else None,
                        float(x.min()) if n else None,
                        float(x.max()) if n else None,
                        # count(*) semantics: every row, null values included
                        n_all,
                    )
                )
            cols = list(zip(*out)) if out else [[]] * 6
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_keys, type=gcol.type),
                    pa.array(cols[0], type=pa.float64()),
                    pa.array(cols[1], type=pa.float64()),
                    pa.array(cols[2], type=pa.float64()),
                    pa.array(cols[3], type=pa.float64()),
                    pa.array(cols[4], type=pa.float64()),
                    pa.array(cols[5], type=pa.int64()),
                ],
                names=[
                    group_col, "mean_val", "median_val", "std_val",
                    "min_val", "max_val", "cnt",
                ],
            )

        from airflow_etl_elt_spark.operators.relational import ordered_small

        # ONE task end-to-end: at small-regime sizes the groupBy hash
        # exchange costs more than the whole computation (measured 1.05 s
        # applyInPandas vs 0.49 s coalesce(1)+mapInPandas at 600k rows x 4
        # groups — the scan is a single parquet task either way, so
        # coalesce loses no parallelism; all groups' stats come out of one
        # numpy pass). Output is #groups rows → ordered_small.
        return ordered_small(
            df.select(group_col, value_col)
            .coalesce(1)
            .mapInArrow(
                _np_stats_all,
                f"{group_col} {gtype}, mean_val double, median_val double, "
                "std_val double, min_val double, max_val double, cnt long",
            ),
            group_col,
            desc=True,
        )

    # The streaming base stats FUSE into the same scan as the median's
    # bounds pass (all mergeable codegen aggregation states). The tiny
    # (#groups) result is persisted — NOT collected: the bracket used to
    # round-trip through the driver as literals, costing one extra job per
    # invocation and a one-row-per-group driver ceiling (VERDICT r4
    # next-step 3/missing #4). Persisting lets the base projection and the
    # median machinery share one computation of the agg. __mn/__mx are the
    # NaN-free bucketing bounds (F.min/F.max treat NaN as the largest
    # double, which would poison every cell width).
    vd = F.col(value_col).cast("double")
    vals = df.filter(F.col(value_col).isNotNull()).select(
        group_col, vd.alias("__v")
    )
    tag = f"grouped_stats_med:{group_col}:{value_col}"
    with_stats = _usable_bounds(value_bounds)
    base_aggs = [
        # double casts keep the two regimes' schemas IDENTICAL for any
        # numeric input incl. DECIMAL (r4 advisory d): the numpy regime is
        # double by construction
        F.avg(value_col).cast("double").alias("mean_val"),
        F.stddev_samp(value_col).cast("double").alias("std_val"),
        F.min(value_col).cast("double").alias("min_val"),
        F.max(value_col).cast("double").alias("max_val"),
        F.count(F.lit(1)).alias("cnt"),
    ]
    if not with_stats:
        base_aggs += [
            F.count(value_col).alias("__nn"),
            F.min(F.when(~F.isnan(vd), vd)).alias("__mn"),
            F.max(F.when(~F.isnan(vd), vd)).alias("__mx"),
        ]
    pre = df.groupBy(group_col).agg(*base_aggs)
    pre = rotate_persist(
        f"grouped_stats_pre:{group_col}:{value_col}", pre, materialize=False
    )
    base = pre.select(
        group_col, "mean_val", "std_val", "min_val", "max_val", "cnt"
    )
    if with_stats:
        # Engine-stats bootstrap: the median subtree shares NOTHING with the
        # base-stats aggregate, so its histogram stage and the pre stage are
        # independent children of the final join — Spark's scheduler runs
        # them concurrently inside the one action.
        med = _exact_median_from_bounds(
            vals,
            group_col,
            _global_hist_bounds(vals, group_col, *value_bounds),
            tag=tag,
            levels_done=1,
            depth=_depth_for(total_rows),
            input_rows=total_rows,
            co_materialize=pre,
        )
    else:
        med = _exact_median_from_bounds(
            vals, group_col, _median_bounds(pre, group_col), tag=tag
        )
    return (
        base.join(F.broadcast(med), group_col, "left")
        .select(
            group_col, "mean_val", "median_val", "std_val", "min_val", "max_val", "cnt"
        )
        .orderBy(F.col(group_col).desc())
    )


def modal_value(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Deterministic mode: the most frequent ``value_col`` per group, ties
    broken by the smallest value.

    Two cascaded hash aggregations — count per (group, value), then
    ``min_by`` over a (-count, value) sort key — both with map-side partial
    aggregation, no window. The window formulation (row_number over count
    DESC) sorts every group's candidate set; this one reduces it. ``min_by``
    on a struct gives max-count-then-min-value in one pass: struct ordering
    is field-by-field, and negating the count turns "max count" into "min
    -count". Output columns are exact (bigint/string), so the op is exactly
    oracle-checkable.
    """
    counts = df.groupBy(group_col, value_col).agg(F.count(F.lit(1)).alias("__cnt"))
    # NULLS LAST in the tie-break (the middle struct field): Spark's struct
    # ordering sorts NULL first, but the SQL-oracle formulation (ORDER BY
    # cnt DESC, value) puts NULL last — a NULL value tied at max count must
    # lose to any non-NULL value on both engines.
    return counts.groupBy(group_col).agg(
        F.min_by(
            value_col,
            F.struct(
                (-F.col("__cnt")).alias("nc"),
                F.col(value_col).isNull().cast("int").alias("null_last"),
                F.col(value_col).alias("v"),
            ),
        ).alias(f"modal_{value_col}"),
        F.max("__cnt").alias("cnt"),
    )


def histogram(df: DataFrame, col: str, lo: float, hi: float, nbuckets: int) -> DataFrame:
    """Fixed-width histogram via ``width_bucket`` — the data-profiling
    primitive. One codegen'd bucket expression + one tiny agg (≤ nbuckets+2
    groups, map-side combined): a full-column histogram at 100 TB costs one
    scan and shuffles only nbuckets rows per task."""
    return (
        df.groupBy(
            F.width_bucket(F.col(col), F.lit(lo), F.lit(hi), F.lit(nbuckets))
            .cast("bigint")
            .alias("bucket")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("bucket")
    )


def count_by_group(df: DataFrame, group_col: str) -> DataFrame:
    """``SELECT g, COUNT(*) GROUP BY g ORDER BY g`` (README.md:95-105)."""
    return df.groupBy(group_col).agg(F.count(F.lit(1)).alias("cnt")).orderBy(group_col)


def pricing_summary(lineitem: DataFrame, ship_cutoff: str = "1998-09-02") -> DataFrame:
    """TPC-H Q1-shaped pricing summary over lineitem (north-star §7 phase E).

    One scan, one shuffle on (returnflag, linestatus) — 6 groups max, so the
    map-side combine collapses virtually all volume before the exchange.
    The date filter is pushed to the parquet reader (min/max row-group stats);
    small inputs fuse to a single stage in fresh-build mode (the filter and
    column pruning sit BELOW the narrow coalesce, so pushdown is unaffected).
    """
    disc_price = "(l_extendedprice * (1 - l_discount))"
    cols = [
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax",
    ]
    # two_tier_dec_agg: order-independent float aggregation (bit-identical
    # to dec_sum/dec_avg — same exact grid sums) with the per-row work back
    # on primitive longs; the decimal adds the r9 grid paid per addend (~2×
    # on this 7-aggregate key) now run only on the ≤ groups × partitions
    # tier-1 states (VERDICT r9 next-step 1). Sums as SQL text hit the
    # string-composed fast build path (same trees, ~3x cheaper build).
    # The fuse re-won fresh at perfbench scale 0.02, 40 pairs: 0.224 vs
    # 0.277 s wall (lower in 39); it does not fire at sf0.1 (lineitem is
    # past SMALL_BYTES there).
    base = two_tier_dec_agg(
        regime.fuse(
            lineitem.filter(
                F.col("l_shipdate") <= F.lit(ship_cutoff).cast("timestamp")
            ).select(*cols)
        ),
        ["l_returnflag", "l_linestatus"],
        sums={
            "sum_qty": "l_quantity",
            "sum_base_price": "l_extendedprice",
            "sum_disc_price": disc_price,
            "sum_charge": f"({disc_price} * (1 + l_tax))",
            "__sum_disc": "l_discount",
        },
        counts={
            "__c_qty": "l_quantity",
            "__c_price": "l_extendedprice",
            "__c_disc": "l_discount",
        },
        count_star="count_order",
    )
    from airflow_etl_elt_spark.operators.relational import ordered_small

    # ordered_small, not orderBy (OPTIMIZATION r12): the output is bounded
    # by |returnflag| x |linestatus| at any SF, and the global sort's
    # Exchange(rangepartitioning) costs a sampling pass + an extra AQE
    # stage job to range-split ~6 rows.
    return ordered_small(
        base.selectExpr(
            "l_returnflag",
            "l_linestatus",
            "sum_qty",
            "sum_base_price",
            "sum_disc_price",
            "sum_charge",
            "(sum_qty / __c_qty) AS avg_qty",
            "(sum_base_price / __c_price) AS avg_price",
            "(__sum_disc / __c_disc) AS avg_disc",
            "count_order",
        ),
        "l_returnflag",
        "l_linestatus",
    )


def bucketed_histogram(df: DataFrame, col: str, edges: list[float]) -> DataFrame:
    """CASE-WHEN bucketing + count — the generalized quality-histogram shape.

    Buckets are labeled ``b00 [lo,hi)`` … with an overflow bucket; a single
    narrow-dependency projection followed by a tiny-group aggregation.
    """
    expr = F.when(F.col(col) < edges[0], F.lit("b00_underflow"))
    for i in range(len(edges) - 1):
        expr = expr.when(
            (F.col(col) >= edges[i]) & (F.col(col) < edges[i + 1]),
            F.lit(f"b{i + 1:02d}"),
        )
    expr = expr.otherwise(F.lit(f"b{len(edges):02d}_overflow"))
    return (
        df.withColumn("bucket", expr)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy("bucket")
    )


def distinct_users(events: DataFrame) -> DataFrame:
    """Exact + approximate distinct-count side by side.

    ``approx_count_distinct`` (HyperLogLog++) is the 100 TB path: fixed-size
    sketch per partition, mergeable, no shuffle of raw ids. The exact count is
    the correctness anchor at test scale.
    """
    return events.agg(
        F.countDistinct("user_id").alias("n_users_exact"),
        F.approx_count_distinct("user_id", 0.01).alias("n_users_approx"),
    )
