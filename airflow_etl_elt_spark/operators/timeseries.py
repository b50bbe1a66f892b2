"""Event-time operators: tumbling-window aggregation, sessionization, JSON props.

The reference's only streaming-shaped feature is dataset-triggering
(SURVEY.md §2.9); the events fixture (ts, user_id, event_type, value, props)
drives the real time-series surface. Functions here are batch-first but
written so the identical transformation runs under Structured Streaming
(see streaming/windowed.py, which reuses ``hourly_agg`` verbatim and adds a
watermark) — one definition, two execution modes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from airflow_etl_elt_spark.operators.aggregates import dec_sum


def sliding_hourly_agg(events: DataFrame, slide_minutes: int = 30) -> DataFrame:
    """SLIDING 1-hour window (slide < width ⇒ overlapping windows): count +
    sum(value) per window. Each event lands in width/slide windows —
    ``window(ts, '1 hour', '<slide> minutes')`` expands that membership
    JVM-side before the aggregation, so the shuffle carries one pre-expanded
    row per (event, window), partial-aggregated map-side like any groupBy.
    Same plan is legal under streaming with a watermark. Output keys on the
    window start as epoch seconds (engine-portable; the oracle's UNION-ALL of
    shifted tumbling bucketings computes the identical set), named
    ``bucket_epoch`` so the unique key sorts BEFORE the float aggregates in a
    name-ordered canonicalization — float near-ties must never decide row
    order in the driver's hash compare.
    """
    w = F.window("ts", "60 minutes", f"{slide_minutes} minutes")
    return (
        events.groupBy(w.alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), dec_sum("value").alias("total_value"))
        .select(
            F.unix_seconds(F.col("w.start")).alias("bucket_epoch"),
            "n_events",
            "total_value",
        )
    )


def hourly_agg(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour window × event_type: count + sum(value).

    Uses ``window(ts, '1 hour')`` (not date_trunc) so the same plan is legal
    under streaming with a watermark. Output exposes window.start as
    ``hour_start`` — equal to date_trunc('hour', ts) for tumbling windows,
    which is what the SQL oracle computes.
    Shuffle key is (window, event_type): high cardinality → well spread.
    Output cardinality is hours × event types (one year ≈ 9k rows per
    type), bounded by time span not data volume → ``ordered_small`` for
    the final order instead of a range exchange.
    """
    from airflow_etl_elt_spark.operators.relational import ordered_small

    from airflow_etl_elt_spark.operators.aggregates import guarded_long_sum_agg

    # order-independent exact grid sum on primitive longs (bit-identical to
    # dec_sum; overflow CHECKED per (hour, type) group — see
    # aggregates.guarded_long_sum_agg) — shared by the stream twin via this
    # impl: the guard and count ride the same watermarked aggregation state
    # (the projected window column carries the event-time watermark).
    return ordered_small(
        guarded_long_sum_agg(
            events.select(
                F.window("ts", "1 hour").alias("w"), "event_type", "value"
            ),
            ["w", "event_type"],
            {"sum_value": "value"},
            extras={"cnt": F.count(F.lit(1))},
        ).select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "cnt",
            "sum_value",
        ),
        "hour_start",
        "event_type",
    )


def daily_user_activity(events: DataFrame) -> DataFrame:
    """Per-user daily rollup — the partition-pruning-friendly shape: at rest,
    events should be written partitioned by event_date so date-ranged reads
    scan only matching directories (sinks.write_partitioned)."""
    return (
        events.withColumn("event_date", F.to_date("ts"))
        .groupBy("event_date", "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value").alias("total_value"),
        )
    )


def extract_props_key(events: DataFrame, key: str = "k") -> DataFrame:
    """JSON field extraction from the string ``props`` column.

    ``get_json_object`` is JVM-side (Jackson), no Python involved. For hot
    paths over many keys, prefer ``from_json`` with an explicit schema once,
    then struct field access — parses each row a single time.
    """
    return events.select(
        "event_id",
        # try_cast: a JSON value that is not a scalar int (arrays,
        # strings) must yield NULL, not an ANSI cast error
        F.get_json_object("props", f"$.{key}").try_cast("int").alias("props_k"),
    )


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gaps-and-islands sessionization: a new session starts when the gap to
    the previous event of the same user exceeds ``gap_minutes``.

    Classic two-window composition (lag → boundary flag → running sum) —
    entirely JVM-side, one shuffle on user_id reused by both windows (same
    partitioning, Catalyst plans a single exchange). Deliberately NOT
    fused via ``regime.fuse``: the output is data-sized (~1 session
    per 10 events) and an interleaved A/B at sf0.1 showed the distributed
    plan faster fresh as well (0.33 s vs 0.37 s — the 95k-row result's
    decode+fetch dominates, which fusing cannot help). The streaming twin
    is ``session_window`` (streaming/windowed.py).
    Returns one row per session: user_id, session_id (1-based per user),
    session_start, session_end, n_events.
    """
    events = events.select("user_id", "event_id", "ts")
    # microsecond-exact gap (SURVEY.md §7 hazard family: second-truncated
    # casts diverge from the oracle on fractional-second boundaries).
    # SQL-text build path (OPTIMIZATION r13): the two window projections
    # and the session agg parse as strings instead of ~190 nested py4j
    # Column calls — identical Catalyst trees (the optimizer collapsed the
    # old two withColumn("new_session", ...) steps into this one CASE-free
    # coalesce projection anyway — physical plan identical,
    # plans/r13 before/after dumps; results re-proved on the oracle).
    gap_us = int(gap_minutes) * 60 * 1_000_000
    w_order = "PARTITION BY user_id ORDER BY ts, event_id"
    with_flag = events.selectExpr(
        "*",
        "coalesce(CAST((unix_micros(ts) - lag(unix_micros(ts)) OVER "
        f"({w_order})) > {gap_us} AS INT), 1) AS new_session",
    )
    with_id = with_flag.selectExpr(
        "*",
        f"CAST(sum(new_session) OVER ({w_order} ROWS BETWEEN UNBOUNDED "
        "PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id",
    )
    return with_id.groupBy("user_id", "session_id").agg(
        F.expr("min(ts) AS session_start"),
        F.expr("max(ts) AS session_end"),
        F.expr("count(1) AS n_events"),
    )


def ewma(
    events: DataFrame,
    partition_col: str = "user_id",
    order_cols: "list[str] | None" = None,
    value_col: str = "value",
    alpha: float = 0.3,
    window: int = 50,
    out_col: str = "ewma",
) -> DataFrame:
    """Exponentially weighted moving average per key, ``window``-step
    truncated: y_t = Σ_{j=0..w-1} (1-α)^j·x_{t-j} / Σ (1-α)^j over the rows
    present in the frame.

    Truncation is what makes this EXACT and engine-portable: the infinite
    recursion y_t = α·x_t + (1-α)·y_{t-1} has no SQL twin and its closed
    form overflows for long series, but the truncated form differs from it
    by at most (1-α)^window · range — 2e-8 of range at the defaults — while
    every term is a bounded power both engines compute identically. (The
    same trade pandas makes available as ``ewm(...).mean()`` with a span
    cutoff.)

    Plan shape: one hash exchange on ``partition_col`` (shared with any
    other window over the same key), a ``rowsBetween(-(w-1), 0)``
    collect_list frame, and ONE JVM ``aggregate`` fold over the reversed
    frame that carries the running weight in its accumulator (multiply by
    (1-α) per step — no pow per element, no per-step struct of powers); the
    denominator is the geometric-series closed form of the frame length.
    Measured at 1M rows × 5k keys: 1.27 s vs 3.28 s for the naive
    per-element pow fold and 2.21 s for a 50-term lag chain. No Python,
    state bounded by ``window`` not series length.
    Precondition: ``value_col`` must be non-null (collect_list drops nulls,
    which would shift frame ages AND break the closed-form denominator) —
    filter or impute first.
    """
    from pyspark.sql import Window

    order_cols = order_cols or ["ts", "event_id"]
    w = (
        Window.partitionBy(partition_col)
        .orderBy(*order_cols)
        .rowsBetween(-(window - 1), 0)
    )
    decay = 1.0 - alpha
    frame = F.collect_list(F.col(value_col).cast("double")).over(w)
    n = F.size(frame)
    rev = F.reverse(frame)  # newest-first: element i weighs decay^i
    num = F.aggregate(
        rev,
        F.struct(F.lit(0.0).alias("s"), F.lit(1.0).alias("w")),
        lambda acc, x: F.struct(
            (acc["s"] + x * acc["w"]).alias("s"),
            (acc["w"] * F.lit(decay)).alias("w"),
        ),
        lambda acc: acc["s"],
    )
    den = (F.lit(1.0) - F.pow(F.lit(decay), n.cast("double"))) / F.lit(1.0 - decay)
    return events.withColumn(
        out_col, F.when(n > 0, num / den).cast("double")
    )


def resample_ffill(
    events: DataFrame,
    partition_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    id_col: str = "event_id",
) -> DataFrame:
    """Hourly gap-filling resample with forward-fill: for every key, a
    CONTINUOUS hourly grid from its first to its last event, each bucket
    carrying the latest value at-or-before it — the canonical
    missing-bucket repair every downstream time-series model assumes has
    already happened.

    Plan shape: per-key bounds (one agg) → ``sequence()`` explode builds
    the grid JVM-side (bounded by time span × keys, not event volume) →
    per-(key, hour) last value via ``max_by`` over a (ts, id) struct
    (deterministic under duplicate timestamps) → one left join onto the
    grid → ``last(ignorenulls)`` window for the fill. Two shuffles total
    (the hourly agg and the grid join share the key); the fill window
    reuses the join's partitioning. Exactly SQL-expressible → exact
    oracle.
    """
    from pyspark.sql import Window

    hour = F.date_trunc("hour", F.col(ts_col))
    bounds = events.groupBy(partition_col).agg(
        F.date_trunc("hour", F.min(ts_col)).alias("__lo"),
        F.date_trunc("hour", F.max(ts_col)).alias("__hi"),
    )
    grid = bounds.select(
        partition_col,
        F.explode(
            F.sequence("__lo", "__hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("bucket"),
    )
    hourly = events.groupBy(
        partition_col, hour.alias("bucket")
    ).agg(
        F.max_by(
            value_col, F.struct(F.col(ts_col), F.col(id_col))
        ).alias("__v")
    )
    w = (
        Window.partitionBy(partition_col)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(hourly, [partition_col, "bucket"], "left")
        .withColumn("value_ffill", F.last("__v", ignorenulls=True).over(w))
        .select(partition_col, "bucket", "value_ffill")
    )
