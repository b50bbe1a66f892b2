"""Projections, filters, derived columns, keys, sampling, distinct.

Reference parity (SURVEY.md §2.2-2.3, 2.5):
- narrow projection                  — etl_elt_wine.py:270 (`SELECT quality, alcohol`)
- wide feature projection            — utils.py:52-67
- derived boolean column             — etl_elt_wine.py:185-188
- parameterized comparison filter    — etl_elt_wine.py:189
- literal pushdown filter (ELT)      — etl_elt_wine.py:270
- surrogate key (1-based, ordered)   — utils.py:33
- seeded Bernoulli sample            — utils.py:34
- ordered distinct                   — utils.py:263

All pure built-in expressions: Catalyst pushes the filters and prunes the
columns into the parquet scan, and everything below runs inside whole-stage
codegen — no Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from airflow_etl_elt_spark.operators._cache import rotate_persist


def quote_ident(name: str) -> str:
    """``name`` as a backtick-quoted Spark SQL identifier, embedded backticks
    doubled — the one way caller column names enter SQL text and the
    DataFrame API's string column references (``selectExpr``, ``orderBy``,
    ``groupBy``, ``F.col``). Join ``on=`` lists take raw names."""
    return "`" + name.replace("`", "``") + "`"


def project(df: DataFrame, *cols: str) -> DataFrame:
    """Narrow projection (etl_elt_wine.py:270). Column pruning reaches the scan."""
    return df.select(*cols)


def ordered_small(df: DataFrame, *cols, desc: bool = False) -> DataFrame:
    """Total order for a BOUNDED-cardinality result (an aggregate output
    whose row count is capped by group cardinality, not data volume) —
    ``coalesce(1)`` + ``sortWithinPartitions`` instead of ``orderBy``.

    A global ``orderBy`` plans Exchange(rangepartitioning), which costs a
    separate sampling pass plus an extra AQE query stage — one whole job —
    to range-split what is often a 5-row aggregate. Coalescing to one
    partition is a NARROW dependency (no exchange, no sampling) and a
    single-partition sort of a few thousand rows is microseconds; measured
    0.40 s → 0.28 s on revenue_by_segment and 0.34 s → 0.21 s on
    events_hourly at sf0.1. The ordering contract is identical.

    Use ONLY where the input cardinality is bounded by construction (hours ×
    types, #segments, #groups …) — callers document the bound. For
    data-volume-sized results keep ``orderBy``: there the range exchange is
    exactly what makes the sort scale out.
    """
    keys = [F.col(c).desc() if desc else F.col(c) for c in cols]
    return df.coalesce(1).sortWithinPartitions(*keys)


def derive_flag(df: DataFrame, out_col: str, src_col: str, threshold) -> DataFrame:
    """``out = src >= threshold`` derived boolean (etl_elt_wine.py:188)."""
    return df.withColumn(out_col, F.col(src_col) >= F.lit(threshold))


def filter_ge(df: DataFrame, col: str, threshold) -> DataFrame:
    """Parameterized ``col >= t`` filter (etl_elt_wine.py:189)."""
    return df.filter(F.col(col) >= F.lit(threshold))


def filter_lt(df: DataFrame, col: str, threshold) -> DataFrame:
    """Literal ``col < t`` filter — the 'T' of ELT, pushed into the scan
    exactly like the reference pushes it into Postgres (etl_elt_wine.py:270)."""
    return df.filter(F.col(col) < F.lit(threshold))


def surrogate_key(
    df: DataFrame, order_by: list[str], out_col: str = "id", num_partitions: int | None = None
) -> DataFrame:
    """Deterministic 1-based surrogate key in a STABLE explicit order,
    equal to ``row_number() OVER (ORDER BY order_by)`` — without the global
    single-task window.

    The reference uses the pandas positional index (+1) which silently depends
    on CSV file order (utils.py:33; SURVEY.md §7 hazard 1). Spark requires the
    ordering to be explicit; ``monotonically_increasing_id`` is rejected
    because it is partition-dependent and non-contiguous; a bare
    ``Window.orderBy`` is rejected because it funnels every row through ONE
    task — the classic 100 TB deadend.

    Two-phase plan instead: (1) range-repartition on the key (ordered,
    disjoint ranges), persist, count rows per partition (tiny driver-side
    list); (2) ``row_number`` windowed WITHIN each partition + the partition's
    cumulative offset. Every stage is N-way parallel; the only driver data is
    one long per partition. Ids are exact global ranks (ties within equal keys
    ordered arbitrarily, same as SQL row_number).
    """
    cols = [F.col(c) for c in order_by]
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    # rotate_persist: the cache pins one InMemoryRelation whose RDD lineage
    # is fixed, so offsets computed below stay valid even under eviction
    # (recompute re-runs the SAME seeded range sampling); rotation bounds the
    # live cache to one frame across repeated calls (ADVICE r1).
    # keep=2: the returned frame still reads this pinned cache (the offsets
    # below were computed from it), so a second surrogate_key call must not
    # evict it before the first result is consumed (ADVICE r5). At most two
    # unconsumed surrogate_key results may be live at once.
    ranged = rotate_persist(
        "surrogate_key_ranged",
        df.repartitionByRange(n, *cols),
        materialize=False,
        keep=2,
    )
    part_counts = (
        ranged.select(F.spark_partition_id().alias("__pid"))
        .groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .collect()
    )
    offsets: dict[int, int] = {}
    acc = 0
    for row in sorted(part_counts, key=lambda r: r["__pid"]):
        offsets[row["__pid"]] = acc
        acc += row["__cnt"]
    if not offsets:
        return df.withColumn(out_col, F.lit(None).cast("bigint"))
    offset_map = F.create_map(
        *[F.lit(x) for pid_off in offsets.items() for x in pid_off]
    )
    w = Window.partitionBy("__pid").orderBy(*cols)
    return (
        ranged.withColumn("__pid", F.spark_partition_id())
        .withColumn(
            out_col,
            (F.row_number().over(w) + F.coalesce(offset_map[F.col("__pid")], F.lit(0))).cast(
                "bigint"
            ),
        )
        .drop("__pid")
    )


def surrogate_key_distributed(df: DataFrame, out_col: str = "id") -> DataFrame:
    """Contiguous 1-based ids without a global sort: per-partition numbering
    plus partition offsets (the classic zipWithIndex composition, kept
    entirely JVM-side). Order is partition order — stable for a
    deterministic scan, not a total order. Use when key *contiguity*
    matters but a global ordering does not.

    Plan shape (VERDICT r4 next-step 6 — the former ``rdd.zipWithIndex``
    form round-tripped every row through a Python worker): tag rows with
    ``monotonically_increasing_id`` — which increments by exactly 1 within
    a partition (Spark API contract: partition id in the upper bits, a
    per-partition record counter in the lower 33) — plus
    ``spark_partition_id``; one tiny aggregate collects (count, min_mid)
    per partition — one row PER PARTITION, not per group or per record —
    and the id is then the pure codegen expression
    ``mid - min_mid[pid] + offset[pid] + 1``. No window, no data shuffle,
    no Python in the row path. The tagged frame is persisted so the offset
    job and the consumer see the SAME materialization (the sibling
    ``surrogate_key``'s lineage-pinning move)."""
    from airflow_etl_elt_spark.operators._cache import rotate_persist

    # keep=2: the returned frame reads this pinned cache (the per-partition
    # offsets were collected from it); a second call before the first result
    # is consumed must not evict it — eviction would recompute
    # monotonically_increasing_id under a possibly different scan/
    # partitioning and the collected offsets would renumber rows (the exact
    # lineage-pinning hazard _cache.py documents; ADVICE r5). At most two
    # unconsumed results may be live at once.
    base = rotate_persist(
        "surrogate_key_distributed",
        df.withColumn("__mid", F.monotonically_increasing_id()).withColumn(
            "__pid", F.spark_partition_id()
        ),
        materialize=False,
        keep=2,
    )
    stats = (
        base.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("__cnt"), F.min("__mid").alias("__min"))
        .collect()
    )
    if not stats:
        return df.withColumn(out_col, F.lit(None).cast("bigint"))
    shift: dict[int, int] = {}
    acc = 0
    for r in sorted(stats, key=lambda r: r["__pid"]):
        shift[r["__pid"]] = acc - r["__min"]
        acc += r["__cnt"]
    shift_map = F.create_map(*[F.lit(x) for kv in shift.items() for x in kv])
    return base.withColumn(
        out_col,
        (F.col("__mid") + shift_map[F.col("__pid")] + 1).cast("bigint"),
    ).drop("__mid", "__pid")


def sample_fraction(df: DataFrame, fraction: float, seed: int = 1) -> DataFrame:
    """Seeded Bernoulli sample without replacement (utils.py:34).

    Spark's sample is probabilistic per-row (scan-local, no shuffle) — the
    row *set* differs from pandas' at the same seed, so tests assert set-level
    properties (SURVEY.md §7 hazard 1). ``fraction >= 1`` short-circuits to
    the full frame, matching the reference default SAMPLES_FRAC=1.0.
    """
    if fraction >= 1.0:
        return df
    return df.sample(withReplacement=False, fraction=fraction, seed=seed)


def _md5_bucket(key_col: str, buckets: int):
    """Engine-portable pseudo-random bucket of a key: first 15 hex chars of
    md5 as a bigint, mod ``buckets``. The shared primitive behind
    deterministic/stratified sampling (the oracle twin is DuckDB's
    ``CAST(('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15)) AS BIGINT)``) —
    change the digest policy here and in those oracle strings together."""
    return (
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        % buckets
    )


def deterministic_sample(
    df: DataFrame, key_col: str, percent: int, buckets: int = 100
) -> DataFrame:
    """Content-hash sampling: keep rows whose md5(key) bucket < ``percent``.

    Unlike seeded Bernoulli (``sample_fraction``), the selected SET is a pure
    function of the data — stable across engines, re-runs, partitionings and
    cluster sizes, which is what reproducible pipeline experiments ("always
    the same 10% of users") actually need. The md5-first-15-hex-chars bucket
    is engine-portable, so this is oracle-checkable exactly. Cost: one
    codegen'd hash per row, no shuffle, filter runs at scan time.
    """
    return df.filter(_md5_bucket(key_col, buckets) < percent)


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    rates: "dict[str, int]",
    key_col: str,
    buckets: int = 100,
    default_percent: int = 100,
) -> DataFrame:
    """Per-stratum deterministic downsampling — the corpus-rebalancing op of
    an LLM data pipeline (downsample overrepresented languages/domains/
    sources to target percentages, reproducibly).

    Same content-hash mechanism as ``deterministic_sample`` (md5-bucket of
    the key), with a per-stratum threshold: rows in stratum s keep
    ``rates[s]`` percent; strata not listed keep ``default_percent``. The
    kept SET is a pure function of the data — stable across engines,
    re-runs, and partitionings — so rebalancing experiments are replayable
    and the op is exactly oracle-checkable. One codegen'd hash + CASE per
    row, no shuffle, evaluates at scan time.
    """
    bucket = _md5_bucket(key_col, buckets)
    thresh = F.lit(default_percent)
    for stratum, pct in sorted(rates.items()):
        thresh = F.when(F.col(stratum_col) == stratum, F.lit(pct)).otherwise(thresh)
    return df.filter(bucket < thresh)


def group_cap(
    df: DataFrame,
    group_col: str,
    key_col: str,
    cap: int,
) -> DataFrame:
    """Keep at most ``cap`` rows per group, chosen deterministically — the
    per-domain/per-source cap of a crawl-ingestion pipeline (no single
    domain may dominate the corpus).

    Selection ranks rows inside each group by ``md5(key)`` (then key as
    tie-break): a pure function of the data, so the kept set is stable
    across engines, re-runs, and partitionings, and is an UNBIASED pseudo-
    random cap rather than "whatever ``limit`` returns". One shuffle on the
    group column + a bounded window. Skew note: a mega-group (one domain =
    10% of the corpus) funnels through one task; at that scale pre-thin with
    ``stratified_sample`` on the skewed groups (cheap scan-side filter) so
    the window only ranks survivors.
    """
    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(key_col).cast("string")), key_col
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .drop("__rn")
    )


def distinct_sorted(df: DataFrame, col: str, ascending: bool = False) -> DataFrame:
    """Ordered distinct values (utils.py:263). Partial (map-side) distinct
    happens before the shuffle; the sort is on the already-tiny result."""
    out = df.select(col).distinct()
    return out.orderBy(F.col(col).asc() if ascending else F.col(col).desc())


def row_count(df: DataFrame) -> DataFrame:
    """Row count as a 1-row DataFrame (load metric, etl_elt_wine.py:220)."""
    return df.agg(F.count(F.lit(1)).alias("row_count"))


def mixture_sample(
    df: DataFrame,
    group_col: str,
    shares: "dict[str, int]",
    total_permyriad: int,
    key_col: str,
    buckets: int = 10000,
) -> DataFrame:
    """Compose a training mixture: draw a deterministic sample whose size is
    ``total_permyriad``/10000 of the input and whose composition targets
    ``shares[group]``/10000 of that budget per listed group (unlisted groups
    are excluded — the mixture is built FROM the named sources). When a
    group has too few rows for its target, it is kept whole (rate clamps at
    100%) — the mixture degrades gracefully rather than erroring, as
    under-represented languages/domains routinely do.

    Mechanism: per-group keep-rate in bucket units,
        rate_g = min(buckets, share_g * n_out // cnt_g),
        n_out = N * total_permyriad // 10000,
    then keep rows whose md5-bucket(key) < rate_g. Integer arithmetic end to
    end — no float rounding to drift across engines — and the kept set is a
    pure function of the data (same md5-bucket primitive as
    ``deterministic_sample``), so experiments replay exactly and the op is
    oracle-checkable.

    Scale shape: one small agg for per-group counts (group cardinality rows),
    broadcast back onto the scan along with the 1-row total; the filter then
    evaluates scan-side. No driver collect, no window, no data shuffle.
    """
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__cnt"))
    total = df.select(F.count(F.lit(1)).alias("__n"))
    share = F.lit(None).cast("bigint")
    for g, s in sorted(shares.items()):
        share = F.when(F.col(group_col) == g, F.lit(s)).otherwise(share)
    joined = (
        df.join(F.broadcast(counts), group_col)
        .crossJoin(F.broadcast(total))
        .withColumn("__share", share)
        .filter(F.col("__share").isNotNull())
        .withColumn("__nout", F.expr(f"__n * {int(total_permyriad)} div 10000"))
        .withColumn(
            "__rate",
            F.least(F.lit(buckets).cast("bigint"), F.expr("__share * __nout div __cnt")),
        )
    )
    return joined.filter(_md5_bucket(key_col, buckets) < F.col("__rate")).drop(
        "__cnt", "__n", "__share", "__nout", "__rate"
    )


def shuffle_shards(
    df: DataFrame,
    key_col: str,
    n_shards: int,
    salt: str = "",
) -> DataFrame:
    """Deterministic global shuffle + sharding — the last step of a training
    data pipeline: spread rows pseudo-randomly across ``n_shards`` output
    shards and fix a pseudo-random serving order inside each shard, so the
    training job reads shard files sequentially yet sees a well-mixed
    stream. ``salt`` reshuffles: epoch-N order = shuffle_shards(salt=str(N)).

    Everything is a pure function of (key, salt): re-runs, engines, and
    cluster sizes agree byte-for-byte — the reproducibility contract a
    training run needs to resume mid-epoch — and the op is exactly
    oracle-checkable. Shard = md5-bucket of the salted key; position =
    rank by (md5 hash, key) within the shard.

    Scale shape: one hash per row at scan time, one shuffle on shard id,
    one sort within each shard (Spark sorts spill gracefully; no global
    sort, no driver funnel). Shard skew is md5-uniform: ±O(sqrt(rows/shard)).
    Downstream, write with ``partitionBy(shard)`` so each shard lands as
    its own file set.

    Precondition: ``key_col`` must be UNIQUE per row. Two rows sharing a
    key value get the same hash AND the same tie-break key, so their
    relative ``pos`` would be engine/run-dependent — which breaks the
    byte-for-byte reproducibility contract above. Training pipelines have
    such a key (doc_id / sample_id); if yours doesn't, derive one first
    (e.g. ``surrogate_key``) rather than passing a non-unique column.
    """
    from pyspark.sql import Window

    salted = F.concat(F.col(key_col).cast("string"), F.lit(salt))
    hash15 = F.conv(F.substring(F.md5(salted), 1, 15), 16, 10).cast("bigint")
    with_shard = df.withColumn("shard", (hash15 % n_shards).cast("bigint")).withColumn(
        "__h", hash15
    )
    w = Window.partitionBy("shard").orderBy("__h", key_col)
    return (
        with_shard.withColumn("pos", F.row_number().over(w).cast("bigint"))
        .drop("__h")
    )


def scd2_history(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    attr_cols: "list[str]",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Build a Type-2 slowly-changing-dimension history from an event/
    snapshot stream: one row per (key, attribute-state run) with
    ``valid_from`` / ``valid_to`` / ``is_current`` — the standard warehouse
    dimension-versioning shape (Kimball SCD Type 2).

    Consecutive rows with unchanged attributes compress into one validity
    interval; ``valid_to`` is the next change's timestamp (open interval,
    NULL = current). Two window passes over ONE hash exchange on the key
    (lag to detect change, lead over the change rows to close intervals) —
    no self-join, no data-volume sort. Exactly SQL-expressible, so the
    catalog key is oracle-checked.
    """
    from pyspark.sql import Window

    order = [ts_col] + ([tiebreak_col] if tiebreak_col else [])
    w = Window.partitionBy(key_col).orderBy(*order)
    state = F.struct(*[F.col(c) for c in attr_cols])
    # null-safe change detector (IS DISTINCT FROM): first row of a key and
    # NULL-bearing attribute states both count as changes
    changed = df.withColumn(
        "__changed", ~F.lag(state).over(w).eqNullSafe(state)
    ).filter(F.col("__changed"))
    w2 = Window.partitionBy(key_col).orderBy(*order)
    return (
        changed.withColumn("valid_from", F.col(ts_col))
        .withColumn("valid_to", F.lead(ts_col).over(w2))
        .withColumn("is_current", F.col("valid_to").isNull())
        .select(key_col, *attr_cols, "valid_from", "valid_to", "is_current")
    )


def validate_expectations(
    df: DataFrame, rules: "list[tuple[str, object]]"
) -> DataFrame:
    """Data-quality gate: count violations of each named rule in ONE scan
    (conditional aggregation — no per-rule pass). ``rules`` is
    [(name, boolean Column that is True when the row PASSES)]. Returns one
    row per rule: (rule, n_rows, violations, pass) — the
    expectations-report shape dbt tests / Great Expectations emit, computed
    as a single fused aggregate. NULL predicate results count as
    violations (unknown is not a pass).
    """
    aggs = [F.count(F.lit(1)).alias("__n")]
    for name, cond in rules:
        aggs.append(
            F.sum(F.when(F.coalesce(cond, F.lit(False)), 0).otherwise(1)).alias(
                f"__v_{name}"
            )
        )
    row = df.agg(*aggs)
    parts = [
        row.select(
            F.lit(name).alias("rule"),
            F.col("__n").cast("bigint").alias("n_rows"),
            F.col(f"__v_{name}").cast("bigint").alias("violations"),
            (F.col(f"__v_{name}") == 0).alias("pass"),
        )
        for name, _ in rules
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
