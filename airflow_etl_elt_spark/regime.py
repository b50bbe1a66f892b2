"""One owner for every size-keyed plan decision: is this input small enough
to run as one task, to broadcast, or to buffer?

Every gate reads Catalyst's optimized-plan size estimate through
:func:`plan_bytes` and compares it with one of the thresholds below (or a
single-site constant kept beside its only caller). Call sites reach the
estimate as ``regime.plan_bytes(...)``, never through a ``from`` import, so
one ``monkeypatch.setattr(regime, "plan_bytes", ...)`` forces every gate
onto its at-scale branch at once (tests/test_oracle.py's ``at_scale``
cases).

The plan-cache mode (``SPARK_GRAFT_PLAN_CACHE``) is read here and only
here, per call, by :func:`fresh`.

NOTE the unit of every threshold: Catalyst's OPTIMIZED-PLAN estimate (file
bytes x column fraction), which for compressed numeric parquet
under-reports in-memory row size ~10x.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from airflow_etl_elt_spark import memo

#: Single-task bound: ``fuse``, ``fan_out``'s light-work gate, grouped_stats'
#: numpy regime, the MinHash broadcasts and cosine_topk's coalesce (~1-2M
#: numeric rows). fan_out's crossover, measured r13 at sf0.1 (isolated noop
#: A/B, 3 samples each): scan+fan_out 0.21 s; a TRIVIAL pandas_udf over the
#: fanned-out input 0.53-0.68 s vs the full lang_id WITHOUT fan_out
#: 0.28-0.41 s — the Arrow crossing costs ~10 ms x 32 tasks while the RE2
#: work is noise at this size. Single-threaded text work ~0.04 s/MB vs
#: ~0.3 s fixed fan-out overhead => ~8 MB of text ~ 4 MB compressed
#: estimate. Production inputs arrive far above it and never engage it.
SMALL_BYTES = 4 * 1024 * 1024

#: Broadcast bound: the session's ``autoBroadcastJoinThreshold``, the q5/q10
#: fact broadcasts (the measured q5 crossover — the estimate under-reports
#: hash-relation build cost ~3x in rows) and the at-rest layout's rewrite
#: floor (a table under it broadcasts into any join, so co-locating it buys
#: nothing).
BROADCAST_BYTES = 16 * 1024 * 1024

#: Buffer bound: below it one exact-median aggregation state (F.median)
#: holds a whole group, and a shuffle-hash build of the pruned orders side
#: fits a reducer — 256 MiB of scan is well under a reducer's working memory
#: even if one group holds every row.
BUFFER_BYTES = 256 * 1024 * 1024


def fresh() -> bool:
    """True in fresh-build mode (``SPARK_GRAFT_PLAN_CACHE=0``: one-shot
    scripts, the bench headline), False in prepared mode (the default:
    catalog plans are memoized and re-executed). Read per call."""
    return os.environ.get("SPARK_GRAFT_PLAN_CACHE", "1") == "0"


def plan_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for the optimized plan (bytes). This is the
    same statistic the optimizer itself uses to pick broadcast joins —
    file-size x column-fraction for parquet scans, so it is cheap (no job)
    and conservative. Returns a huge sentinel when unavailable so callers
    fall back to the scale-safe path.

    Memoized per semanticHash of the ANALYZED plan: re-running optimization
    for the estimate costs ~34 ms of driver time, which cost-gated operators
    would otherwise re-pay on EVERY invocation; semanticHash is ~1.2 ms. The
    UNanalyzed plan string would be the wrong key — Spark 4 prints a fresh
    parquet read as "UnresolvedDataSource … paths: 1 provided" with no path,
    so different tables collide.
    """
    try:
        return memo.get(
            "plan_sizes",
            df.semanticHash(),
            lambda: int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()),
        )
    except Exception:
        return 1 << 62


def partitions(df: DataFrame) -> int:
    """Planned partition count of ``df``, memoized per semanticHash of the
    analyzed plan. ``df.rdd.getNumPartitions()`` costs ~60 ms of driver time
    per call (full physical planning + RDD conversion) and fan_out callers
    re-pay it on every fresh build; the count is a pure function of the
    immutable fixture layout + session parallelism (OPTIMIZATION r12)."""
    try:
        key = df.semanticHash()
    except Exception:
        return df.rdd.getNumPartitions()
    return memo.get("partition_counts", key, lambda: df.rdd.getNumPartitions())


def fuse(df: DataFrame, scale: float = 1.0) -> DataFrame:
    """Single-task regime for FRESH builds of small inputs.

    The round-3/4 lesson, both halves: which plan shape wins depends on
    which costs an invocation actually pays.

    - **Prepared mode**: each call re-executes a cached DataFrame, paying
      execution only. There the distributed plan wins at EVERY fixture size
      (window top-k: 0.04 s distributed vs 0.25 s fused, execution-only),
      so this gate returns the input UNCHANGED and the plan keeps its
      parallelism — the shape that also stands at 100 TB.
    - **Fresh-build mode**: every call pays Catalyst planning plus one JOB
      PER QUERY STAGE of scheduling. Fusing a small input to one partition
      is a narrow ``coalesce`` — SinglePartition satisfies every
      ClusteredDistribution, so windows/aggregations/joins over it plan NO
      exchange and the whole query collapses to one stage (BENCH_r03:
      window_topk 2.14x vs 10.55x after round 4 removed these gates).

    Size gate: ``plan_bytes(df) < SMALL_BYTES x scale``; above it the plan
    is returned unchanged in both modes. Callers pass the input ALREADY
    projected so the gate measures what will actually flow; callers whose
    projection compresses far better than it decodes (all-numeric columns —
    the estimate is compressed bytes but single-task decode work is ROWS)
    pass ``scale < 1`` to cross over earlier (hourly_agg at the 10x replica:
    fused 0.51 s vs distributed 0.42 s at an 11 MB estimate that a
    text-heavy input of equal work would have crossed long before).
    """
    if fresh() and plan_bytes(df) < SMALL_BYTES * scale:
        return df.coalesce(1)
    return df


def fan_out(df: DataFrame, min_bytes: int | None = None) -> DataFrame:
    """Round-robin repartition a narrow input so compute-heavy downstream work
    (regex passes, pandas UDFs, per-row vector math) uses every core.

    Parquet splits at row-group granularity: a single-row-group file scans as
    ONE partition no matter how many cores exist, serializing everything after
    it. At 100 TB inputs arrive as thousands of files and this is a no-op
    (returns ``df`` unchanged when partitions >= target); on small/skewed
    layouts it costs one tiny shuffle to unlock N-way parallelism — the same
    guard a production pipeline wants against a few-giant-files layout.

    Cost-gated (OPTIMIZATION r13): inputs whose estimate is under
    ``min_bytes`` (default ``SMALL_BYTES``, which assumes LIGHT per-byte
    work) stay on their natural layout. Per-row operators are
    order-insensitive, so the gate changes plan shape only, never results.
    Call sites whose downstream is far heavier per byte (interpreted HOF
    folds, Python image decoding) pass their own ``min_bytes`` (0 = always
    fan out) — rolling_fingerprint measured 0.16 -> 0.45 s at sf0.1 under
    the default gate before its override.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if partitions(df) >= target:
        return df
    if plan_bytes(df) < (SMALL_BYTES if min_bytes is None else min_bytes):
        return df
    return df.repartition(target)
