"""Bounded persist rotation for operator intermediates.

Some operators MUST persist an intermediate:

- self-join inputs whose upstream is an expensive UDF (minhash/simhash
  signatures) — without a materialized cache both join sides run the UDF in
  full (Catalyst inlines it; measured 2x the UDF cost);
- range-repartitioned frames whose partition boundaries feed a driver-side
  offset computation (surrogate_key) — the persist pins ONE InMemoryRelation
  whose RDD lineage is fixed, so even cache eviction recomputes the SAME
  sampled boundaries; two independent materializations would not (the range
  partitioner's sampling is seeded by RDD id).

They cannot unpersist before returning: the caller's terminal action is what
consumes the cache. Unpersisting eagerly would silently recompute. Instead
each call site rotates: persisting call N unpersists call N-``keep``'s frame
under the same tag, bounding live cache to ``keep`` intermediates per
operator however many times the bench/driver loops (ADVICE r1: caches
accumulated across the 83-query run with 'already cached' warnings).

``keep`` defaults to 1. Operators whose RETURNED frame still depends on the
pinned cache (surrogate_key's offsets were computed from it; a recompute
under a different materialization could renumber rows) pass ``keep=2`` so a
second call before the first result is consumed does not evict the frame the
first result's correctness hangs on (ADVICE r5). The constraint is then "at
most ``keep`` results of that operator live at once" — documented at the
call sites; interleaving more concurrent unconsumed results than ``keep``
re-opens the lineage-pinning hazard this module exists to close.

Nothing here changes session conf: the materializing count runs under the
caller's own settings, adaptive execution included, so threads sharing the
session (``plans.pipeline.fan_out``) never observe a flipped conf.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from airflow_etl_elt_spark import memo


def rotate_persist(
    tag: str, df: DataFrame, materialize: bool = True, keep: int = 1
) -> DataFrame:
    """Persist ``df`` (optionally materializing it with a plain
    ``df.count()`` under the session's conf) after unpersisting all but the
    newest ``keep - 1`` frames previously registered under ``tag``.

    Spark keeps ONE cache entry per plan, shared by every frame whose plan
    ``sameSemantics`` it. So eviction comes first, and skips a frame that
    shares its plan with ``df`` or with a frame that stays live: unpersisting
    it would uncache them too. ``df`` is persisted only if its plan is not
    cached already, which would be a no-op that Spark warns about ("Asked
    to cache already cached data").

    The live frames of each tag are a ``memo`` namespace: the rotation is
    one update under the memo lock, and its state ends with its context."""
    evict: list[DataFrame] = []

    def rotate(live: list[DataFrame] | None) -> list[DataFrame]:
        live = live or []
        stay = live[max(0, len(live) - keep + 1):]
        evict[:] = live[: len(live) - len(stay)]
        return [*stay, df]

    stay = memo.update("persist", tag, rotate)[:-1]
    for prev in evict:
        try:
            if not any(prev.sameSemantics(f) for f in (*stay, df)):
                prev.unpersist()
        except Exception:
            pass  # session may be gone; nothing to free
    level = df.storageLevel
    if not (level.useMemory or level.useDisk):
        df.persist()
    if materialize:
        df.count()
    return df

