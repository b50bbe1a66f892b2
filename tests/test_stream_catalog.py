"""Streaming catalog machinery (streaming/catalog.py): staged drop layout,
variant contents, and the bounded runners. End-to-end oracle parity for the
stream_* keys is covered by tests/test_oracle.py's catalog sweep."""

from __future__ import annotations

import glob
import os

import pytest

from airflow_etl_elt_spark.streaming import catalog
from tests.conftest import SF_SMOKE


def test_staging_is_cached_and_ordered(spark):
    d1 = catalog.stage_event_drops(spark, SF_SMOKE)
    d2 = catalog.stage_event_drops(spark, SF_SMOKE)
    assert d1 == d2 and os.path.exists(os.path.join(d1, "_SUCCESS"))
    files = sorted(glob.glob(os.path.join(d1, "drop_*.parquet")))
    assert len(files) == 4
    # file mtimes strictly increase -> the file source replays drops in
    # event-time order (one per micro-batch)
    mtimes = [os.path.getmtime(f) for f in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
    # drops partition the time axis: max(ts) of drop k <= min(ts) of k+1
    import duckdb

    con = duckdb.connect()
    bounds = [
        con.sql(f"SELECT min(ts), max(ts) FROM '{f}'").fetchone()
        for f in files
    ]
    for (_, hi), (lo, _) in zip(bounds, bounds[1:]):
        assert hi <= lo


def test_dups_variant_redelivers_rows(spark):
    clean = catalog.stage_event_drops(spark, SF_SMOKE)
    dups = catalog.stage_event_drops(spark, SF_SMOKE, variant="dups")
    import duckdb

    con = duckdb.connect()
    n_clean = con.sql(f"SELECT count(*) FROM '{clean}/drop_*.parquet'").fetchone()[0]
    n_dups, n_distinct = con.sql(
        f"SELECT count(*), count(DISTINCT event_id) FROM '{dups}/drop_*.parquet'"
    ).fetchone()
    assert n_dups > n_clean  # duplicates were injected...
    assert n_distinct == n_clean  # ...but no new identities


def test_asof_variant_has_two_sided_sentinel(spark):
    staged = catalog.stage_event_drops(spark, SF_SMOKE, variant="asof")
    import duckdb

    con = duckdb.connect()
    sent = con.sql(
        f"SELECT event_type, count(*) FROM '{staged}/drop_*.parquet' "
        "WHERE user_id = -1 GROUP BY 1 ORDER BY 1"
    ).fetchall()
    assert sent == [("click", 1), ("purchase", 1)]
    # the sentinel sits beyond every real event plus the 1h watermark
    gap = con.sql(
        f"SELECT epoch(min(ts) FILTER (user_id = -1)) - "
        f"epoch(max(ts) FILTER (user_id >= 0)) FROM '{staged}/drop_*.parquet'"
    ).fetchone()[0]
    assert gap > 3600


def test_run_bounded_rejects_nothing_but_memory_recovers(spark, tmp_path):
    """Single-pass memory-sink runner returns the final table; the staged
    stream crosses 4 micro-batches (one file per trigger)."""
    from pyspark.sql import functions as F

    staged = catalog.stage_event_drops(spark, SF_SMOKE)
    stream = (
        catalog.read_drops(spark, staged)
        .filter(F.col("ts").isNotNull())
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = catalog.run_bounded(stream, "complete")
    got = {r["event_type"]: r["n"] for r in out.collect()}
    import duckdb

    con = duckdb.connect()
    want = dict(
        con.sql(
            f"SELECT event_type, count(*) FROM '{staged}/drop_*.parquet' "
            "WHERE ts IS NOT NULL GROUP BY 1"
        ).fetchall()
    )
    assert got == want


def test_stream_incremental_dedup_matches_batch_key(spark):
    """Micro-batch boundaries must not change the incremental dedup result:
    the streaming twin (4 staged document drops through foreachBatch
    against the persisted index) hash-equals the one-shot batch key. Also
    proves the document staging is cached: a second staging call returns
    the same directory without rewriting."""
    import os

    from airflow_etl_elt_spark.queries import QUERIES

    staged = catalog.stage_document_drops(spark, SF_SMOKE)
    mt = os.path.getmtime(os.path.join(staged, "_SUCCESS"))
    assert catalog.stage_document_drops(spark, SF_SMOKE) == staged
    assert os.path.getmtime(os.path.join(staged, "_SUCCESS")) == mt

    stream_rows = sorted(
        (r["id_new"], r["id_corpus"], round(r["est_jaccard"], 9))
        for r in QUERIES["stream_dedup_incremental"](spark, SF_SMOKE).collect()
    )
    batch_rows = sorted(
        (r["id_new"], r["id_corpus"], round(r["est_jaccard"], 9))
        for r in QUERIES["dedup_incremental"](spark, SF_SMOKE).collect()
    )
    assert stream_rows == batch_rows and stream_rows


def _temp_views(session) -> set[str]:
    return {t.name for t in session.catalog.listTables() if t.isTemporary}


def test_stream_builds_leave_no_dirs_or_views(spark, monkeypatch):
    """Fresh builds leave no checkpoint, sink or foreachBatch directory in
    the temp dir, and no memory-sink view in the caller or in the stream
    session; the returned frames still fetch their rows."""
    import tempfile

    from airflow_etl_elt_spark.queries import QUERIES

    monkeypatch.setenv("SPARK_GRAFT_PLAN_CACHE", "0")
    tmp = tempfile.gettempdir()

    def dirs() -> set[str]:
        return {
            p
            for pat in ("ckpt_*", "sink_sg_*", "sg_sdi_*")
            for p in glob.glob(os.path.join(tmp, pat))
        }

    before = dirs(), _temp_views(spark)
    for key in ("stream_events_hourly", "stream_asof_join", "stream_dedup_incremental"):
        assert QUERIES[key](spark, SF_SMOKE).collect(), key
    assert (dirs(), _temp_views(spark)) == before
    assert _temp_views(catalog.stream_session(spark)) == set()


def test_stream_builds_add_at_most_one_listener(spark, monkeypatch):
    """Four stream builds add at most one listener (the stream session's
    own) to the context's listener bus, though each stateful run makes a
    session clone with a listener of its own."""
    from airflow_etl_elt_spark.queries import QUERIES

    monkeypatch.setenv("SPARK_GRAFT_PLAN_CACHE", "0")
    bus = spark.sparkContext._jsc.sc().listenerBus()
    n0 = bus.listeners().size()
    for key in ("stream_events_hourly", "stream_dedup", "stream_sessionize", "stream_events_hourly"):
        assert QUERIES[key](spark, SF_SMOKE).collect(), key
    assert bus.listeners().size() - n0 <= 1
