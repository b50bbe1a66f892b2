"""Library calls run under the caller's session conf.

``spark.sql.adaptive.enabled`` is session-wide: a library call that flips
it, even for one action, changes the plans of every other thread that
shares the session (``plans.pipeline.fan_out(max_parallel>1)`` is such a
pool). These tests run the calls that materialize driver-side frames —
``rotate_persist``'s count, the exact median's depth probe and the fresh
``dedup_minhash`` build — and check that none of them touches that conf.
A ``stream_*`` build runs on the stream session, so it writes no conf of
its caller's, and above all not ``spark.sql.shuffle.partitions``: the
caller here sets that to 200, away from the streams' own 8.
"""

from __future__ import annotations

import threading

import pytest
from pyspark.sql.conf import RuntimeConfig

from tests.conftest import SF_SMOKE

AQE = "spark.sql.adaptive.enabled"
SHUFFLE = "spark.sql.shuffle.partitions"
STREAM_KEY = "stream_events_hourly"


@pytest.fixture(scope="module")
def caller(spark):
    """A session at 200 shuffle partitions. The shared fixture session
    already uses 8, the streams' own setting, so a stream that set its
    caller's conf to 8 would go unseen there."""
    s = spark.newSession()
    s.conf.set(SHUFFLE, "200")
    return s


def _materialized(spark, tag):
    from airflow_etl_elt_spark.operators._cache import rotate_persist

    df = spark.range(1000).selectExpr("id % 7 AS g", "id AS v").groupBy("g").count()
    return rotate_persist(tag, df)


def _median(spark):
    # no value bounds: the call reaches the convergence (depth) probe
    from airflow_etl_elt_spark.operators.aggregates import grouped_exact_median
    from airflow_etl_elt_spark.sources.readers import read_table

    li = read_table(spark, SF_SMOKE, "lineitem")
    return grouped_exact_median(li, "l_returnflag", "l_extendedprice")


def _query(spark, key):
    from airflow_etl_elt_spark.queries import QUERIES

    return QUERIES[key](spark, SF_SMOKE)


def _calls(spark, tag):
    """Name → zero-argument call that builds and fetches one result, as
    sorted row tuples."""

    def rows(build):
        return lambda: sorted(tuple(r) for r in build().collect())

    return {
        "rotate_persist": rows(lambda: _materialized(spark, tag)),
        "median": rows(lambda: _median(spark)),
        "dedup_minhash": rows(lambda: _query(spark, "dedup_minhash")),
        # verify joins are left to adaptive execution's runtime broadcast
        "dedup_minhash_verified": rows(
            lambda: _query(spark, "dedup_minhash_verified")
        ),
        STREAM_KEY: rows(lambda: _query(spark, STREAM_KEY)),
    }


@pytest.fixture
def fresh(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_PLAN_CACHE", "0")


def test_materializing_calls_leave_aqe_conf_alone(caller, fresh, monkeypatch):
    """No ``RuntimeConfig.set``/``unset`` of the AQE conf while a
    materializing ``rotate_persist``, a bound-less exact median and a fresh
    ``dedup_minhash`` build and fetch run; and none at all of the caller's
    conf while a ``stream_*`` key is built and fetched."""
    from airflow_etl_elt_spark.streaming import catalog

    # a staging miss reads the events through read_table, which pins the
    # caller's time zone; stage first so the build below is the stream alone
    catalog.stage_event_drops(caller, SF_SMOKE)
    touched = []
    real_set, real_unset = RuntimeConfig.set, RuntimeConfig.unset

    def spy_set(self, key, value):
        touched.append((self._jconf, "set", key, value))
        return real_set(self, key, value)

    def spy_unset(self, key):
        touched.append((self._jconf, "unset", key, None))
        return real_unset(self, key)

    monkeypatch.setattr(RuntimeConfig, "set", spy_set)
    monkeypatch.setattr(RuntimeConfig, "unset", spy_unset)
    calls = _calls(caller, "__t_conf_spy")
    for name in ("rotate_persist", "median", "dedup_minhash"):
        assert calls[name](), name
    assert [t[1:] for t in touched if t[2] == AQE] == []
    assert caller.conf.get(AQE) == "true"

    touched.clear()
    assert calls[STREAM_KEY]()
    own = caller._jsparkSession.conf()
    assert [t[1:] for t in touched if t[0].equals(own)] == []
    assert caller.conf.get(SHUFFLE) == "200"


def test_fan_out_results_match_serial_and_aqe_never_flips(caller, fresh):
    """The same calls plus an adaptive-execution-dependent key and a
    ``stream_*`` key, four at a time through ``fan_out``: each result
    equals its serial run, and a thread polling the caller's AQE and
    shuffle-partition confs throughout only ever reads ``true`` and
    ``200``."""
    from airflow_etl_elt_spark.plans.pipeline import fan_out

    calls = _calls(caller, "__t_conf_fan")
    serial = {name: call() for name, call in calls.items()}

    seen: set[tuple[str, str]] = set()
    stop = threading.Event()

    def watch():
        while not stop.is_set():
            seen.add((caller.conf.get(AQE), caller.conf.get(SHUFFLE)))
            stop.wait(0.002)

    watcher = threading.Thread(target=watch, daemon=True)
    watcher.start()
    try:
        names = list(calls)
        parallel = dict(
            zip(names, fan_out(names, lambda n: calls[n](), max_parallel=4))
        )
    finally:
        stop.set()
        watcher.join()
    assert seen == {("true", "200")}
    for name in names:
        assert parallel[name] == serial[name], name
        assert serial[name], name
