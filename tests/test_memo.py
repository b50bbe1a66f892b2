"""The session-scoped memo (airflow_etl_elt_spark/memo.py): lifetime bound
to the active SparkContext, a fixed LRU cap per namespace, per-path
invalidation. The active context is monkeypatched, so no JVM is needed."""

from __future__ import annotations

import pytest
from pyspark import SparkContext

from airflow_etl_elt_spark import memo


@pytest.fixture
def ctx(monkeypatch):
    """Switch the active context to a fresh stand-in object."""

    def switch():
        sc = object()
        monkeypatch.setattr(SparkContext, "_active_spark_context", sc)
        return sc

    switch()
    return switch


def test_context_switch_drops_every_namespace(ctx):
    calls = []

    def compute(v):
        calls.append(v)
        return v

    assert memo.get("plans", ("sf", "q"), lambda: compute(1)) == 1
    assert memo.get("udfs", ("f",), lambda: compute(2)) == 2
    assert memo.get("plans", ("sf", "q"), lambda: compute(-1)) == 1  # hit
    ctx()
    assert memo.get("udfs", ("f",), lambda: compute(3)) == 3
    assert memo.get("plans", ("sf", "q"), lambda: compute(4)) == 4
    assert calls == [1, 2, 3, 4]
    with pytest.raises(KeyError):
        memo.get("no_such_namespace", 1, lambda: 1)


def test_namespace_never_exceeds_its_cap(ctx):
    cap = memo.CAPS["udfs"]
    for i in range(cap):
        memo.get("udfs", i, lambda i=i: i)
    memo.get("udfs", 0, lambda: -1)  # hit: 0 becomes most recently used
    for i in range(cap, cap + 5):
        memo.get("udfs", i, lambda i=i: i)
        assert len(memo._store["udfs"]) == cap
    assert memo.get("udfs", 0, lambda: -1) == 0  # kept
    assert memo.get("udfs", 1, lambda: -1) == -1  # least recently used: evicted


def test_invalidate_path_drops_relation_and_column_stats(ctx):
    memo.get("relations", "/a", lambda: "rel-a")
    memo.get("relations", "/b", lambda: "rel-b")
    memo.get("column_stats", ("/a", "x"), lambda: (0.0, 1.0, 2))
    memo.get("column_stats", ("/b", "x"), lambda: (0.0, 1.0, 2))
    memo.invalidate_path("/a")
    assert memo.get("relations", "/a", lambda: "new") == "new"
    assert memo.get("column_stats", ("/a", "x"), lambda: None) is None
    assert memo.get("relations", "/b", lambda: "new") == "rel-b"
    assert memo.get("column_stats", ("/b", "x"), lambda: None) == (0.0, 1.0, 2)
