"""One session-scoped memo for everything the package reuses across queries.

Prepared catalog plans, resolved table relations, Catalyst size and
partition-count estimates, parquet footer stats, small dimension lookups and
``pandas_udf`` objects are all pure functions of (session, immutable
fixture files), and re-deriving them costs tens of milliseconds of driver
time per query build. They all live here, beside the one piece of mutable
state bound to the same session (``operators._cache.rotate_persist``'s live
frames per tag), under one policy:

- **Lifetime.** Entries belong to the live ``SparkContext``. A call that
  finds a different active context first drops the whole store, so nothing
  bound to a stopped session is handed out again (a ``UserDefinedFunction``
  pins its JVM-side ``_judf`` to the session active at first use; a
  DataFrame holds that session's JVM plan). The check is an identity test
  on a Python attribute, not a py4j call.
- **Bound.** Each namespace is an LRU with a fixed cap (``CAPS``), sized
  well above the working set of the whole catalog over a few fixture dirs.
- **Invalidation.** Values assume the tables they describe are not
  rewritten during the session. A sink that rewrites or appends to a table
  calls :func:`invalidate_path`; a change of which physical relation a
  catalog key resolves to (``sources.layout`` overrides) calls
  ``clear("plans")``.

Values are plan metadata, code objects, persisted-frame handles and child
session handles, never table data.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from collections.abc import Callable, Hashable
from typing import TypeVar

from pyspark import SparkContext

T = TypeVar("T")

#: namespace -> LRU cap (entries)
CAPS: dict[str, int] = {
    "plans": 512,  # (sf, key) -> prepared catalog DataFrame
    "relations": 256,  # table path -> resolved base DataFrame
    "column_stats": 256,  # (table path, column) -> footer (min, max, rows)
    "plan_sizes": 4096,  # semanticHash -> Catalyst sizeInBytes
    "partition_counts": 4096,  # semanticHash -> planned partitions
    "udfs": 64,  # (name, *params) -> pandas_udf object
    "lookups": 64,  # (name, sf) -> small query-parameter lookup
    "persist": 256,  # rotate_persist tag -> its live persisted frames
    "sessions": 1,  # name -> child session (streaming.catalog.stream_session)
}

_lock = threading.Lock()
_owner: SparkContext | None = None
_store: dict[str, OrderedDict] = {}


def _entries(ns: str) -> OrderedDict:
    """Namespace ``ns`` of the live context's store (caller holds the lock)."""
    global _owner
    sc = SparkContext._active_spark_context
    if sc is not _owner:
        _store.clear()
        _owner = sc
    if ns not in CAPS:
        raise KeyError(f"unknown memo namespace {ns!r}")
    return _store.setdefault(ns, OrderedDict())


def get(ns: str, key: Hashable, compute: Callable[[], T]) -> T:
    """The value memoized under ``key`` in ``ns``, computed by ``compute()``
    on a miss. Nothing is stored when ``compute`` raises."""
    with _lock:
        entries = _entries(ns)
        if key in entries:
            entries.move_to_end(key)
            return entries[key]
    value = compute()
    with _lock:
        entries = _entries(ns)
        entries[key] = value
        entries.move_to_end(key)
        while len(entries) > CAPS[ns]:
            entries.popitem(last=False)
    return value


def update(ns: str, key: Hashable, fn: Callable[[T | None], T]) -> T:
    """Store and return ``fn(old)`` under ``key`` in ``ns`` (``old`` is None
    on a miss) as one step under the lock, so no concurrent caller's update
    interleaves with it. ``fn`` must be quick and must not call the memo."""
    with _lock:
        entries = _entries(ns)
        entries[key] = value = fn(entries.get(key))
        entries.move_to_end(key)
        while len(entries) > CAPS[ns]:
            entries.popitem(last=False)
    return value


def clear(ns: str) -> None:
    """Drop every entry of one namespace."""
    with _lock:
        _store.pop(ns, None)


def invalidate_path(path: str) -> None:
    """Forget what is memoized about the table at ``path``: its resolved
    relation (which pins the old file listing) and its footer column stats."""
    with _lock:
        _store.get("relations", {}).pop(path, None)
        stats = _store.get("column_stats", {})
        for key in [k for k in stats if k[0] == path]:
            del stats[key]
