"""Production at-rest layout for the bench path (VERDICT r6 next-step 1).

The driver fixtures are single-file / SINGLE-ROW-GROUP parquet. Neither
Spark nor DuckDB can split inside a row group, so every fact scan at the
bench SF runs single-threaded on a 32-core box — by LAYOUT, not by engine
(SCALING round-6 addendum, item 6). Worse, the fresh-mode TPC-H residual
is rebuilding a fact-sized broadcast hash relation per run (q3/q5/q10's
orders side) — the cost a production deployment deletes by landing facts
BUCKETED on their join key, so repeated fact-fact joins sort-merge with
ZERO exchange and zero broadcast build (``write_bucketed``; proven
exchange-free in tests/test_sinks.py).

This module materializes that at-rest layout ONCE per fixture identity
(untimed prep, like a warehouse's initial load) and registers per-table
overrides that ``readers.read_table`` consults:

- ``orders`` / ``lineitem``: catalog-backed bucketed tables on the orderkey
  (32 buckets, sorted) — q3/q5/revenue_by_priority join exchange-free
  (q10 deliberately keeps its date-pruned broadcast: measured faster, and
  its build side is bounded by the date window — see q_tpch_q10).
- ``events``: bucketed on ``user_id``, sorted (user_id, ts, event_id) —
  sessionize / per-user windows plan no exchange AND no sort.
- ``documents`` / ``embeddings`` / dims: multi-file range-partitioned
  parquet, sorted within partitions on the natural key (the layout
  ``scripts/build_scale_dataset.py`` writes for the replicas) — scans
  parallelize and ``fan_out``'s compensating shuffle becomes a no-op.

Both engines read the SAME bytes: ``duckdb_path`` hands the bench's DuckDB
baseline a glob over the identical rewritten files.

Size policy (``MIN_BYTES`` = ``regime.BROADCAST_BYTES``, the session
broadcast threshold): tables under the floor keep their fixture layout — they
broadcast into any join (co-location buys nothing) and scan as 1-2 splits
(sharding a 10 MB table 32 ways is anti-production file fragmentation).
Bucketing is decided per co-location GROUP (``BUCKET_GROUPS``): if any
member crosses, the whole group buckets, because an exchange-free join
needs both sides laid out together. At the driver's sf0.1 every table is
under the floor and the bench runs the pristine fixtures (series-comparable
with rounds 1-6); at the 10x/30x replicas the fact group (96-290 MB
lineitem) buckets — where the isolated A/B measured q3/q5/
revenue_by_priority ~50% faster and sessionize ~55% faster fresh.

Scope guard: nothing here runs unless ``prepare_at_rest_layout`` is called
(bench.py does; the driver's correctness harness never does), so the
oracle/correctness paths keep reading the pristine fixtures. Row counts
are asserted against the source at write time; value-level parity of the
headline queries under this layout is pinned by tests/test_layout.py.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airflow_etl_elt_spark import memo, regime

#: bump to invalidate every materialized layout (schema of the marker, the
#: bucket/sort specs below, or the write recipe changed)
_LAYOUT_VERSION = "v1"

#: Bucket count for the fact tables. 32 matches local[32]; a cluster
#: deployment sizes this to target ~128-512 MB per bucket file.
BUCKETS = 32

#: Source-bytes floor below which a table keeps its fixture layout: the
#: session broadcast threshold. A table under it broadcasts into any join,
#: so co-locating it buys nothing, and its scan is already 1-2 splits —
#: sharding it 32 ways only fragments (production parquet guidance targets
#: >= 64-512 MB files; nobody buckets a 10 MB table). Measured both ways at
#: the 10x replica (SCALING r7): the bucketed orderkey facts (96 MB
#: lineitem) cut q3/q5/revenue_by_priority ~50%, while rewriting the
#: sub-16 MB documents/embeddings moved knn and the corpus keys within
#: noise or slightly backward.
MIN_BYTES = regime.BROADCAST_BYTES

#: table -> (bucket_cols, sort_cols), bucketed into ``BUCKETS`` buckets.
BUCKETED: dict[str, tuple[tuple[str, ...], tuple[str, ...]]] = {
    "orders": (("o_orderkey",), ("o_orderkey",)),
    "lineitem": (("l_orderkey",), ("l_orderkey",)),
    "events": (("user_id",), ("user_id", "ts", "event_id")),
}

#: Co-location groups: bucketing pays only when BOTH join sides share the
#: layout, so the group rewrites together — if ANY member crosses the size
#: threshold, every member buckets (a production warehouse buckets the
#: smaller fact to match its big partner; bucketing it alone buys nothing).
BUCKET_GROUPS: tuple[tuple[str, ...], ...] = (("orders", "lineitem"), ("events",))

#: table -> (range_partition_key, num_files). Dimension- and corpus-sized
#: tables get the multi-file sorted layout; nation/region stay pristine
#: (KB-sized, one file is the production shape too).
MULTI_FILE: dict[str, tuple[str, int]] = {
    "documents": ("doc_id", 32),
    "embeddings": ("vec_id", 32),
    "customer": ("c_custkey", 8),
    "supplier": ("s_suppkey", 4),
    "part": ("p_partkey", 8),
}

# (applicationId, abs sf_dir, table) -> entry dict; see resolve(). Every
# change to which entries are active drops the memoized prepared plans:
# they were built against the previous physical relations (same results,
# wrong layout).
_REGISTRY: dict[tuple[str, str, str], dict] = {}

# applicationId -> prior value ('' = unset) of the bucketed-scan ordering
# flag, saved by prepare_at_rest_layout so suspend()/clear() can restore it
# (ADVICE r7: the flag must not leak into 'layout off' A/B samples or later
# non-layout work in the same session).
_SAVED_ORDERING_CONF: dict[str, str] = {}

_ORDERING_FLAG = "spark.sql.legacy.bucketedTableScan.outputOrdering"


def _source_identity(sf_dir: str) -> str:
    """Size+mtime identity of the fixture directory — same derivation idea as
    streaming.catalog.source_identity: any rewrite of the fixtures produces a
    new identity and therefore a fresh layout materialization. Deliberately
    NOT memoized (ADVICE r7): this only runs at prepare time, and a memo
    would pin fixtures regenerated mid-process to a stale layout."""
    sf_dir = os.path.abspath(sf_dir)
    parts: list[str] = [_LAYOUT_VERSION]
    for name in sorted(os.listdir(sf_dir)):
        p = os.path.join(sf_dir, name)
        if os.path.isdir(p):
            for f in sorted(os.listdir(p)):
                st = os.stat(os.path.join(p, f))
                parts.append(f"{name}/{f}:{st.st_size}:{int(st.st_mtime)}")
        else:
            st = os.stat(p)
            parts.append(f"{name}:{st.st_size}:{int(st.st_mtime)}")
    return hashlib.sha256("|".join(parts).encode()).hexdigest()[:12]


def _source_bytes(sf_dir: str, name: str) -> int:
    p = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isdir(p):
        return sum(
            os.path.getsize(os.path.join(p, f))
            for f in os.listdir(p)
            if not f.startswith(("_", "."))
        )
    return os.path.getsize(p) if os.path.exists(p) else 0


def _table_name(name: str, ident: str, n_buckets: int) -> str:
    # bucket count is part of the table identity: the same fixtures bucketed
    # differently are different physical layouts
    return f"bench_{name}_{ident}_b{n_buckets}"


def _marker_path(table_dir: str) -> str:
    return os.path.join(table_dir, "_LAYOUT_MARKER.json")


def _files_root(ident: str) -> str:
    return os.path.join(
        os.environ.get("SPARK_GRAFT_LAYOUT_DIR", "/tmp/spark-graft-layout"), ident
    )


def _register_existing_bucketed(
    spark: SparkSession, tbl: str, table_dir: str, cols, sort_cols, n_buckets: int
) -> bool:
    """Re-attach a previously materialized bucketed directory to this
    session's catalog as an EXTERNAL table (the in-memory catalog forgets
    tables at session end; the files and their bucket-id filenames survive).
    The table name encodes fixture identity + bucket count, so a same-name
    catalog entry from earlier in THIS session is the same physical layout —
    reuse it, never DROP it (dropping a managed table deletes its files).
    Returns False on any failure so the caller falls back to a fresh write."""
    try:
        if spark.catalog.tableExists(tbl):
            return len(spark.table(tbl).limit(1).collect()) == 1
        marker = _marker_path(table_dir)
        if not (
            os.path.exists(os.path.join(table_dir, "_SUCCESS"))
            and os.path.exists(marker)
        ):
            return False
        with open(marker) as fh:
            meta = json.load(fh)
        if meta.get("buckets") != n_buckets or meta.get("bucket_cols") != list(cols):
            return False
        schema_ddl = meta["schema_ddl"]
        sort_clause = (
            f"SORTED BY ({', '.join(sort_cols)}) " if sort_cols else ""
        )
        spark.sql(
            f"CREATE TABLE {tbl} ({schema_ddl}) USING parquet "
            f"CLUSTERED BY ({', '.join(cols)}) {sort_clause}"
            f"INTO {n_buckets} BUCKETS LOCATION '{table_dir}'"
        )
        # the catalog table must resolve AND see the files (an empty scan
        # means the location is gone or being rewritten — fall back)
        return len(spark.table(tbl).limit(1).collect()) == 1
    except Exception:
        return False


def prepare_at_rest_layout(spark: SparkSession, sf_dir: str) -> dict[str, str]:
    """Materialize (or re-attach) the production at-rest layout for ``sf_dir``
    and register read_table overrides for this session. Idempotent and
    identity-keyed: unchanged fixtures reuse the files already on disk.
    Returns {table: location} for the rewritten tables."""
    from airflow_etl_elt_spark.sources.readers import read_table

    sf_abs = os.path.abspath(sf_dir)
    ident = _source_identity(sf_abs)
    n_buckets = BUCKETS
    # Sorted-bucket scans only advertise their sort order behind this flag
    # (off by default since SPARK-28595 because it needs the one-file-per-
    # bucket check); our writer repartitions to exactly one file per bucket,
    # so turning it on elides the window/SMJ sorts the layout already paid.
    # Save the prior value so suspend()/clear() can restore it (the flag is
    # part of the override state, not session state — ADVICE r7).
    app_id = spark.sparkContext.applicationId
    if app_id not in _SAVED_ORDERING_CONF:
        _SAVED_ORDERING_CONF[app_id] = _read_ordering_conf(spark)
    spark.conf.set(_ORDERING_FLAG, "true")
    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "/tmp/spark-graft-warehouse"
    ).removeprefix("file:")
    already = {
        k[2]: v["path"] for k, v in _REGISTRY.items() if k[0] == app_id and k[1] == sf_abs
    }
    if already:  # this session already prepared sf_dir; re-registering after
        return already  # clear() is a dict rebuild, not a catalog round trip
    locations: dict[str, str] = {}

    bucket_tables: list[str] = []
    for group in BUCKET_GROUPS:
        if any(_source_bytes(sf_abs, n) >= MIN_BYTES for n in group):
            bucket_tables.extend(n for n in group if _source_bytes(sf_abs, n) > 0)

    for name in bucket_tables:
        cols, sort_cols = BUCKETED[name]
        tbl = _table_name(name, ident, n_buckets)
        table_dir = os.path.join(warehouse, tbl)
        if not _register_existing_bucketed(
            spark, tbl, table_dir, cols, sort_cols, n_buckets
        ):
            # a stale/partial directory (killed write, older layout recipe)
            # blocks the write with LOCATION_ALREADY_EXISTS; remove it. The
            # catalog entry, if any, is external (written with an explicit
            # path below), so dropping it never deletes data.
            if os.path.exists(table_dir):
                import shutil

                shutil.rmtree(table_dir, ignore_errors=True)
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            src = read_table(spark, sf_abs, name)
            # one shuffle localizes each bucket to one task -> one file per
            # bucket (otherwise every write task emits a file per bucket it
            # touches: num_tasks x num_buckets files)
            from airflow_etl_elt_spark.sources.sinks import write_bucketed

            write_bucketed(
                src.repartition(n_buckets, *[F.col(c) for c in cols]),
                tbl,
                cols,
                num_buckets=n_buckets,
                sort_cols=sort_cols,
                path=table_dir,
            )
            n_src, n_out = src.count(), spark.table(tbl).count()
            if n_src != n_out:
                raise AssertionError(
                    f"layout rewrite of {name} lost rows: {n_src} -> {n_out}"
                )
            with open(_marker_path(table_dir), "w") as fh:
                json.dump(
                    {
                        "source": sf_abs,
                        "identity": ident,
                        "rows": n_out,
                        "buckets": n_buckets,
                        "bucket_cols": list(cols),
                        "sort_cols": list(sort_cols),
                        "schema_ddl": ", ".join(
                            f"{f.name} {f.dataType.simpleString()}"
                            for f in spark.table(tbl).schema.fields
                        ),
                    },
                    fh,
                )
        _REGISTRY[(app_id, sf_abs, name)] = {
            "kind": "bucketed",
            "table": tbl,
            "bucket_cols": cols,
            "path": table_dir,
        }
        locations[name] = table_dir

    files_root = _files_root(ident)
    for name, (key, n_files) in MULTI_FILE.items():
        src_path = os.path.join(sf_abs, f"{name}.parquet")
        if not os.path.exists(src_path):
            continue  # fixture variants without the table (replicas, tests)
        if _source_bytes(sf_abs, name) < MIN_BYTES:
            continue  # under the rewrite floor: the fixture IS the layout
        out_dir = os.path.join(files_root, name)
        if not (
            os.path.exists(os.path.join(out_dir, "_SUCCESS"))
            and os.path.exists(_marker_path(out_dir))
        ):
            src = read_table(spark, sf_abs, name)
            (
                src.repartitionByRange(n_files, F.col(key))
                .sortWithinPartitions(key)
                .write.mode("overwrite")
                .parquet(out_dir)
            )
            n_src, n_out = src.count(), spark.read.parquet(out_dir).count()
            if n_src != n_out:
                raise AssertionError(
                    f"layout rewrite of {name} lost rows: {n_src} -> {n_out}"
                )
            with open(_marker_path(out_dir), "w") as fh:
                json.dump({"source": sf_abs, "identity": ident, "rows": n_out}, fh)
        _REGISTRY[(app_id, sf_abs, name)] = {"kind": "files", "path": out_dir}
        locations[name] = out_dir
    if locations:
        memo.clear("plans")
    return locations


def resolve(spark: SparkSession, sf_dir: str, name: str) -> DataFrame | None:
    """read_table hook: the overridden relation for (sf_dir, table) in THIS
    session, or None when no layout was prepared (the default everywhere
    except the bench path)."""
    if not _REGISTRY:
        return None
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), name)
    entry = _REGISTRY.get(key)
    if entry is None:
        return None
    df = entry.get("df")
    if df is None:
        if entry["kind"] == "bucketed":
            df = spark.table(entry["table"])
        else:
            df = spark.read.parquet(entry["path"])
        entry["df"] = df
    return df


def bucketed_on(
    spark: SparkSession, sf_dir: str, name: str, cols: tuple[str, ...]
) -> bool:
    """True iff the layout serves ``name`` bucketed exactly on ``cols`` —
    queries use this to pick the exchange-free sort-merge shape over a
    fact-sized broadcast build."""
    if not _REGISTRY:
        return False
    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), name)
    entry = _REGISTRY.get(key)
    return entry is not None and entry.get("bucket_cols") == cols


def duckdb_path(sf_dir: str, name: str, spark: SparkSession | None = None) -> str | None:
    """Glob over the rewritten files for the bench's DuckDB views, so both
    engines read identical bytes. None when the table wasn't rewritten.
    Pass ``spark`` to restrict the lookup to that session's overrides
    (ADVICE r7: without it, another session's entry for the same sf_dir
    could redirect the views)."""
    app_id = spark.sparkContext.applicationId if spark is not None else None
    for (aid, sfd, n), entry in _REGISTRY.items():
        if app_id is not None and aid != app_id:
            continue
        if n == name and sfd == os.path.abspath(sf_dir):
            return os.path.join(entry["path"], "*.parquet")
    return None


def _read_ordering_conf(spark: SparkSession) -> str:
    """Current explicit value of the ordering flag, or '' when it is unset
    (conf.get(key, default) type-checks the default, so '' can't be passed
    through it)."""
    try:
        return spark.conf.get(_ORDERING_FLAG)
    except Exception:
        return ""


def _restore_ordering_conf(spark: SparkSession) -> None:
    """Put the bucketed-scan ordering flag back to its pre-prepare value
    once this session has no active overrides left."""
    app_id = spark.sparkContext.applicationId
    prior = _SAVED_ORDERING_CONF.pop(app_id, None)
    if prior is None:
        return
    if prior == "":
        spark.conf.unset(_ORDERING_FLAG)
    else:
        spark.conf.set(_ORDERING_FLAG, prior)


def clear(spark: SparkSession | None = None) -> None:
    """Drop this session's overrides (tests), INCLUDING any suspended ones
    (ADVICE r7: a resume() after clear() must not re-activate dropped
    overrides), and restore the session conf prepare() touched. Files stay
    on disk."""
    if spark is None:
        _REGISTRY.clear()
        _SUSPENDED.clear()
        _SAVED_ORDERING_CONF.clear()
        memo.clear("plans")
        return
    app_id = spark.sparkContext.applicationId
    dropped = False
    for store in (_REGISTRY, _SUSPENDED):
        for key in [k for k in store if k[0] == app_id]:
            del store[key]
            dropped = True
    _restore_ordering_conf(spark)
    if dropped:
        memo.clear("plans")


_SUSPENDED: dict[tuple[str, str, str], dict] = {}


def suspend(spark: SparkSession) -> None:
    """Temporarily deactivate this session's overrides (A/B measurement and
    tests) without losing the registered catalog tables. resume() restores
    them with zero catalog round trips. The bucketed-scan ordering conf is
    restored to its pre-prepare value too, so 'layout off' samples run under
    pristine session state (ADVICE r7)."""
    app_id = spark.sparkContext.applicationId
    moved = False
    for key in [k for k in _REGISTRY if k[0] == app_id]:
        _SUSPENDED[key] = _REGISTRY.pop(key)
        moved = True
    if moved:
        prior = _SAVED_ORDERING_CONF.get(app_id)
        _restore_ordering_conf(spark)
        if prior is not None:  # keep for resume()/clear()
            _SAVED_ORDERING_CONF[app_id] = prior
        memo.clear("plans")


def resume(spark: SparkSession) -> None:
    app_id = spark.sparkContext.applicationId
    moved = False
    for key in [k for k in _SUSPENDED if k[0] == app_id]:
        _REGISTRY[key] = _SUSPENDED.pop(key)
        moved = True
    if moved:
        spark.conf.set(_ORDERING_FLAG, "true")  # overrides active again
        memo.clear("plans")
