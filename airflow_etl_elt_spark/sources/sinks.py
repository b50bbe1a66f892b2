"""Sinks: partitioned parquet writes, replace-table, keyed append and upsert.

Reference parity:
- ``INSERT OR IGNORE INTO wine_data BY NAME SELECT *`` — skip rows whose PK
  already exists, match columns by name (reference ``dags/etl_elt_wine.py:214-217``).
  Spark has no PK, so the same contract is an anti-join against existing keys
  followed by a name-matched append (SURVEY.md §2 row 5).
- ``df.to_sql(..., if_exists="replace")`` full replace
  (reference ``dags/etl_elt_wine.py:242-243``) → ``mode("overwrite")``.
- Dataset outlets (``dags/etl_elt_wine.py:195,223``) → commit-marker files,
  consumed by plans.pipeline's dataset-trigger gate.

One keyed-merge core (``_one_per_key``, ``_by_name``, ``_kept``) serves
``insert_ignore_by_name``, ``upsert_by_key`` and ``sources.txn.TxnTable.merge``;
``upsert_by_key`` swaps its rewrite into a plain parquet directory crash-safely.
A rewrite is the stored rows whose key the raw batch lacks (a left anti-join
whose build side broadcasts straight off the batch scan) unioned with the
one-row-per-key batch, so the batch is deduplicated and shuffled once. The
target's schema and stored row count come from its part-file footers
(``readers.footer_schema_rows``), so no job infers them; every other count
these writes return is an ``Observation`` on the write itself (no cache, no
second job). Each keyed write is thus three jobs: the batch-dedup shuffle,
the broadcast and the write. A hive-partitioned target keeps its partition
directories. Caller column names are quoted (``quote_ident``).

Scale notes: the anti-join in ``insert_ignore_by_name`` shuffles both sides on
the key. At 100 TB the "existing" side should be key-bucketed at rest so the
join co-locates without a full shuffle; here we read only the key column of
the existing table (column pruning) so the existing-side scan ships one
column, and broadcast kicks in automatically (AQE) when the batch is small.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from airflow_etl_elt_spark import memo
from airflow_etl_elt_spark.operators.relational import quote_ident
from airflow_etl_elt_spark.sources.readers import footer_schema_rows

def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    mode: str = "append",
) -> None:
    """Parquet write, optionally hive-partitioned (e.g. events by event_date).

    Partition columns are the write-side half of partition pruning: a reader
    filtering on the partition column scans only matching directories.
    """
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def replace_table(df: DataFrame, path: str) -> None:
    """Drop-and-recreate semantics (`if_exists="replace"`, etl_elt_wine.py:243)."""
    df.write.mode("overwrite").parquet(path)
    memo.invalidate_path(path)


def write_json_lines(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink (one object per line — the interchange format for
    LLM-pipeline corpora). Text formats lose type width (timestamps become
    ISO strings, float32 arrays become numbers); readers must re-apply a
    schema. Compresses well; still ~5-10x the parquet scan cost — use for
    export boundaries, not intermediate storage."""
    df.write.mode(mode).json(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink — columnar with predicate pushdown, for ORC-consuming
    downstream systems; parquet remains the house format."""
    df.write.mode(mode).orc(path)


def write_csv(
    df: DataFrame, path: str, sep: str = ";", header: bool = True, mode: str = "overwrite"
) -> None:
    """CSV sink matching the reference's `;`-delimited dialect
    (utils.py:31) for round-tripping with the wine toolchain."""
    df.write.mode(mode).options(sep=sep, header=str(header).lower()).csv(path)


def _one_per_key(batch: DataFrame, key: str, order_col: str | None = None) -> DataFrame:
    """The batch with one row per ``key``: max ``order_col`` wins (a recency
    column); without one, ``dropDuplicates`` keeps an arbitrary-but-
    deterministic row (reference PK semantics only require at-most-once)."""
    if order_col is None:
        return batch.dropDuplicates([key])
    by = quote_ident(order_col)
    return batch.groupBy(quote_ident(key)).agg(
        *[F.max_by(quote_ident(c), by).alias(c) for c in batch.columns if c != key]
    ).select(*map(quote_ident, batch.columns))


def _by_name(batch: DataFrame, columns: list[str]) -> DataFrame:
    """BY NAME alignment: the batch projected to the target's column order;
    a target column the batch lacks raises."""
    missing = set(columns) - set(batch.columns)
    if missing:
        raise ValueError(f"batch missing target columns: {sorted(missing)}")
    return batch.select(*map(quote_ident, columns))


def _kept(existing: DataFrame, batch: DataFrame, key: str) -> DataFrame:
    """The stored rows whose ``key`` the batch does not carry: the half of
    ``MERGE INTO`` that a rewrite keeps beside the one-row-per-key batch.
    A left anti-join ignores duplicate keys, so its build side needs no
    dedup and broadcasts straight off the raw batch scan; the batch's only
    dedup and shuffle is the one-row-per-key frame the caller unions in."""
    return existing.join(batch.select(quote_ident(key)), key, "left_anti")


def _counted(df: DataFrame, obs: Observation) -> DataFrame:
    """``df`` with its row count observed into ``obs`` as ``n``."""
    return df.observe(obs, F.count(F.lit(1)).alias("n"))


def _read_target(spark: SparkSession, path: str) -> tuple[DataFrame, int | None]:
    """The stored table at ``path`` and its row count, both from its part
    files' footers (``readers.footer_schema_rows``), so reading it infers
    no schema in a job. A footer without Spark's schema (another writer's
    file) falls back to inference; a listing with partition directories
    also returns no count."""
    schema, rows = footer_schema_rows(path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path), rows


def _partition_cols(path: str) -> list[str]:
    """The hive partition columns of the table at ``path``, outermost
    first, read off its first chain of ``name=value`` directories."""
    cols = []
    while True:
        sub = [
            n for n in sorted(os.listdir(path))
            if "=" in n and not n.startswith(".") and os.path.isdir(os.path.join(path, n))
        ]
        if not sub:
            return cols
        cols.append(sub[0].split("=", 1)[0])
        path = os.path.join(path, sub[0])


def _write_counted(df: DataFrame, path: str, partition_by: list[str] | tuple = ()) -> int:
    """Overwrite ``path`` with ``df``, hive-partitioned by ``partition_by``;
    the row count is observed by the write itself instead of re-running the
    lineage in a second job."""
    obs = Observation()
    _counted(df, obs).write.partitionBy(*partition_by).mode("overwrite").parquet(path)
    return obs.get["n"]


def insert_ignore_by_name(spark: SparkSession, batch: DataFrame, path: str, key: str = "id") -> int:
    """Idempotent keyed append: the Spark restatement of DuckDB's
    ``INSERT OR IGNORE ... BY NAME`` (etl_elt_wine.py:216).

    Three coupled behaviors, kept in one function on purpose (SURVEY.md §7
    hazard 4):
      1. rows whose ``key`` already exists in the target are skipped,
      2. columns are matched by NAME, not position (``unionByName`` contract:
         we project the batch to the target's column order by name),
      3. duplicate keys *within the batch* keep one row (``_one_per_key``).

    Returns the number of rows appended, observed by the one write. It goes
    to a sibling staging directory whose part files move into ``path`` only
    if it holds rows: a batch of old keys adds no file, a reader never sees
    a half-written one, and the next call removes a crashed call's stage.
    """
    _recover(path)
    if not os.path.exists(path):
        return _write_counted(_one_per_key(batch, key), path)

    existing, _ = _read_target(spark, path)
    new_rows = _one_per_key(_by_name(batch, existing.columns), key).join(
        existing.select(quote_ident(key)), on=key, how="left_anti"
    )
    # A multi-file append is not atomic w.r.t. concurrent readers; the reference's
    # concurrency=1 guard (etl_elt_wine.py:72,94) is the pipeline runner's lock.
    stage = f"{path}.__insert_{uuid.uuid4().hex[:8]}"
    n = _write_counted(new_rows, stage, _partition_cols(path))
    if n:
        for root, _, files in os.walk(stage):
            dest = os.path.join(path, os.path.relpath(root, stage))
            for f in files:
                if not f.lstrip(".").startswith("_"):  # part files and their .crc
                    os.makedirs(dest, exist_ok=True)
                    os.replace(os.path.join(root, f), os.path.join(dest, f))
        memo.invalidate_path(path)  # memoized listings don't see new files
    shutil.rmtree(stage)
    return n


def _recover(path: str) -> None:
    """Undo a crashed keyed write: put a table that ``upsert_by_key`` set
    aside back when ``path`` is missing, and delete every other leftover
    ``__upsert_*`` or ``__insert_*`` sibling directory."""
    parent, name = os.path.split(os.path.abspath(path))
    for n in sorted(os.listdir(parent)) if os.path.isdir(parent) else []:
        if n.startswith(f"{name}.__upsert_old_") and not os.path.exists(path):
            os.replace(os.path.join(parent, n), path)
        elif n.startswith((f"{name}.__upsert_", f"{name}.__insert_")):
            shutil.rmtree(os.path.join(parent, n))


def upsert_by_key(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    key: str = "id",
    order_col: str | None = None,
) -> tuple[int, int]:
    """Keyed upsert — ``MERGE INTO`` semantics for a parquet target:
    WHEN MATCHED the batch row replaces the stored row, WHEN NOT MATCHED it
    inserts. The ELT complement of ``insert_ignore_by_name`` (which never
    updates). Returns ``(n_updated, n_inserted)``: the stored rows replaced
    (SQL ``MERGE``'s affected-row count) and the batch keys minus those. On
    tables these sinks built, keys are unique and these are the matched and
    the new keys; on a target storing key 1 twice, a batch of keys {1, 2}
    returns ``(2, 0)``, the net growth as inserts.

    Shape: the rewrite is the stored rows whose key the raw batch lacks (a
    left anti-join, broadcast off the batch scan) unioned with the
    one-row-per-key batch, the batch's only dedup and shuffle. The write
    observes the kept rows and the batch rows above the join, and
    ``n_updated`` is the stored rows minus the kept ones. The stored count
    and the schema come from the target's footers, so the call is three
    jobs; a target whose footers lack Spark's schema is read by inference,
    and one with partition directories is also counted by a job. Counting
    the stored rows outside the plan keeps the counts right on an empty
    target, whose join adaptive execution drops with all below it.

    - Columns match by NAME (batch projected to target order; missing
      columns raise — same BY NAME contract as insert_ignore).
    - Duplicate keys WITHIN the batch resolve deterministically: max
      ``order_col`` wins (a recency column, e.g. an update timestamp);
      without one, ``dropDuplicates`` keeps one arbitrary-but-deterministic
      row.
    - Crash-safe swap: the rewrite goes to a temp dir, the old table is
      renamed aside, the temp dir renamed into place, and only then is the
      old table deleted. A crash at any step leaves the old or the new
      table; the next call restores a set-aside table whose swap did not
      finish and removes leftover ``<path>.__upsert_*`` directories.

    Scale: an unpartitioned upsert rewrites the whole table — correct but
    O(table). At 100 TB the target must be PARTITIONED so only partitions
    containing touched keys rewrite (read side prunes via the key→partition
    column; Spark's dynamic partition overwrite writes only those), or the
    table lives in a format with transactional merge (Delta/Iceberg) where
    this function's join shape maps 1:1 onto MERGE INTO.

    Concurrency: single writer, as in the reference, and NOT reader-atomic:
    between the two renames a concurrent reader can find ``path`` missing.
    Concurrent readers or writers belong on ``sources.txn.TxnTable`` — the
    same merge core behind a version log with atomic commits and retry.
    """
    _recover(path)
    one_per_key = _one_per_key(batch, key, order_col)
    if not os.path.exists(path):
        return 0, _write_counted(one_per_key, path)

    existing, stored = _read_target(spark, path)
    if stored is None:
        stored = existing.count()
    kept, added = Observation(), Observation()
    merged = _counted(_kept(existing, batch, key), kept).unionByName(
        _counted(_by_name(one_per_key, existing.columns), added)
    )

    tag = uuid.uuid4().hex[:8]
    tmp, old = f"{path}.__upsert_tmp_{tag}", f"{path}.__upsert_old_{tag}"
    merged.write.partitionBy(*_partition_cols(path)).mode("overwrite").parquet(tmp)
    os.replace(path, old)
    os.replace(tmp, path)
    shutil.rmtree(old)
    memo.invalidate_path(path)
    n_updated = stored - kept.get["n"]
    return n_updated, added.get["n"] - n_updated


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: tuple[str, ...],
    num_buckets: int = 16,
    sort_cols: tuple[str, ...] = (),
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Catalog-backed bucketed (and optionally sorted) parquet table.

    THE shuffle eliminator for repeated fact-fact joins: two tables bucketed
    (and sorted) on the same join key with the same bucket count sort-merge
    join WITHOUT any Exchange — at 100 TB that deletes the single largest
    cost of a lineitem ⋈ orders style join. Verified by
    tests/test_sinks.py::test_bucketed_join_has_no_exchange.

    ``path`` makes the table EXTERNAL at that location: DROP TABLE then
    removes only the catalog entry, never the data — the contract the
    at-rest layout (sources/layout.py) relies on to re-attach materialized
    buckets across sessions.
    """
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table_name)


def write_commit_marker(marker_dir: str, dataset: str, payload: dict | None = None) -> str:
    """Dataset-outlet equivalent (etl_elt_wine.py:195,223): a tiny JSON marker
    file whose presence means 'this sink committed'. Downstream pipelines gate
    on the AND of their input markers (etl_elt_wine_downstream.py:42)."""
    os.makedirs(marker_dir, exist_ok=True)
    path = os.path.join(marker_dir, f"{dataset}.json")
    with open(path, "w") as f:
        json.dump({"dataset": dataset, "ts": time.time(), **(payload or {})}, f)
    return path


def markers_ready(marker_dir: str, datasets: tuple[str, ...]) -> bool:
    return all(os.path.exists(os.path.join(marker_dir, f"{d}.json")) for d in datasets)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "overwrite",
    driver: str | None = None,
    batch_size: int = 10_000,
    properties: dict[str, str] | None = None,
) -> None:
    """External-DB sink (`to_sql(..., if_exists="replace")` over ADBC in the
    reference, etl_elt_wine.py:242-243 → ``mode="overwrite"`` here;
    ``mode="append"`` for incremental loads).

    Each Spark partition opens one connection and writes ``batch_size``-row
    batches — so write parallelism == partition count. Repartition down
    before calling if the target DB can't take N concurrent writers, up if
    a single writer is the bottleneck.
    """
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batch_size))
        .mode(mode)
    )
    if driver:
        writer = writer.option("driver", driver)
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.save()
