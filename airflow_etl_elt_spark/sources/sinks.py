"""Sinks: partitioned parquet writes, replace-table, idempotent keyed append.

Reference parity:
- ``INSERT OR IGNORE INTO wine_data BY NAME SELECT *`` — skip rows whose PK
  already exists, match columns by name (reference ``dags/etl_elt_wine.py:214-217``).
  Spark has no PK, so the same contract is an anti-join against existing keys
  followed by a name-matched append (SURVEY.md §2 row 5).
- ``df.to_sql(..., if_exists="replace")`` full replace
  (reference ``dags/etl_elt_wine.py:242-243``) → ``mode("overwrite")``.
- Dataset outlets (``dags/etl_elt_wine.py:195,223``) → commit-marker files,
  consumed by plans.pipeline's dataset-trigger gate.

Scale notes: the anti-join in ``insert_ignore_by_name`` shuffles both sides on
the key. At 100 TB the "existing" side should be key-bucketed at rest so the
join co-locates without a full shuffle; here we read only the key column of
the existing table (column pruning) so the existing-side scan ships one
column, and broadcast kicks in automatically (AQE) when the batch is small.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airflow_etl_elt_spark import memo

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


def insert_ignore_by_name(
    spark: SparkSession,
    batch: DataFrame,
    path: str,
    key: str = "id",
) -> int:
    """Idempotent keyed append: the Spark restatement of DuckDB's
    ``INSERT OR IGNORE ... BY NAME`` (etl_elt_wine.py:216).

    Three coupled behaviors, kept in one function on purpose (SURVEY.md §7
    hazard 4):
      1. rows whose ``key`` already exists in the target are skipped,
      2. columns are matched by NAME, not position (``unionByName`` contract:
         we project the batch to the target's column order by name),
      3. duplicate keys *within the batch* keep one arbitrary-but-deterministic
         row (min over a total order is not needed for parity; reference PK
         semantics only require at-most-once per key).

    Returns the number of rows actually appended.
    """
    if not os.path.exists(path):
        deduped = batch.dropDuplicates([key])
        deduped.write.mode("overwrite").parquet(path)
        return deduped.count()

    existing = spark.read.parquet(path)
    # Name-matched projection (BY NAME): reorder batch cols to target order.
    missing = set(existing.columns) - set(batch.columns)
    if missing:
        raise ValueError(f"batch missing target columns: {sorted(missing)}")
    aligned = batch.select(*existing.columns)
    # Only the key column of the existing table is scanned (column pruning).
    new_rows = aligned.dropDuplicates([key]).join(
        existing.select(key), on=key, how="left_anti"
    )
    # Parquet append is not atomic w.r.t. concurrent readers; the reference's
    # Airflow concurrency=1 guard (etl_elt_wine.py:72,94) is mirrored by the
    # pipeline runner's single-run lock.
    new_rows.persist()
    try:
        n = new_rows.count()
        if n:
            new_rows.write.mode("append").parquet(path)
            memo.invalidate_path(path)  # memoized listings don't see new files
    finally:
        new_rows.unpersist()
    return n


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
    updates). Returns ``(n_updated, n_inserted)``.

    - Columns match by NAME (batch projected to target order; missing
      columns raise — same BY NAME contract as insert_ignore).
    - Duplicate keys WITHIN the batch resolve deterministically: max
      ``order_col`` wins (a recency column, e.g. an update timestamp);
      without one, ``dropDuplicates`` keeps one arbitrary-but-deterministic
      row.
    - The rewrite goes to a temp dir then swaps in (a reader never observes
      a half-written table; the swap itself mirrors insert_ignore's
      single-writer contract).

    Scale: an unpartitioned upsert rewrites the whole table — correct but
    O(table). At 100 TB the target must be PARTITIONED so only partitions
    containing touched keys rewrite (read side prunes via the key→partition
    column; Spark's dynamic partition overwrite writes only those), or the
    table lives in a format with transactional merge (Delta/Iceberg) where
    this function's join shape maps 1:1 onto MERGE INTO.

    Concurrency: this function mirrors the reference's single-writer
    contract. For CONCURRENT writers use ``sources.txn.TxnTable.merge`` —
    the same join shape behind a version log with atomic commits and
    optimistic retry (snapshot isolation for readers, lost races surface
    as ConcurrentWriteError, never as interleaving).
    """
    import shutil
    import uuid

    if order_col is not None:
        one_per_key = batch.groupBy(key).agg(
            *[F.max_by(c, order_col).alias(c) for c in batch.columns if c != key]
        ).select(*batch.columns)
    else:
        one_per_key = batch.dropDuplicates([key])

    if not os.path.exists(path):
        one_per_key.write.mode("overwrite").parquet(path)
        return 0, one_per_key.count()

    existing = spark.read.parquet(path)
    missing = set(existing.columns) - set(batch.columns)
    if missing:
        raise ValueError(f"batch missing target columns: {sorted(missing)}")
    aligned = one_per_key.select(*existing.columns)

    n_batch = aligned.count()
    n_updated = aligned.join(existing.select(key), on=key, how="left_semi").count()
    kept = existing.join(aligned.select(key), on=key, how="left_anti")
    merged = kept.unionByName(aligned)

    tmp = f"{path}.__upsert_{uuid.uuid4().hex[:8]}"
    merged.write.mode("overwrite").parquet(tmp)
    shutil.rmtree(path)
    os.replace(tmp, path)
    memo.invalidate_path(path)
    return n_updated, n_batch - n_updated


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
