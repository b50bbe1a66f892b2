"""Structured Streaming flavors of the batch event-time operators.

The reference's only streaming-shaped feature is dataset-driven triggering
(SURVEY.md §2.9); the north star asks for real stream processing. Design:
the BATCH transformation functions (operators/timeseries.py) are reused
verbatim on a streaming DataFrame — one definition, two execution modes —
plus the streaming-only concerns layered here:

- watermarks for late-data bounds and state eviction,
- ``trigger(availableNow=True)`` for the dataset-trigger/catch-up pattern
  (process everything that has arrived, then stop — the streaming twin of
  the reference's dataset-AND trigger),
- ``session_window`` as the streaming twin of batch gaps-and-islands
  sessionization.

Scale notes: stateful aggs keep per-(window × key) state in the state store;
the watermark bounds that state. Shuffle partitions = state-store partitions
for a streaming query — size it up front (it is fixed at first checkpoint).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airflow_etl_elt_spark.operators.timeseries import hourly_agg


def read_events_stream(
    spark: SparkSession,
    source_dir: str,
    schema: str = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string",
) -> DataFrame:
    """File-source stream over a directory of parquet drops (new files are
    discovered per micro-batch — the streaming equivalent of 'dataset
    updated' outlets)."""
    return spark.readStream.schema(schema).parquet(source_dir)


def hourly_agg_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """The SAME hourly_agg plan, made streaming-legal by a watermark.

    Late events beyond ``watermark`` are dropped and window state older than
    it is evicted (append mode). The plan keeps hourly_agg's global sort,
    which is streaming-legal only in complete output mode — run_available_now
    picks complete for aggregating plans; for production append-mode sinks,
    drop the sort (downstream readers order on read).
    """
    return hourly_agg(events.withWatermark("ts", watermark))


def sessionize_stream(
    events: DataFrame, gap_minutes: int = 30, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming sessionization via the built-in ``session_window`` (dynamic
    gap windows merged by the state store) — the streaming twin of
    operators/timeseries.sessionize's gaps-and-islands form."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", f"{gap_minutes} minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def enrich_stream(events: DataFrame, users: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Stream-static join: enrich the event stream with a dimension table.

    The static side is re-planned per micro-batch (a refreshed dim view is
    picked up automatically) and broadcast when under the threshold — no
    stream-side state is needed for a stream-static INNER join, so this
    composes with downstream stateful aggs. At 100 TB-of-stream scale the
    dim stays a broadcast; if the dim itself is huge, pre-bucket it on the
    join key.
    """
    return (
        events.withWatermark("ts", watermark)
        .join(F.broadcast(users), events.user_id == users.u_user_id)
        .select("event_id", "ts", "user_id", "event_type", "value", "u_segment")
    )


def stream_insert_ignore(
    stream_df: DataFrame,
    path: str,
    key_col: str,
    checkpoint_dir: str,
) -> None:
    """Exactly-once-per-key streaming ingestion: foreachBatch + the keyed
    idempotent append (INSERT OR IGNORE semantics, sinks.insert_ignore_by_name).

    Two dedup layers compose here: the checkpoint makes each micro-batch
    processed once (at-least-once delivery into foreachBatch on retry), and
    the keyed anti-join inside the batch writer makes REPLAYED batches and
    cross-batch duplicate keys both no-ops — so the sink is idempotent end
    to end, the streaming twin of the reference's INSERT OR IGNORE load
    (etl_elt_wine.py:214-217). Runs availableNow: process all pending input,
    then stop (the dataset-trigger catch-up pattern).
    """
    from airflow_etl_elt_spark.sources.sinks import insert_ignore_by_name

    def write_batch(batch_df: DataFrame, _batch_id: int) -> None:
        insert_ignore_by_name(batch_df.sparkSession, batch_df, path, key=key_col)

    _run_foreach_batch(stream_df, write_batch, checkpoint_dir)


def stream_merge_txn(
    stream_df: DataFrame,
    table,
    key_col: str,
    checkpoint_dir: str,
    order_col: str | None = None,
) -> None:
    """Streaming MERGE INTO a transaction-log table: foreachBatch +
    ``sources.txn.TxnTable.merge``.

    The upsert twin of ``stream_insert_ignore`` — matched keys UPDATE
    instead of no-op. Each micro-batch lands as one atomic table version
    (readers never see a torn batch); a replayed batch after a checkpoint
    retry re-merges the same rows, which is a no-op by value — so the sink
    is effectively-once even though foreachBatch is at-least-once. A
    concurrent batch writer on the same table loses its race cleanly and
    retries inside ``merge`` (optimistic concurrency), which is exactly the
    protection the plain-parquet ``upsert_by_key`` cannot offer.
    """

    def write_batch(batch_df: DataFrame, _batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        table.merge(batch_df.sparkSession, batch_df, key=key_col, order_col=order_col)

    _run_foreach_batch(stream_df, write_batch, checkpoint_dir)


def run_available_now(stream_df: DataFrame, checkpoint_dir: str, query_name: str) -> list:
    """Execute a streaming plan over everything currently available, collect
    the result from a memory sink, and stop — the catch-up/trigger pattern
    used by tests and by dataset-triggered downstream pipelines."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete" if _has_agg(stream_df) else "append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = stream_df.sparkSession.sql(f"SELECT * FROM {query_name}").collect()
    q.stop()
    return rows


def _has_agg(df: DataFrame) -> bool:
    return "Aggregate" in df._jdf.queryExecution().logical().toString()


def stream_asof_enrich(
    stream_df: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_values: "list[str]",
    out_path: str,
    checkpoint_dir: str,
) -> None:
    """Streaming as-of enrichment against a STATIC right side — the
    foreachBatch twin of ``operators.asof.asof_join`` (VERDICT r4
    next-step 7).

    Each micro-batch of left rows runs the unchanged batch as-of plan
    against the (re-planned per batch, so refreshable) static frame.
    Because every left row matches independently against the static right,
    the result is EXACTLY the batch join's regardless of how the stream is
    micro-batched — asserted in the parity test. A stream-STREAM as-of
    (both sides moving) is deliberately not offered: "latest right before
    each left" needs per-key ordering that Spark's watermarked interval
    joins cannot guarantee without a reorder buffer; the honest shapes are
    this stream-static form or an upstream sessionized materialization.

    Effectively-once: foreachBatch delivers at-least-once on retry, so
    each batch OVERWRITES its own ``batch_id=<n>`` partition directory
    instead of appending — a replayed batch rewrites identical content
    (the standard idempotent-foreachBatch recipe; the sibling sinks get
    the same property from keyed anti-joins / value-level MERGE).
    """
    from airflow_etl_elt_spark.operators.asof import asof_join

    _write_batch_dirs(
        stream_df,
        lambda batch_df: asof_join(
            batch_df, right, on=on, left_ts=left_ts, right_ts=right_ts,
            right_values=right_values, strict=False,
        ),
        out_path,
        checkpoint_dir,
    )


def stream_incremental_dedup(
    stream_docs: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint_dir: str,
    threshold: float = 0.4,
) -> None:
    """Continuous-ingest near-dup dedup: each micro-batch of newly landed
    documents is checked against the PERSISTED corpus signature index —
    the streaming twin of ``dedup.minhash_incremental_pairs`` and the shape
    a 100 TB corpus actually runs (the index is static within the run,
    refreshed out-of-band by appending accepted increments; each arriving
    increment pays only its own signature UDF plus map-side passes over
    the index).

    Every pair depends only on (one new doc, the static index), so
    micro-batch boundaries CANNOT change the result: the accumulated
    output equals the one-shot batch operator's exactly, which is why the
    catalog key shares ``dedup_incremental``'s SQL oracle. The increment
    side is explicitly broadcast (micro-batch frames carry no Catalyst
    statistics but are bounded by the trigger size by construction).

    Effectively-once: same overwrite-own-batch-directory recipe as
    ``stream_asof_enrich`` above — a replayed batch rewrites identical
    content."""
    from airflow_etl_elt_spark.operators.dedup import minhash_incremental_pairs

    _write_batch_dirs(
        stream_docs,
        lambda batch_df: minhash_incremental_pairs(
            batch_df.sparkSession,
            index_path,
            batch_df,
            threshold=threshold,
            broadcast_increment=True,
        ),
        out_path,
        checkpoint_dir,
    )


def _run_foreach_batch(stream_df: DataFrame, write_batch, checkpoint_dir: str) -> None:
    """Run ``write_batch(batch_df, batch_id)`` on every micro-batch of
    everything available now, then stop."""
    (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def _write_batch_dirs(stream_df: DataFrame, transform, out_path: str, checkpoint_dir: str) -> None:
    """foreachBatch sink that writes ``transform(batch_df)`` OVERWRITING its
    own ``<out_path>/batch_id=<n>`` directory: a batch replayed after a
    retry rewrites identical content instead of appending a second copy."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        transform(batch_df).write.mode("overwrite").parquet(
            os.path.join(out_path, f"batch_id={batch_id}")
        )

    _run_foreach_batch(stream_df, write_batch, checkpoint_dir)
