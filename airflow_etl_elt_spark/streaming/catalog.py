"""Driver-visible streaming catalog keys: each runs a REAL Structured
Streaming query (file-source micro-batches -> stateful/windowed operator ->
memory sink) bounded by ``trigger(availableNow=True)``, then returns the
sink contents as a batch DataFrame — so the driver's DuckDB oracle can
hash-check STREAMING execution exactly like any batch key.

Why this is more than a re-run of the batch plan: the input is staged as
N time-ordered parquet drops consumed one file per micro-batch, so every
operator here crosses real micro-batch boundaries with real checkpointed
state — per-key recursion state (EWMA), open SCD2 intervals, watermark-
gated reorder buffers (stream-stream as-of), session-window merges, and
watermark-scoped dedup state all survive between batches and are exercised
by the oracle comparison.

Reference scope: the reference's only stream-shaped feature is dataset-
driven triggering (dags/etl_elt_wine.py:214-217 — SURVEY.md §2.9); this
module is north-star surface built on the public Structured Streaming API.

Scale notes: the staging step (sort + ntile split) is test harness, not
the operator; at 100 TB the same queries read a real drop directory. The
streaming plans themselves carry the operators' own scale posture — state
bounded by watermarks/timeouts, shuffle = state-store partitioning on the
group key.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from airflow_etl_elt_spark.operators.relational import surrogate_key
from airflow_etl_elt_spark.sources.readers import read_table

# bump to invalidate previously staged drop directories after a layout change
_STAGE_VERSION = "v1"
_STAGE_ROOT = os.path.join(tempfile.gettempdir(), "spark_graft_stream_stage")

_EVENT_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


def source_identity(sf_dir: str, src_table: str) -> str:
    """SOURCE FILE identity string (path + size + mtime of every file under
    the table's parquet) for /tmp cache keying — shared by the drop stagers
    here and the minhash index cache (queries._minhash_index_dir): the
    driver regenerates fixtures between rounds, and a path-keyed cache
    surviving in /tmp would silently serve last round's rows against this
    round's oracle. ONE implementation so a future identity-scheme fix
    invalidates every derived cache at once (r6 review)."""
    src = os.path.join(os.path.abspath(sf_dir), f"{src_table}.parquet")
    ident = [src]
    if os.path.isfile(src):
        st = os.stat(src)
        ident.append(f"{st.st_size}:{st.st_mtime_ns}")
    elif os.path.isdir(src):
        for f in sorted(glob.glob(os.path.join(src, "*"))):
            st = os.stat(f)
            ident.append(f"{os.path.basename(f)}:{st.st_size}:{st.st_mtime_ns}")
    return "|".join(ident)


def _stage_dir(sf_dir: str, variant: str, src_table: str = "events") -> str:
    key = hashlib.md5(
        f"{_STAGE_VERSION}|{source_identity(sf_dir, src_table)}|{variant}".encode()
    ).hexdigest()[:16]
    return os.path.join(_STAGE_ROOT, key)


def _ntile(df: DataFrame, n: int, order_by: list[str]) -> DataFrame:
    """``df`` with ``__drop = ntile(n) OVER (ORDER BY order_by)``, without
    the single-task global window: ntile's bucket formula (the first
    ``rows % n`` buckets hold one row more) over the dense global row number
    that ``surrogate_key`` builds from range partitions and per-partition
    counts. The stagers collect the result at once; its persisted frame
    then takes one of the two live slots of ``surrogate_key``'s persist
    rotation until later calls rotate it out."""
    q, r = divmod(df.count(), n)
    i = F.col("__drop") - 1  # 0-based global position
    big = r * (q + 1)  # rows in the first r buckets
    bucket = F.when(i < big, F.floor(i / (q + 1))).otherwise(r + F.floor((i - big) / max(q, 1)))
    return surrogate_key(df, order_by, "__drop").withColumn("__drop", (bucket + 1).cast("int"))


def _publish_staged(out: str, write_files) -> str:
    """Shared atomic-publish protocol for every drop stager: write into a
    tmp-suffixed sibling via ``write_files(tmp) -> n_files``, stamp
    _SUCCESS, os.rename into place. The loser of a concurrent-publish race
    discards its copy; a rename failure with NO published winner (e.g.
    EXDEV from a cross-device /tmp) re-raises instead of silently
    returning a nonexistent directory (r6 review)."""
    tmp = out + f".tmp-{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp, exist_ok=True)
    n_files = write_files(tmp)
    with open(os.path.join(tmp, "_SUCCESS"), "w") as fh:
        fh.write(f"{n_files}\n")
    os.makedirs(_STAGE_ROOT, exist_ok=True)
    try:
        os.rename(tmp, out)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(os.path.join(out, "_SUCCESS")):
            raise
    return out


def stage_event_drops(
    spark: SparkSession,
    sf_dir: str,
    n_drops: int = 4,
    variant: str = "clean",
) -> str:
    """Split the events table into ``n_drops`` time-ordered parquet files —
    the at-rest shape of a stream's landing directory — and return the
    directory. Deterministic (global (ts, event_id) order, ntile ranges)
    and cached on disk across calls/sessions via a _SUCCESS marker.

    Variants:
      - ``clean``: the events rows, verbatim.
      - ``dups``: every (event_id % 10 == 0) row appears twice in its own
        drop AND rows on each drop boundary are repeated at the head of the
        next drop — same-batch and cross-batch duplicate arrivals for the
        streaming dedup key.
      - ``asof``: clean drops plus a final sentinel drop (user_id = -1, one
        'click' + one 'purchase' row far past max(ts)) that advances BOTH
        sides' watermarks so every buffered left row ripens.
    """
    out = _stage_dir(sf_dir, f"{variant}|{n_drops}")
    marker = os.path.join(out, "_SUCCESS")
    if os.path.exists(marker):
        return out

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    # rows with null ts cannot be ordered into drops; put them in drop 1
    # (they are either filtered by the operator under test or time-agnostic)
    ev = _ntile(ev, n_drops, ["ts", "event_id"])
    ev = ev.withColumn("__drop", F.when(F.col("ts").isNull(), F.lit(1)).otherwise(F.col("__drop")))

    if variant == "dups":
        dups = ev.filter(F.col("event_id") % 10 == 0)  # same-drop duplicates
        boundary = Window.partitionBy("__drop").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        cross = (  # last row of each drop re-arrives at the head of the next
            ev.withColumn("__rn", F.row_number().over(boundary))
            .filter((F.col("__rn") == 1) & (F.col("__drop") < n_drops))
            .drop("__rn")
            .withColumn("__drop", F.col("__drop") + 1)
        )
        ev = ev.unionByName(dups).unionByName(cross)

    pdf_all = ev.orderBy("__drop", "ts", "event_id").toPandas()
    max_ts = pdf_all["ts"].max()

    import pyarrow as pa
    import pyarrow.parquet as pq

    def _write(tmp: str) -> int:
        n_files = 0
        for k in range(1, n_drops + 1):
            part = pdf_all[pdf_all["__drop"] == k].drop(columns="__drop")
            if not len(part):
                continue
            path = os.path.join(tmp, f"drop_{k:03d}.parquet")
            pq.write_table(
                pa.Table.from_pandas(part, preserve_index=False),
                path,
                coerce_timestamps="us",
                allow_truncated_timestamps=True,
            )
            n_files += 1
            os.utime(path, (1_000_000 + k, 1_000_000 + k))  # file-source order

        if variant == "asof":
            import pandas as pd

            sentinel_ts = (max_ts or pd.Timestamp("2000-01-01")) + pd.Timedelta(
                days=30
            )
            sent = pd.DataFrame(
                {
                    "event_id": [-1, -2],
                    "ts": [sentinel_ts, sentinel_ts],
                    "user_id": [-1, -1],
                    "event_type": ["click", "purchase"],
                    "value": [0.0, 0.0],
                    "props": [None, None],
                }
            )
            path = os.path.join(tmp, f"drop_{n_drops + 1:03d}.parquet")
            pq.write_table(
                pa.Table.from_pandas(sent, preserve_index=False),
                path,
                coerce_timestamps="us",
                allow_truncated_timestamps=True,
            )
            n_files += 1
            os.utime(path, (1_000_000 + n_drops + 1,) * 2)
        return n_files

    return _publish_staged(out, _write)


def read_drops(spark: SparkSession, staged: str) -> DataFrame:
    """File-source stream over the staged drops, ONE FILE PER MICRO-BATCH —
    every downstream operator crosses real batch boundaries."""
    # Session TZ pin, same contract as read_table: window()/session_window
    # bucket instants in SESSION time, and on a staging cache hit nothing
    # else has pinned a non-UTC caller session yet (read_table only runs on
    # a cache miss) — the oracle computes naive/UTC boundaries.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return (
        spark.readStream.schema(_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )


_DOC_SCHEMA = "doc_id bigint, text string"


def stage_document_drops(spark: SparkSession, sf_dir: str, n_drops: int = 4) -> str:
    """Split the INCREMENT documents (doc_id % 10 == 0 — the same split the
    batch ``dedup_incremental`` key carves) into ``n_drops`` doc_id-ordered
    parquet files: the landing directory of a corpus-ingest stream.
    Deterministic (global doc_id order, ntile ranges), identity-keyed and
    cached on disk like the event drops."""
    out = _stage_dir(sf_dir, f"docs|{n_drops}", src_table="documents")
    marker = os.path.join(out, "_SUCCESS")
    if os.path.exists(marker):
        return out

    docs = (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 == 0)
        .select("doc_id", "text")
    )
    docs = _ntile(docs, n_drops, ["doc_id"])

    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf_all = docs.orderBy("__drop", "doc_id").toPandas()

    def _write(tmp: str) -> int:
        n_files = 0
        for k in range(1, n_drops + 1):
            part = pdf_all[pdf_all["__drop"] == k].drop(columns="__drop")
            if not len(part):
                continue
            path = os.path.join(tmp, f"drop_{k:03d}.parquet")
            # explicit schema: a drop whose texts are ALL null would
            # otherwise let pyarrow infer a non-string type and break the
            # stream reader
            pq.write_table(
                pa.Table.from_pandas(
                    part,
                    schema=pa.schema(
                        [("doc_id", pa.int64()), ("text", pa.string())]
                    ),
                    preserve_index=False,
                ),
                path,
            )
            n_files += 1
            os.utime(path, (1_000_000 + k, 1_000_000 + k))  # file-source order
        return n_files

    return _publish_staged(out, _write)


def read_doc_drops(spark: SparkSession, staged: str) -> DataFrame:
    """File-source stream over staged document drops, one file per
    micro-batch — each trigger delivers one corpus increment."""
    return (
        spark.readStream.schema(_DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )


def run_bounded(
    stream_df: DataFrame,
    output_mode: str,
    passes: int = 1,
) -> DataFrame:
    """Run a streaming plan to completion with ``availableNow`` into a
    memory sink and return the sink as a batch DataFrame.

    ``passes=2`` restarts once from the same checkpoint: event-time timers
    ripened by the LAST data batch's watermark advance fire on the restart's
    no-data batch (the sentinel pattern the stream-stream as-of needs).
    Each pass sinks to its OWN memory table — a restarted memory sink
    starts empty, so accumulating across restarts means unioning the
    per-pass tables (exactly-once across passes is the checkpoint's job:
    state already advanced past pass 1's emissions, so pass 2 appends only
    the timer-flushed remainder). State-store parallelism is pinned to 8
    for the run (bounded fixtures; a production job sizes this to the
    cluster) and the caller's setting is restored after.
    """
    spark = stream_df.sparkSession
    run_id = uuid.uuid4().hex[:12]
    ckpt = tempfile.mkdtemp(prefix=f"ckpt_sg_{run_id}_")
    try:
        old = spark.conf.get("spark.sql.shuffle.partitions")
    except Exception:
        old = None
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        if passes == 1:
            name = f"sg_stream_{run_id}"
            q = (
                stream_df.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            q.stop()
            return spark.table(name)
        # multi-pass: the memory sink cannot recover from a checkpoint, so
        # accumulate through an idempotent foreachBatch parquet sink
        # (overwrite-own-batch-directory — the stream_asof_enrich recipe);
        # a replayed batch rewrites identical content
        out_dir = tempfile.mkdtemp(prefix=f"sink_sg_{run_id}_")
        schema = stream_df.schema

        def _sink(batch_df: DataFrame, batch_id: int) -> None:
            batch_df.write.mode("overwrite").parquet(
                os.path.join(out_dir, f"batch_id={batch_id}")
            )

        for _ in range(passes):
            q = (
                stream_df.writeStream.foreachBatch(_sink)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            q.stop()
        if not glob.glob(os.path.join(out_dir, "batch_id=*")):
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(
            os.path.join(out_dir, "batch_id=*")
        )
    finally:
        if old is not None:
            spark.conf.set("spark.sql.shuffle.partitions", old)
