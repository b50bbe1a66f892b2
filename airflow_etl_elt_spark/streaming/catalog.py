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

Every stream runs on ONE child session per SparkContext
(:func:`stream_session`), never on the caller's: the child carries the
stream's own SQL conf (state-store partitions, UTC, ``nanosAsLong``), so a
build changes no conf another caller of the same session can see.
:func:`run_bounded` runs each stream in one ``availableNow`` pass into a
memory sink and leaves nothing behind — no checkpoint directory, no
registered memory-sink view, no listener on the context's listener bus;
the returned frame alone holds the rows. So the context gains one
streaming listener, the child's, however many stream keys are built.

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

import atexit
import functools
import glob
import hashlib
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from airflow_etl_elt_spark import memo
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


#: the stream session's own SQL conf: state-store parallelism for the
#: bounded fixtures (a production job sizes this to the cluster; it is fixed
#: at the first checkpoint) and read_table's timestamp pins — window() and
#: session_window bucket instants in session time, and the DuckDB oracle
#: computes naive/UTC boundaries.
_STREAM_CONF = {
    "spark.sql.shuffle.partitions": "8",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def _new_stream_session(spark: SparkSession) -> SparkSession:
    child = spark.newSession()
    for k, v in _STREAM_CONF.items():
        child.conf.set(k, v)
    return child


def stream_session(spark: SparkSession) -> SparkSession:
    """The child session every stream here runs on: one per SparkContext,
    memoized. A child has its own SQL conf and temp views, so nothing a
    stream sets is seen by ``spark``. It is shared, not made per build,
    because each session that starts a stream adds a listener to the
    context's listener bus that is never removed."""
    return memo.update(
        "sessions", "stream", lambda old: old or _new_stream_session(spark)
    )


def read_drops(spark: SparkSession, staged: str) -> DataFrame:
    """File-source stream over the staged drops, ONE FILE PER MICRO-BATCH —
    every downstream operator crosses real batch boundaries."""
    return (
        stream_session(spark)
        .readStream.schema(_EVENT_SCHEMA)
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
        stream_session(spark)
        .readStream.schema(_DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )


def run_bounded(stream_df: DataFrame, output_mode: str) -> DataFrame:
    """Run a streaming plan to completion with ONE ``availableNow`` pass
    into a memory sink and return the sink as a batch DataFrame.

    The pass ends with a no-data batch once the data batches are done, so
    event-time timers that the last watermark advance armed fire inside it
    (the stream-stream as-of relies on this). The checkpoint is removed,
    the sink's view dropped and the query's listener released before
    returning: the returned frame holds the sink's rows, which live exactly
    as long as it does.
    """
    spark = stream_df.sparkSession
    run_id = uuid.uuid4().hex[:12]
    name = f"sg_stream_{run_id}"
    ckpt = tempfile.mkdtemp(prefix=f"ckpt_sg_{run_id}_")
    try:
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
        _release_listener(spark, q)
        out = spark.table(name)
        spark.catalog.dropTempView(name)
        return out
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def _release_listener(spark: SparkSession, q) -> None:
    """Take a stopped query's own listener off the context's listener bus.
    Each query runs its batches on a clone of its session, and a stateful
    operator makes that clone build its StreamingQueryManager, whose
    listener bus joins the context's and is never removed: one listener
    more per stateful run, for the life of the context. Nothing else uses
    the clone once the query has stopped."""
    mgr = q._jsq.streamingQuery().sparkSessionForStream().streams()
    field = mgr.getClass().getDeclaredField("listenerBus")
    field.setAccessible(True)
    spark.sparkContext._jsc.sc().listenerBus().removeListener(field.get(mgr))


@functools.cache
def scratch_root() -> str:
    """This process's one directory for stream outputs that a returned
    frame still reads, so they cannot go when the build returns; an
    ``atexit`` hook removes it. Two first callers racing may each make
    one, and each is removed at exit."""
    root = tempfile.mkdtemp(prefix="sg_stream_out_")
    atexit.register(shutil.rmtree, root, True)
    return root
