"""SparkSession factory with scale-aware defaults.

The reference delegates execution to pandas/DuckDB/Postgres per Airflow task
(SURVEY.md §3); here a single SparkSession owns the whole plan so Catalyst can
optimize end-to-end. Defaults are chosen for the 100 TB design point and work
unchanged on local[N]:

- AQE on (runtime coalesce, skew-join splitting, join-strategy switch) —
  at cluster scale this is what keeps static shuffle-partition guesses from
  becoming stragglers.
- Arrow on — every pandas_udf / applyInPandas / toPandas crossing is
  Arrow-batched, never per-row pickling.
- shuffle partitions sized from the parallelism actually available
  (cluster: set spark.sql.shuffle.partitions ~2-3x total cores; AQE
  coalesces down after the fact, so erring high is safe).
- UTC session timezone so timestamp semantics match the DuckDB oracle.
- Python workers fork from ``_pydaemon`` rather than plain ``pyspark.daemon``.
  On CPython < 3.12 it stops each task's ``importlib.invalidate_caches()``
  from re-reading the directory of every unchanged zip on the worker path
  (``pyspark.zip`` most of all); on 3.12+ it changes nothing.
  Only sessions built by ``get_session`` get it: a plain SparkSession, such
  as the one the ``__spark_entry__`` driver contract hands in, keeps the
  stock daemon.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from airflow_etl_elt_spark import regime

DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Bigger Arrow batches cut per-batch framing/GIL overhead on toPandas
    # and pandas-UDF crossings (measured ~15-25% on 100k+-row window
    # results). Memory stays bounded: a batch never exceeds its source
    # partition, and partitions are capped by files.maxPartitionBytes —
    # so this raises the ceiling for wide fetches without letting a
    # payload-heavy partition turn into a giant batch.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    "spark.sql.session.timeZone": "UTC",
    # Parquet vectorized reader is on by default; keep pushdown explicit so a
    # config drift shows up in review rather than in a 100x slower scan.
    "spark.sql.parquet.filterPushdown": "true",
    # Static broadcast threshold: regime.BROADCAST_BYTES (16 MB). The static
    # estimate is file-size x column-fraction and routinely UNDERestimates
    # hash-relation memory; at 64 MB Spark happily picked a column-pruned
    # 6M-row FACT table as the build side (measured: 13x slower than the
    # shuffle join). Known-small dims are broadcast explicitly with
    # F.broadcast; AQE may still upgrade shuffle joins to broadcast at
    # runtime using ACCURATE post-shuffle sizes.
    "spark.sql.autoBroadcastJoinThreshold": str(regime.BROADCAST_BYTES),
    "spark.ui.enabled": "false",
    # Stock pyspark.daemon behind a zipimport fix (module docstring).
    "spark.python.daemon.module": "airflow_etl_elt_spark._pydaemon",
    # Stage-progress bars write \r-animated lines to the console; anything
    # capturing stdout/stderr tails (the bench driver keeps only the last
    # ~2000 chars) gets its window flooded by them. Nothing here is
    # interactive, so turn them off globally.
    "spark.ui.showConsoleProgress": "false",
    # Don't hold task slots waiting for data-local executors: on local mode
    # locality is meaningless, and on a cluster reading remote object storage
    # (the 100 TB deployment shape) every read is non-local anyway.
    "spark.locality.wait": "0s",
    # Generated-class cache (STATIC conf; Janino-compiled whole-stage /
    # expression classes, keyed by generated source text). The stock 100
    # entries thrash under a multi-query service: ~20 distinct queries
    # generate >100 classes per round, so every revisit re-pays several
    # hundred ms of Janino compilation — measured at the 100x replica as
    # tpch_q3 0.74 s dedicated vs 2.5-2.9 s interleaved, restored to
    # 0.63-0.88 s by this one setting with every GC/allocator mitigation
    # having failed (SCALING.md "Round-10 addendum").
    # 5000 entries ~ a few hundred MB of class metadata at worst, nothing
    # next to the 24g driver heap; a real cluster's long-lived executors
    # want exactly the same headroom.
    "spark.sql.codegen.cache.maxEntries": "5000",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"),
    # Catalog warehouse for bucketed/saveAsTable tables; keep it out of the
    # repo working tree (default would be ./spark-warehouse in cwd).
    "spark.sql.warehouse.dir": os.environ.get(
        "SPARK_GRAFT_WAREHOUSE", "/tmp/spark-graft-warehouse"
    ),
}


def _default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_session(
    app_name: str = "airflow-etl-elt-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the shared SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` for single-node runs;
    on a real cluster pass ``master=None`` with a pre-configured environment
    (spark-submit sets the master) — the conf defaults still apply.
    """
    # Python WORKERS resolve imports from PYTHONPATH + cwd, not the driver's
    # sys.path — a pandas UDF referencing this package would raise
    # ModuleNotFoundError whenever the process was launched from outside the
    # repo root (observed running bench.py from /tmp). Pin the package root
    # into the env BEFORE the JVM forks its first worker.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + pp if pp else "")
        )

    cpus = _default_parallelism()
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{cpus}]")
    conf = dict(DEFAULT_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or max(cpus, 8))
    conf.update(extra_conf or {})
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
