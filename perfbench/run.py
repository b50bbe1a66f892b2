#!/usr/bin/env python3
"""Repository benchmark: one closed-loop client drives the engine's public
functions on a seeded workload and prints every metric by name and unit.

    python3 perfbench/run.py --workload sql_adhoc --seed 1 --seconds 10 --trace 0

Workloads (``BENCHMARK.json`` gives the reasons; ``perfbench/metrics.json``
says which layer metric should move which end-to-end metric):

- ``sql_adhoc``: catalog queries in one-shot mode (``SPARK_GRAFT_PLAN_CACHE=0``):
  every op pays the builder, planning, codegen, execution and the fetch.
- ``etl_load``: keyed writes and transaction-log reads beside prepared
  (plan-cached) catalog queries, with default settings.

An op is one catalog query built and fetched into the Spark driver as pandas, or one
keyed write or read call returning. Ops run in rounds; each round runs every
op of the workload once, in a seed-chosen order. After one untimed warm-up
round (part of set-up), a run times ``--seconds / ROUND_S`` whole rounds, so
every run of a workload times the same ops. Every result is checked, untimed:
catalog results against DuckDB running ``ORACLE_SQL`` over the same files,
writes against the generator's expected counts and digests.

Each op is timed in wall seconds and in CPU seconds of the Spark driver process,
the JVM and the Python workers (from /proc). The declared figures are CPU
seconds, which time the host steals from its virtual CPUs does not inflate;
wall-time throughput and latencies are printed beside them.

``--trace 1`` makes a separate traced run: spans around each call into the
program (kept in memory, written to ``.perfbench_out/`` at exit), per-layer
metrics derived from them, plus one pass over the pipeline layers
(``plans.corpus``, ``plans.wine`` with ``ml``) that the timed loops leave out.

Each run works in a fresh directory under ``.perfbench_runs/`` (warehouse,
layout cache, ``TMPDIR``, Spark local dirs, cwd), removed at exit. The
generated catalog tables and their oracle digests, which do not depend on
``--seed``, are kept under ``.perfbench_cache/`` for the next run. The last
line of standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import contextlib
import datetime as dt
import glob
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

SCALE = 0.02  # lineitem 120k rows, orders 30k, events 20k, documents 1k
KEYS = [
    "tpch_q1", "grouped_stats",  # operators.aggregates
    "tpch_q3",                   # operators.joins
    "window_ranks",              # operators.windows
    "sessionize",                # operators.timeseries
    "dedup_minhash",             # operators.dedup
    "knn_cosine",                # operators.similarity
    "lang_id",                   # operators.text
]
MODULES = ("aggregates", "joins", "windows", "timeseries", "dedup", "similarity", "text")
WORKLOADS = ("sql_adhoc", "etl_load")
# seconds of --seconds per timed round: a run times
# max(1, round(seconds / ROUND_S)) whole rounds (two at 10 s)
ROUND_S = 5.0
ETL_STEPS = ("insert_ignore", "upsert", "txn_append", "txn_merge", "txn_read", "txn_aggregate")
COMPACT_EVERY = 2  # txn_append commits between compactions
WINE_NOW = dt.datetime(2026, 8, 12)  # a Wednesday: branch selects the ML steps
DRIVER_MEM = "2g"
# sha256 of the sorted doc ids plans.corpus keeps, per catalog scale: the
# data seed is fixed, so the survivors are too
CORPUS_SURVIVORS = {
    0.02: "9398255e38e5ae57f7dcf995d72a494e8c2cefeb2e89370e9ed69fa30925834a",
    0.001: "ecf8e876f0ddbbe888ce3bf090226d2299f71eaed808bac0a40a5a489ea75457",
}
# printed beside the declared metrics of BENCHMARK.json
UNDECLARED_UNITS = {"setup_wall_s": "s", "ops_per_s": "1/s", "op_p50_s": "s", "op_p90_s": "s"}


def dir_files(path: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


class Bench:
    def __init__(self, args, run_dir: str) -> None:
        from spans import NullTracer, Tracer

        self.args = args
        self.run_dir = run_dir
        self.sf = os.path.join(run_dir, "data")
        self.tracer = Tracer() if args.trace else NullTracer()
        self.rng = random.Random(args.seed)
        self.ops: list[dict] = []  # every op run: name, seconds, ok, timed
        self.failures: list[str] = []
        self.layer: dict[str, list] = {}  # per-layer raw observations
        self.spark = None
        self.mem = None
        self.prev_df: dict = {}  # key -> DataFrame its builder returned last
        self.phases: dict[str, float] = {}  # wall time of each phase, for the log
        self.orders: list[list[str]] = []  # op names of every round, in run order
        self.pid = os.getpid()  # root of the process tree whose CPU is counted
        self.untimed_s = 0.0  # checks, readings and batch writes between ops

    # ---- bookkeeping -------------------------------------------------------

    def note(self, name: str, value) -> None:
        self.layer.setdefault(name, []).append(value)

    @contextlib.contextmanager
    def aside(self):
        """Instrumentation inside an op (directory walks, job counts, result
        sizes): its wall time is taken out of the op's latency."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.aside_s += time.perf_counter() - t0

    def run_op(self, name: str, fn, check, timed: bool) -> None:
        """Time ``fn`` (the op) in wall and CPU seconds, then sample memory
        and check the result; the readings and the check are untimed and
        their time is kept in ``untimed_s``. An exception or a wrong result
        counts as failed."""
        from spans import jvm_threads, thread_cpu_delta, tree_cpu_s

        self.tracer.op_id = len(self.ops)
        u0 = time.perf_counter()
        # JVM threads before and after the process tree, so that reading
        # them costs the op no CPU
        threads0 = jvm_threads(self.mem.jvm_pid)
        cpu0 = tree_cpu_s(self.pid)
        self.aside_s = 0.0
        t0 = time.perf_counter()
        self.untimed_s += t0 - u0
        error = None
        try:
            with self.tracer.span("op", key=name):
                result = fn()
        except Exception as exc:  # an op failure is a measured outcome
            error = exc
        t1 = time.perf_counter()
        cpu1 = tree_cpu_s(self.pid)
        threads1 = jvm_threads(self.mem.jvm_pid)
        try:
            if error is not None:
                raise error
            self.mem.sample()
            ok, why = check(result)
        except Exception as exc:
            ok, why = False, f"{type(exc).__name__}: {exc}"
        self.untimed_s += time.perf_counter() - t1 + self.aside_s
        if not ok:
            self.failures.append(f"{name}: {why}")
        self.ops.append({"name": name, "s": t1 - t0 - self.aside_s, "cpu": cpu1 - cpu0,
                         "threads": thread_cpu_delta(threads0, threads1), "ok": ok,
                         "timed": timed})
        self.tracer.op_id = None

    # ---- set-up ------------------------------------------------------------

    def prepare_inputs(self) -> None:
        """Untimed: the catalog tables and their oracle digests, wine CSV,
        first ETL batches. Tables and digests are made in a child process once
        per scale and version of the program and the generator, kept under
        ``.perfbench_cache/`` and hard-linked into the run directory."""
        import gen

        h = hashlib.sha256(repr((self.args.scale, KEYS)).encode())
        sources = [os.path.join(HERE, f) for f in ("gen.py", "oracle.py", "prepare.py")]
        sources += sorted(glob.glob(os.path.join(ROOT, "airflow_etl_elt_spark", "**", "*.py"),
                                    recursive=True))
        for path in sources:
            with open(path, "rb") as fh:
                h.update(path[len(ROOT):].encode() + fh.read())
        cache = os.path.join(ROOT, ".perfbench_cache", h.hexdigest()[:16])
        if not os.path.isdir(cache):
            tmp = f"{cache}.{os.getpid()}"
            subprocess.run(
                [sys.executable, os.path.join(HERE, "prepare.py"), os.path.join(tmp, "data"),
                 str(self.args.scale), ",".join(KEYS), str(os.cpu_count() or 1),
                 os.path.join(tmp, "expected.json")],
                check=True, cwd=self.run_dir,
            )
            os.rename(tmp, cache)
        shutil.copytree(os.path.join(cache, "data"), self.sf, copy_function=os.link)
        with open(os.path.join(cache, "expected.json")) as fh:
            prepared = json.load(fh)
        self.expected = prepared["digests"]
        self.oracle_digest = hashlib.sha256(
            json.dumps(sorted(self.expected.items())).encode()).hexdigest()
        self.phases.update(gen_s=prepared["gen_s"], oracle_s=prepared["oracle_s"])
        if self.args.corrupt_digest:
            self.expected[self.args.corrupt_digest] = "0" * 64
        self.wine_csv = os.path.join(self.run_dir, "wine.csv")
        self.wine_expected = gen.write_wine_csv(self.wine_csv, self.args.seed)
        self.batches = gen.EtlBatches(os.path.join(self.run_dir, "batches"), self.args.seed)

    def start(self) -> None:
        from pyspark import SparkContext
        from spans import MemorySampler

        with self.tracer.span("session.get_session"):
            t0 = time.perf_counter()
            from airflow_etl_elt_spark.session import get_session

            self.spark = get_session(app_name=f"perfbench-{self.args.workload}")
            self.start_s = time.perf_counter() - t0
        proc = getattr(SparkContext._gateway, "proc", None)
        self.mem = MemorySampler(proc.pid if proc else None)

    def stop(self) -> None:
        """Stop Spark, then the JVM, and wait until both have ended."""
        from pyspark import SparkContext
        from spans import descendants

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        leftovers = descendants(proc.pid) if proc else []
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.time() + 30
        for pid in leftovers:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                os.kill(pid, 9)
        SparkContext._gateway = None
        SparkContext._jvm = None

    # ---- traced-run instrumentation --------------------------------------

    def key_modules(self, key: str) -> list[str]:
        """The operator modules a catalog key's builder calls, read from its
        source (the builder may not run at all when its plan is prepared)."""
        import inspect
        import re

        from airflow_etl_elt_spark.queries import QUERIES

        fn = QUERIES[key]
        src = inspect.getsource(getattr(fn, "__wrapped__", fn))
        return sorted(set(re.findall(r"\b(" + "|".join(MODULES) + r")\.\w+\(", src))) or ["other"]

    def _jobs(self, group: str) -> tuple[int, int, int]:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else []:
                stages += 1
                si = st.getStageInfo(s)
                tasks += si.numTasks if si else 0
        return len(jobs), stages, tasks

    # ---- catalog ops ---------------------------------------------------------

    def query(self, key: str, timed: bool):
        """Build and fetch one catalog key. On the traced run, the timed
        loop's ops also record build time, jobs launched inside the builder,
        plan reuse, jobs/stages/tasks of the fetch, result size and the
        fetch time per operator module the builder calls."""
        from airflow_etl_elt_spark.queries import QUERIES

        op = self.tracer.op_id
        sc = self.spark.sparkContext
        traced = self.args.trace
        with self.tracer.span("queries.build", key=key) as b:
            if traced:
                sc.setJobGroup(f"build-{op}", key)
            df = QUERIES[key](self.spark, self.sf)
        with self.tracer.span("dataframe.toPandas", key=key) as f:
            if traced:
                sc.setJobGroup(f"exec-{op}", key)
            pdf = df.toPandas()
        reused = self.prev_df.get(key) is df
        self.prev_df[key] = df
        if traced and timed:
            with self.aside():
                self.note("build_s", b["end"] - b["start"])
                self.note("build_jobs", self._jobs(f"build-{op}")[0])
                self.note("plan_reuse", reused)
                jobs, stages, tasks = self._jobs(f"exec-{op}")
                self.note("jobs", jobs)
                self.note("stages", stages)
                self.note("tasks", tasks)
                self.note("rows", len(pdf))
                self.note("mb", pdf.memory_usage(deep=True).sum() / 2**20)
                mods = self.key_modules(key)
                for m in mods:
                    self.note(f"busy.{m}", (f["end"] - f["start"]) / len(mods))
        return pdf

    def query_op(self, key: str, timed: bool) -> None:
        import oracle

        def check(pdf):
            got = oracle.pandas_digest(pdf)
            return got == self.expected[key], f"digest {got[:12]} != {self.expected[key][:12]}"

        self.run_op(key, lambda: self.query(key, timed), check, timed)

    # ---- keyed writes and transaction-log reads ------------------------------

    def etl_init(self) -> None:
        """Initial table loads: the keyed sink tables and two transaction-log
        tables (append-only and merge-keyed) from the base batch."""
        from airflow_etl_elt_spark.sources import sinks
        from airflow_etl_elt_spark.sources.txn import TxnTable

        w = os.path.join(self.run_dir, "warehouse")
        self.ignore_path = os.path.join(w, "events_ignore")
        self.upsert_path = os.path.join(w, "events_upsert")
        self.txn_append = TxnTable(os.path.join(w, "events_log"))
        self.txn_merge = TxnTable(os.path.join(w, "events_keyed"))
        base = self.spark.read.parquet(self.batches.base_path)
        sinks.insert_ignore_by_name(self.spark, base, self.ignore_path, key="event_id")
        sinks.upsert_by_key(self.spark, base, self.upsert_path, key="event_id")
        self.txn_append.create(base)
        self.txn_merge.create(base)
        self.appends = 0

    def etl_ops(self, timed: bool) -> list:
        """The keyed-write ops of one round, over the next seeded batch,
        in dependency order."""
        from airflow_etl_elt_spark.sources import sinks

        u0 = time.perf_counter()
        b = self.batches.next()
        self.untimed_s += time.perf_counter() - u0
        spark, tr = self.spark, self.tracer
        batch = spark.read.parquet(b["path"])
        lo, hi = b["range"]

        def created(path, span, fn):
            """fn's result, timed in its own span, and, on the traced run, the
            bytes of the files it created under ``path``. The directory walks
            lie outside the span."""
            if not self.args.trace:
                return fn(), 0
            with self.aside():
                before = dir_files(path)
            with tr.span(span):
                out = fn()
            with self.aside():
                after = dir_files(path)
            return out, sum(s for p, s in after.items() if p not in before)

        def insert_ignore():
            n, nbytes = created(
                os.path.dirname(self.ignore_path), "sources.sinks.insert_ignore_by_name",
                lambda: sinks.insert_ignore_by_name(spark, batch, self.ignore_path, key="event_id"))
            self.note("sinks.useful", (n, b["rows"]))
            self.note("sinks.amp", (nbytes, b["bytes"]))
            return n

        def upsert():
            (upd, ins), nbytes = created(
                os.path.dirname(self.upsert_path), "sources.sinks.upsert_by_key",
                lambda: sinks.upsert_by_key(spark, batch, self.upsert_path, key="event_id"))
            self.note("sinks.useful", (upd + ins, b["rows"]))
            self.note("sinks.amp", (nbytes, b["bytes"]))
            return (upd, ins)

        def txn_append():
            v, nbytes = created(self.txn_append.path, "sources.txn.append",
                                lambda: self.txn_append.append(batch))
            self.note("txn.amp", (nbytes, b["bytes"]))
            self.appends += 1
            if self.appends % COMPACT_EVERY == 0:
                with tr.span("sources.txn.compact"):
                    self.txn_append.compact(spark)
            return v

        def txn_merge():
            v, nbytes = created(self.txn_merge.path, "sources.txn.merge",
                                lambda: self.txn_merge.merge(spark, batch, "event_id"))
            self.note("txn.amp", (nbytes, b["bytes"]))
            return v

        def txn_read():
            with tr.span("sources.txn.snapshot_where"):
                df = self.txn_append.snapshot_where(spark, "event_id", lo, hi)
                pdf = df.toPandas()
            if self.args.trace:
                with self.aside():
                    listed = len(self.txn_append._read_manifest(
                        self.txn_append.latest_version())["dirs"])
                    read = {os.path.dirname(p.replace("file:", "")) for p in df.inputFiles()}
                    self.note("txn.skip", (listed - len(read), listed))
            return pdf

        def txn_aggregate():
            from pyspark.sql import functions as F

            with tr.span("sources.txn.snapshot"):
                return self.txn_merge.snapshot(spark).agg(
                    F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("keys"),
                    F.sum("value").alias("vals")).toPandas()

        def close(a, b_, tol=1e-6):
            return abs(a - b_) <= tol * max(1.0, abs(b_))

        checks = {
            "insert_ignore": lambda n: (n == b["ignore_appended"], f"appended {n}"),
            "upsert": lambda r: (tuple(r) == b["upsert"], f"upsert {r}"),
            "txn_append": lambda v: (isinstance(v, int), f"version {v}"),
            "txn_merge": lambda v: (isinstance(v, int), f"version {v}"),
            "txn_read": lambda pdf: (
                len(pdf) == hi - lo + 1 and set(pdf["event_id"]) == set(range(lo, hi + 1)),
                f"read {len(pdf)} rows"),
            "txn_aggregate": lambda pdf: (
                int(pdf["n"][0]) == b["keyed_rows"] and int(pdf["keys"][0]) == b["key_sum"]
                and close(float(pdf["vals"][0]), b["value_sum"]), f"aggregate {pdf.iloc[0].tolist()}"),
        }
        fns = {"insert_ignore": insert_ignore, "upsert": upsert, "txn_append": txn_append,
               "txn_merge": txn_merge, "txn_read": txn_read, "txn_aggregate": txn_aggregate}
        self.last_batch = b
        return [(name, fns[name], checks[name]) for name in ETL_STEPS]

    def etl_final_check(self) -> None:
        """Untimed: row counts and key-set digests of every keyed table after
        the last batch."""
        from pyspark.sql import functions as F

        b = self.last_batch
        spark = self.spark
        want = (b["keyed_rows"], b["key_sum"] + (self.args.corrupt_digest == "etl"))
        for name, df, values in (
            ("events_ignore", spark.read.parquet(self.ignore_path), False),
            ("events_upsert", spark.read.parquet(self.upsert_path), True),
            ("events_keyed", self.txn_merge.snapshot(spark), True),
        ):
            r = df.agg(F.count(F.lit(1)), F.sum("event_id"), F.sum("value")).first()
            ok = (int(r[0]), int(r[1])) == want
            if values:
                ok = ok and abs(r[2] - b["value_sum"]) <= 1e-6 * max(1.0, abs(b["value_sum"]))
            self.ops.append({"name": f"final:{name}", "s": 0.0, "ok": ok, "timed": False})
            if not ok:
                self.failures.append(f"final {name}: {tuple(r)} != {want}, {b['value_sum']}")
        log = self.txn_append.snapshot(spark)
        n = log.count()
        ok = n == b["append_rows"]
        self.ops.append({"name": "final:events_log", "s": 0.0, "ok": ok, "timed": False})
        if not ok:
            self.failures.append(f"final events_log: {n} != {b['append_rows']}")

    # ---- rounds --------------------------------------------------------------

    def round_ops(self, timed: bool) -> list:
        order = list(KEYS)
        self.rng.shuffle(order)
        ops = [(k, None, None) for k in order]
        if self.args.workload == "etl_load":
            # keyed writes at seed-chosen positions, in dependency order
            pos = sorted(self.rng.sample(range(len(ops) + len(ETL_STEPS)), len(ETL_STEPS)))
            for p, op in zip(pos, self.etl_ops(timed)):
                ops.insert(p, op)
        return ops

    def run_round(self, timed: bool) -> None:
        ops = self.round_ops(timed)
        self.orders.append([name for name, _, _ in ops])
        for name, fn, check in ops:
            if fn is None:
                self.query_op(name, timed)
            else:
                self.run_op(name, fn, check, timed)

    def setup(self) -> float:
        """Everything between importing the program and the first timed op:
        session start, workload preparation and one untimed warm-up round."""
        t0 = time.perf_counter()
        self.start()
        if self.args.workload == "etl_load":
            from airflow_etl_elt_spark.queries import prepare_all

            p0 = time.perf_counter()
            with self.tracer.span("etl.initial_loads"):
                self.etl_init()
            p1 = time.perf_counter()
            with self.tracer.span("queries.prepare_all"):
                prepare_all(self.spark, self.sf, KEYS)
            self.phases.update(etl_init_s=p1 - p0, prepare_all_s=time.perf_counter() - p1)
        with self.tracer.span("warmup"):
            w0 = time.perf_counter()
            self.run_round(timed=False)
            self.warmup_s = time.perf_counter() - w0
        self.phases.update(start_s=self.start_s, warmup_s=self.warmup_s)
        return time.perf_counter() - t0

    def measure(self) -> float:
        """The timed rounds; returns the wall time of the loop less its
        untimed part (checks, readings, batch writes)."""
        u0 = self.untimed_s
        t0 = time.perf_counter()
        for _ in range(max(1, round(self.args.seconds / ROUND_S))):
            self.run_round(timed=True)
        return time.perf_counter() - t0 - (self.untimed_s - u0)

    # ---- pipeline tour (traced run only) --------------------------------------

    def wrap_steps(self, pipe) -> None:
        tr = self.tracer
        for step in pipe.steps:
            fn, name = step.fn, step.name

            def timed_fn(pl, ctx, fn=fn, name=name):
                with tr.span(f"plans.pipeline.step.{name}"):
                    return fn(pl, ctx)

            step.fn = timed_fn

    def tour(self) -> None:
        """One pass over the layers the timed loop of this workload does not
        run: the corpus plan with its dedup internals, the wine DAG pair, and
        (on ``sql_adhoc``) two rounds of keyed writes."""
        if self.args.workload != "etl_load":
            with self.tracer.span("etl.initial_loads"):
                self.etl_init()
            for _ in range(2):
                for name, fn, check in self.etl_ops(timed=False):
                    self.run_op(name, fn, check, timed=False)
        self.etl_final_check()
        self.run_op("corpus", self.corpus_run, lambda r: r, timed=False)
        self.run_op("wine", self.wine_run, lambda r: r, timed=False)

    def corpus_run(self):
        from pyspark.sql import functions as F

        from airflow_etl_elt_spark.operators import dedup
        from airflow_etl_elt_spark.plans import corpus
        from airflow_etl_elt_spark.sources.readers import read_table

        tr, spark = self.tracer, self.spark
        out = os.path.join(self.run_dir, "warehouse", "corpus")
        docs = read_table(spark, self.sf, "documents")
        with tr.span("plans.corpus.clean_write"):
            corpus.write_corpus(corpus.clean_corpus(docs), out)
        with tr.span("plans.corpus.stats"):
            stats = corpus.corpus_stats(spark.read.parquet(out)).toPandas()
        survivors = sorted(r[0] for r in spark.read.parquet(out).select("doc_id").collect())
        n_docs = docs.count()
        self.note("survivor_ratio", len(survivors) / n_docs)
        # the near-dup stages on the exact-unique input, called directly
        canon = docs.groupBy(F.md5("text").alias("h")).agg(F.min("doc_id").alias("doc_id"))
        exact_unique = docs.join(canon.select("doc_id"), "doc_id", "left_semi")
        with tr.span("operators.dedup.minhash_lsh_pairs"):
            pairs = dedup.minhash_lsh_pairs(exact_unique, threshold=0.85).localCheckpoint(eager=True)
        with tr.span("operators.dedup.connected_components"):
            dedup.connected_components(pairs).count()
        got = hashlib.sha256(repr(survivors).encode()).hexdigest()
        want = CORPUS_SURVIVORS.get(self.args.scale)
        print(f"corpus survivors {len(survivors)} of {n_docs}, digest {got}")
        unique_ids = {r[0] for r in canon.select("doc_id").collect()}
        ok = (set(survivors) <= unique_ids and int(stats["n_docs"].sum()) == len(survivors)
              and want in (None, got))
        return ok, f"{len(survivors)} survivors (digest {got[:12]}, want {str(want)[:12]})"

    def wine_run(self):
        from airflow_etl_elt_spark.plans.wine import (
            build_wine_downstream_pipeline,
            build_wine_etl_pipeline,
        )

        tr, spark = self.tracer, self.spark
        wh = os.path.join(self.run_dir, "warehouse", "wine")
        now = lambda: WINE_NOW  # noqa: E731
        etl = build_wine_etl_pipeline(spark, self.wine_csv, wh, now=now)
        down = build_wine_downstream_pipeline(spark, wh, now=now)
        self.wrap_steps(etl)
        self.wrap_steps(down)
        with tr.span("plans.wine.etl_run") as run1:
            res = etl.run()
        with tr.span("plans.wine.downstream_run"):
            res2 = down.run(wait_for=("duckdb_dataset", "postgresql_dataset"),
                            marker_dir=os.path.join(wh, "_markers"))
        self.note("pipeline_overhead", tr.self_time(run1))  # run time outside the steps
        self.note("pipeline_retries", sum(max(0, r.attempts - 1) for r in
                                          list(res.values()) + list(res2.values())))
        exp = self.wine_expected
        bad = [n for n, r in res.items() if r.status != "success"]
        bad += [n for n, r in res2.items()
                if r.status != ("skipped" if n == "extract_wine_data_postgresql" else "success")]
        counts = (
            res["load_wine_data_into_duckdb"].value["row_count"],
            res["load_wine_data_into_postgresql"].value["row_count"],
            res["transform_wine_data_from_postgresql"].value.count(),
            res2["chart_kde"].value["row_count"],
        )
        want = (exp["high_quality_rows"], exp["raw_rows"], exp["low_sulfur_rows"],
                exp["high_quality_rows"])
        return not bad and counts == want, f"steps not as expected {bad}, counts {counts} != {want}"

    # ---- metrics -------------------------------------------------------------

    def end_to_end(self, setup_cpu: float, setup_wall: float) -> dict:
        """Latencies are the timed ops' own, as run; CPU seconds are those of
        the Spark driver process, the JVM and the Python workers during each op."""
        timed = [o for o in self.ops if o["timed"]]
        lat = [o["s"] for o in timed]
        # JIT compiles are warm-up whose timing varies from run to run; the
        # per-layer process.jit_cpu_s reports them
        cpu = [o["cpu"] - o["threads"]["jit"] for o in timed]
        return {
            "setup_s": setup_cpu,
            "setup_wall_s": setup_wall,
            "ops_per_s": len(timed) / self.loop_s,
            "op_p50_s": statistics.median(lat),
            "op_p90_s": statistics.quantiles(lat, n=10, method="inclusive")[8],
            "cpu_s_per_op": sum(cpu) / len(cpu),
            "peak_rss_mb": self.mem.peak["total"],
        }

    def per_layer(self) -> dict:
        tr, L = self.tracer, self.layer
        timed_ids = {i for i, o in enumerate(self.ops) if o["timed"]}
        timed = [o for o in self.ops if o["timed"]]

        def med(name):
            """Median span duration, over the timed loop's spans when the
            workload times that call, else over the tour's."""
            spans = [s for s in tr.spans if s["name"] == name]
            d = [s["end"] - s["start"] for s in spans if s["op"] in timed_ids] or [
                s["end"] - s["start"] for s in spans]
            return statistics.median(d) if d else 0.0

        def ratio(pairs):
            pairs = L.get(pairs, [])
            den = sum(p[1] for p in pairs)
            return sum(p[0] for p in pairs) / den if den else 0.0

        def mean(name):
            v = L.get(name, [])
            return statistics.fmean(v) if v else 0.0

        log = self.txn_append
        latest = log._read_manifest(log.latest_version())["dirs"]
        data = dir_files(log.data_dir)
        live = sum(s for p, s in data.items()
                   if os.path.relpath(p, log.data_dir).split(os.sep)[0] in latest)
        orphans = 0
        for t in (self.txn_append, self.txn_merge):
            referenced = set()
            for v in range(t.latest_version() + 1):
                referenced.update(t._read_manifest(v)["dirs"])
            orphans += sum(1 for d in os.listdir(t.data_dir) if d not in referenced)
        m = {
            "session.start_s": self.start_s,
            "session.warmup_s": self.warmup_s,
            "queries.build_s": statistics.median(L["build_s"]),
            "queries.build_jobs": mean("build_jobs"),
            "queries.plan_reuse_ratio": mean("plan_reuse"),
        }
        for mod in MODULES:
            m[f"operators.{mod}.busy_s"] = sum(L.get(f"busy.{mod}", []))
        m.update({
            "operators.jobs_per_op": mean("jobs"),
            "operators.stages_per_op": mean("stages"),
            "operators.tasks_per_op": mean("tasks"),
            "operators.result_rows": mean("rows"),
            "operators.result_mb": mean("mb"),
            "plans.corpus.clean_write_s": med("plans.corpus.clean_write"),
            "plans.corpus.stats_s": med("plans.corpus.stats"),
            "plans.corpus.survivor_ratio": mean("survivor_ratio"),
            "operators.dedup.lsh_pairs_s": med("operators.dedup.minhash_lsh_pairs"),
            "operators.dedup.components_s": med("operators.dedup.connected_components"),
            "sources.sinks.insert_ignore_s": med("sources.sinks.insert_ignore_by_name"),
            "sources.sinks.upsert_s": med("sources.sinks.upsert_by_key"),
            "sources.sinks.useful_ratio": ratio("sinks.useful"),
            "sources.sinks.write_amp": ratio("sinks.amp"),
            "sources.txn.write_amp": ratio("txn.amp"),
            "sources.txn.append_s": med("sources.txn.append"),
            "sources.txn.merge_s": med("sources.txn.merge"),
            "sources.txn.compact_s": med("sources.txn.compact"),
            "sources.txn.read_s": med("sources.txn.snapshot_where"),
            "sources.txn.skip_ratio": ratio("txn.skip"),
            "sources.txn.space_amp": sum(data.values()) / live if live else 0.0,
            "sources.txn.commit_retries": orphans,
            "plans.pipeline.retries": sum(L.get("pipeline_retries", [])),
            "plans.pipeline.overhead_s": mean("pipeline_overhead"),
            "plans.wine.etl_run_s": med("plans.wine.etl_run"),
            "plans.wine.downstream_run_s": med("plans.wine.downstream_run"),
            "ml.train_s": med("plans.pipeline.step.ml_task_group"),
            "process.driver_rss_mb": self.mem.peak["driver"],
            "process.jvm_rss_mb": self.mem.peak["jvm"],
            "process.worker_rss_mb": self.mem.peak["worker"],
            "process.jit_cpu_s": statistics.fmean(o["threads"]["jit"] for o in timed),
            "process.gc_cpu_s": statistics.fmean(o["threads"]["gc"] for o in timed),
            "trace.ops_per_s": self.end_to_end(0.0, 0.0)["ops_per_s"],
            "trace.spans": len(tr.spans),
        })
        return m


def spec() -> dict:
    """The declared workloads and metrics, from BENCHMARK.json beside perfbench/."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=SCALE, help="catalog scale factor")
    ap.add_argument("--corrupt-digest", default=None, metavar="KEY",
                    help="self-test: replace KEY's expected digest ('etl' for the "
                         "keyed-table digests) so its checks must fail")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "airflow_etl_elt_spark", "__init__.py")):
        print("perfbench: the program package is missing next to perfbench/", file=sys.stderr)
        return 2
    declared = spec()
    units = {m["name"]: m["unit"] for m in declared["end_to_end"] + declared["per_layer"]}
    units.update(UNDECLARED_UNITS)

    run_dir = os.path.join(ROOT, ".perfbench_runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "java-tmp", "spark-local", "layout", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ.update({
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_LAYOUT_DIR": os.path.join(run_dir, "layout"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "warehouse", "spark"),
        "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # The JVM keeps its default JIT and grows its heap as it needs, up to
        # SPARK_GRAFT_DRIVER_MEM. -UsePerfData: no hsperfdata files under /tmp
        # (SPARK_SUBMIT_OPTS reaches the Spark driver JVM, not spark-class's launcher).
        "SPARK_SUBMIT_OPTS": f"-Djava.io.tmpdir={os.path.join(run_dir, 'java-tmp')} "
                             "-XX:-UsePerfData",
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    if args.workload == "sql_adhoc":
        os.environ["SPARK_GRAFT_PLAN_CACHE"] = "0"
    os.chdir(run_dir)  # metastore_db, derby.log and other cwd droppings
    sys.path.insert(0, ROOT)

    from spans import tree_cpu_s

    bench = Bench(args, run_dir)
    try:
        t_prep = time.perf_counter()
        bench.prepare_inputs()
        cpu0 = tree_cpu_s(bench.pid)
        t0 = time.perf_counter()
        bench.phases["prepare_s"] = t0 - t_prep
        import airflow_etl_elt_spark.queries  # noqa: F401  (import counts as set-up)

        setup_wall = time.perf_counter() - t0 + bench.setup()
        setup_cpu = tree_cpu_s(bench.pid) - cpu0
        bench.loop_s = bench.phases["loop_s"] = bench.measure()
        if args.trace:
            bench.tour()
        elif args.workload == "etl_load":
            bench.etl_final_check()
        e2e = bench.end_to_end(setup_cpu, setup_wall)
        layer = bench.per_layer() if args.trace else {}
    finally:
        t_stop = time.perf_counter()
        bench.stop()
        bench.phases["stop_s"] = time.perf_counter() - t_stop
        if args.trace:
            bench.tracer.write(os.path.join(
                ROOT, ".perfbench_out", f"trace-{args.workload}-seed{args.seed}.json"))
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = len(bench.ops)
    failed = sum(1 for o in bench.ops if not o["ok"])
    lat = [o["s"] for o in bench.ops if o["timed"]]
    print(f"oracle digest {bench.oracle_digest}")
    print("first round order " + ",".join(bench.orders[0]))
    print("phases " + " ".join(f"{k} {v:.2f}" for k, v in bench.phases.items()))
    for f in bench.failures:
        print(f"FAILED {f}")
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{len(lat)} timed ops in {bench.loop_s:.2f} s, "
          f"{sum(1 for v in lat if v > e2e['op_p90_s'])} beyond p90")
    print(f"failed_frac {failed / attempted:.4f} ratio ({failed} of {attempted})")
    per_key: dict[str, list[dict]] = {}
    for o in bench.ops:
        if o["timed"]:
            per_key.setdefault(o["name"], []).append(o)
    print("op medians wall_s/cpu_s (JIT included) " + " ".join(
        f"{k} {statistics.median(o['s'] for o in v):.3f}/{statistics.median(o['cpu'] for o in v):.2f}"
        for k, v in per_key.items()))
    print("jvm thread cpu s in timed ops " + " ".join(
        f"{g} {sum(o['threads'][g] for o in bench.ops if o['timed']):.2f}" for g in ("jit", "gc", "other")))
    print("peak memory MB " + " ".join(f"{k} {v:.0f}" for k, v in bench.mem.peak.items()))
    for name, value in {**e2e, **layer}.items():
        print(f"{name} {value:.6g} {units[name]}")
    shown = {**e2e, **layer}
    names = [m["name"] for m in declared["per_layer" if args.trace else "end_to_end"]]
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": shown[k], "unit": units[k]} for k in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
