"""Idempotent keyed append (INSERT OR IGNORE BY NAME) property tests —
SURVEY.md §5 item 3: appending the same batch twice == once; column order
must not matter; duplicate keys within a batch collapse."""

from __future__ import annotations

import os
import shutil

import pytest

from airflow_etl_elt_spark.sources import sinks
from airflow_etl_elt_spark.sources.sinks import insert_ignore_by_name, upsert_by_key


def _batch(spark, rows, cols=("id", "v")):
    return spark.createDataFrame(rows, list(cols))


def test_append_twice_equals_once(spark, tmp_path):
    path = str(tmp_path / "t")
    b = _batch(spark, [(1, "a"), (2, "b")])
    assert insert_ignore_by_name(spark, b, path) == 2
    assert insert_ignore_by_name(spark, b, path) == 0
    assert spark.read.parquet(path).count() == 2


def test_only_new_keys_appended(spark, tmp_path):
    path = str(tmp_path / "t")
    insert_ignore_by_name(spark, _batch(spark, [(1, "a"), (2, "b")]), path)
    n = insert_ignore_by_name(spark, _batch(spark, [(2, "x"), (3, "c")]), path)
    assert n == 1
    data = {r["id"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert data == {1: "a", 2: "b", 3: "c"}  # existing row 2 untouched


def test_by_name_column_matching(spark, tmp_path):
    """BY NAME semantics (etl_elt_wine.py:216): source column order differs
    from target order; values must land in the right columns."""
    path = str(tmp_path / "t")
    insert_ignore_by_name(spark, _batch(spark, [(1, "a")], cols=("id", "v")), path)
    reordered = _batch(spark, [("b", 2)], cols=("v", "id"))
    assert insert_ignore_by_name(spark, reordered, path) == 1
    data = {r["id"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert data == {1: "a", 2: "b"}


def test_missing_column_rejected(spark, tmp_path):
    import pytest

    path = str(tmp_path / "t")
    insert_ignore_by_name(spark, _batch(spark, [(1, "a")]), path)
    with pytest.raises(ValueError, match="missing target columns"):
        insert_ignore_by_name(spark, spark.createDataFrame([(9,)], ["id"]), path)


def test_intra_batch_duplicate_keys_collapse(spark, tmp_path):
    path = str(tmp_path / "t")
    n = insert_ignore_by_name(spark, _batch(spark, [(1, "a"), (1, "z"), (2, "b")]), path)
    assert n == 2
    assert spark.read.parquet(path).count() == 2


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Co-located join proof: both sides bucketed+sorted on the join key →
    the sort-merge join plans with ZERO Exchange (and zero Sort) operators.
    This is the at-rest layout that deletes the fact-fact shuffle at 100 TB."""
    import io
    from contextlib import redirect_stdout

    from airflow_etl_elt_spark.sources.sinks import write_bucketed

    import uuid

    suffix = uuid.uuid4().hex[:8]
    o_tbl, l_tbl = f"o_bkt_{suffix}", f"l_bkt_{suffix}"
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    lineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    write_bucketed(orders, o_tbl, ("o_orderkey",), num_buckets=4, sort_cols=("o_orderkey",))
    write_bucketed(lineitem, l_tbl, ("l_orderkey",), num_buckets=4, sort_cols=("l_orderkey",))

    # force the sort-merge path (at test scale the planner would broadcast,
    # which has its own BroadcastExchange and bypasses bucketing entirely)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table(l_tbl).join(
            spark.table(o_tbl),
            spark.table(l_tbl).l_orderkey == spark.table(o_tbl).o_orderkey,
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            joined.explain()
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan  # bucket co-location: no shuffle
        # and the co-located result is identical to the plain shuffled join
        expect = lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey).count()
        assert joined.count() == expect
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {o_tbl}")
        spark.sql(f"DROP TABLE IF EXISTS {l_tbl}")


def test_upsert_updates_matched_inserts_new(spark, tmp_path):
    from airflow_etl_elt_spark.sources.sinks import upsert_by_key

    path = str(tmp_path / "u")
    assert upsert_by_key(spark, _batch(spark, [(1, "a"), (2, "b")]), path) == (0, 2)
    # 2 matched (updated, batch wins), 3 new (inserted)
    assert upsert_by_key(spark, _batch(spark, [(2, "x"), (3, "c")]), path) == (1, 1)
    data = {r["id"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert data == {1: "a", 2: "x", 3: "c"}


def test_upsert_is_idempotent(spark, tmp_path):
    from airflow_etl_elt_spark.sources.sinks import upsert_by_key

    path = str(tmp_path / "u")
    b = _batch(spark, [(1, "a"), (2, "b")])
    upsert_by_key(spark, b, path)
    assert upsert_by_key(spark, b, path) == (2, 0)  # all matched, no inserts
    data = {r["id"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert data == {1: "a", 2: "b"}


def test_upsert_batch_dupes_resolve_by_recency(spark, tmp_path):
    from airflow_etl_elt_spark.sources.sinks import upsert_by_key

    path = str(tmp_path / "u")
    b = _batch(spark, [(1, "old", 10), (1, "new", 20), (2, "b", 5)], cols=("id", "v", "ts"))
    assert upsert_by_key(spark, b, path, order_col="ts") == (0, 2)
    data = {r["id"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert data == {1: "new", 2: "b"}  # max-ts row won within the batch


def test_upsert_column_names_matched_not_positions(spark, tmp_path):
    from airflow_etl_elt_spark.sources.sinks import upsert_by_key

    path = str(tmp_path / "u")
    upsert_by_key(spark, _batch(spark, [(1, "a")]), path)
    # batch with swapped column ORDER must still line up by name
    swapped = spark.createDataFrame([("z", 1)], ["v", "id"])
    assert upsert_by_key(spark, swapped, path) == (1, 0)
    assert {r["v"] for r in spark.read.parquet(path).collect()} == {"z"}


def test_upsert_missing_column_rejected(spark, tmp_path):
    import pytest

    from airflow_etl_elt_spark.sources.sinks import upsert_by_key

    path = str(tmp_path / "u")
    upsert_by_key(spark, _batch(spark, [(1, "a")]), path)
    with pytest.raises(ValueError, match="missing target columns"):
        upsert_by_key(spark, spark.createDataFrame([(3,)], ["id"]), path)


def test_rewriting_sinks_invalidate_relation_cache(spark, tmp_path):
    """A cached read_table relation pins the old file listing, and cached
    footer stats describe the old files; replace/upsert/append sinks must
    invalidate both or post-write reads and size gates see stale data."""
    from airflow_etl_elt_spark.sources.readers import read_table, table_column_stats
    from airflow_etl_elt_spark.sources.sinks import replace_table, upsert_by_key

    sf = str(tmp_path)
    path = str(tmp_path / "t.parquet")
    _batch(spark, [(1, "a")]).write.parquet(path)
    assert read_table(spark, sf, "t").count() == 1  # now cached
    assert table_column_stats(sf, "t", "id") == (1.0, 1.0, 1)  # now cached

    upsert_by_key(spark, _batch(spark, [(1, "x"), (2, "b")]), path)
    assert read_table(spark, sf, "t").count() == 2
    assert table_column_stats(sf, "t", "id") == (1.0, 2.0, 2)

    replace_table(_batch(spark, [(9, "z")]), path)
    got = read_table(spark, sf, "t").collect()
    assert [(r["id"], r["v"]) for r in got] == [(9, "z")]
    assert table_column_stats(sf, "t", "id") == (9.0, 9.0, 1)

    assert insert_ignore_by_name(spark, _batch(spark, [(9, "z"), (10, "w")]), path) == 1
    assert read_table(spark, str(tmp_path), "t").count() == 2


def _events(spark, tmp_path, name, lo, hi):
    """Rows ``lo..hi-1`` of a small keyed event table, written to parquet
    and read back, as a scheduled batch arrives."""
    from pyspark.sql import functions as F

    path = str(tmp_path / name)
    spark.range(lo, hi).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 7).alias("user_id"),
        (F.col("id") * 0.5).alias("value"),
    ).write.parquet(path)
    return spark.read.parquet(path)


def test_upsert_into_existing_table_job_count(spark, tmp_path, count_jobs):
    """Bookkeeping pin: an upsert into an existing table runs the rewrite
    and nothing else. The schema and stored row count come from the
    footers, the other counts are observed by the rewrite, and its AQE
    stages each run as a job. A separate batch count made 13 jobs, a
    separate matched-key count 10, a schema read and a second batch dedup
    6. The planner knows no size for a batch built from local rows, so it
    plans a sort-merge anti-join and shuffles both sides before adaptive
    execution turns it into a broadcast: 5 jobs, where a parquet batch
    takes 3 (``test_keyed_sink_job_ceilings``)."""
    path = str(tmp_path / "u")
    upsert_by_key(spark, _batch(spark, [(1, "a"), (2, "b")]), path)
    got, jobs = count_jobs(lambda: upsert_by_key(spark, _batch(spark, [(2, "x"), (3, "c")]), path))
    assert got == (1, 1)
    assert jobs <= 5, jobs


def test_keyed_sink_job_ceilings(spark, tmp_path, count_jobs):
    """Job ceilings of the keyed sinks on a batch that half overlaps the
    table: each is one observed write at AQE's floor of three jobs (batch
    dedup shuffle, broadcast, write), with no schema-inference read, no
    cache and no count."""
    base = _events(spark, tmp_path, "base", 0, 400)
    batch = _events(spark, tmp_path, "batch", 300, 500)
    ignore, upsert = str(tmp_path / "ignore"), str(tmp_path / "upsert")
    insert_ignore_by_name(spark, base, ignore, key="event_id")
    upsert_by_key(spark, base, upsert, key="event_id")
    n, jobs = count_jobs(lambda: insert_ignore_by_name(spark, batch, ignore, key="event_id"))
    assert n == 100 and jobs <= 3, jobs
    counts, jobs = count_jobs(lambda: upsert_by_key(spark, batch, upsert, key="event_id"))
    assert counts == (100, 100) and jobs <= 3, jobs


def _last_write(spark) -> tuple[str, int]:
    """The executed (final adaptive) plan tree of the session's latest
    parquet write and the number of jobs it ran, read from the SQL status
    store once the listener bus has delivered every event."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    runs = spark._jsparkSession.sharedState().statusStore().executionsList()
    for i in range(runs.size() - 1, -1, -1):
        plan = runs.apply(i).physicalPlanDescription()
        if "InsertIntoHadoopFsRelationCommand" in plan:
            return plan.split("== Initial Plan ==")[0], runs.apply(i).jobs().size()
    raise AssertionError("no write in the SQL status store")


def test_keyed_rewrites_shuffle_the_batch_once(spark, tmp_path, count_jobs):
    """On perfbench's shape (a 1,000-row parquet batch with a string column
    into a 6,000-row table) the executed rewrite of an upsert and of a
    ``TxnTable.merge`` holds exactly one ShuffleQueryStage, the batch's
    one-row-per-key dedup: the anti-join that keeps the stored rows
    broadcasts straight off the batch scan. Each keyed write takes three
    jobs, that shuffle, the broadcast and the write, all run by the write
    itself: none comes before it."""
    from pyspark.sql import functions as F

    from airflow_etl_elt_spark.sources.txn import TxnTable

    def events(name, lo, hi):
        path = str(tmp_path / name)
        spark.range(lo, hi).select(
            F.col("id").alias("event_id"),
            F.concat(F.lit("t"), (F.col("id") % 5).cast("string")).alias("event_type"),
            (F.col("id") * 0.5).alias("value"),
        ).write.parquet(path)
        return spark.read.parquet(path)

    base, batch = events("base", 0, 6000), events("batch", 5500, 6500)
    path, keyed = str(tmp_path / "u"), TxnTable(str(tmp_path / "keyed"))
    ignore = str(tmp_path / "i")
    upsert_by_key(spark, base, path, key="event_id")
    keyed.create(base)
    insert_ignore_by_name(spark, base, ignore, key="event_id")
    assert count_jobs(lambda: insert_ignore_by_name(spark, batch, ignore, key="event_id")) == (500, 3)
    assert _last_write(spark)[1] == 3
    assert count_jobs(lambda: upsert_by_key(spark, batch, path, key="event_id")) == ((500, 500), 3)
    rewrites = [_last_write(spark)]
    assert count_jobs(lambda: keyed.merge(spark, batch, "event_id")) == (1, 3)
    rewrites.append(_last_write(spark))
    for plan, jobs in rewrites:
        assert jobs == 3
        assert "ResultQueryStage" in plan and "LeftAnti" in plan, plan
        assert plan.count("ShuffleQueryStage") == 1, plan


def test_insert_ignore_writes_one_file_and_no_op_adds_none(spark, tmp_path):
    """An append of new keys adds one part file (the write's partitions
    coalesce; a cached frame kept one file per shuffle partition), and
    re-running the same batch leaves the table's file listing unchanged,
    with no staging directory left beside it."""
    base = _events(spark, tmp_path, "base", 0, 400)
    batch = _events(spark, tmp_path, "batch", 300, 500)
    path = str(tmp_path / "t")
    insert_ignore_by_name(spark, base, path, key="event_id")
    before = set(os.listdir(path))
    assert insert_ignore_by_name(spark, batch, path, key="event_id") == 100
    added = set(os.listdir(path)) - before
    assert len([f for f in added if f.endswith(".parquet")]) == 1, added
    listing = sorted(os.listdir(path))
    assert insert_ignore_by_name(spark, batch, path, key="event_id") == 0
    assert sorted(os.listdir(path)) == listing
    assert sorted(os.listdir(tmp_path)) == ["base", "batch", "t"]
    assert spark.read.parquet(path).count() == 500


def test_insert_ignore_crash_before_move_leaves_table_unchanged(spark, tmp_path, monkeypatch):
    """Fault injection: a crash after the staged write but before its files
    move in leaves the table as it was; the next call removes the staging
    directory and appends the rows."""
    path = str(tmp_path / "t")
    insert_ignore_by_name(spark, _batch(spark, [(1, "a")]), path)
    listing = sorted(os.listdir(path))

    def crash(*args, **kwargs):
        raise OSError("injected crash")

    monkeypatch.setattr(sinks.os, "replace", crash)
    with pytest.raises(OSError, match="injected crash"):
        insert_ignore_by_name(spark, _batch(spark, [(2, "b")]), path)
    monkeypatch.undo()
    assert sorted(os.listdir(path)) == listing
    assert any("__insert_" in n for n in os.listdir(tmp_path))
    assert insert_ignore_by_name(spark, _batch(spark, [(2, "b")]), path) == 1
    assert os.listdir(tmp_path) == ["t"]
    assert {r["id"]: r["v"] for r in spark.read.parquet(path).collect()} == {1: "a", 2: "b"}


@pytest.mark.parametrize("key", ["a.b", "c d", "g`x"])
def test_keyed_sinks_take_any_key_name(spark, tmp_path, key):
    """A key named with a dot, a space or a backtick works on every call,
    not only the one that creates the table (names are quoted before they
    reach the DataFrame API)."""
    cols = (key, "v", "t s")
    ignore, upsert = str(tmp_path / "i"), str(tmp_path / "u")
    first = _batch(spark, [(1, "a", 1), (2, "b", 1)], cols)
    second = _batch(spark, [(2, "x", 2), (2, "y", 3), (3, "c", 2)], cols)
    assert insert_ignore_by_name(spark, first, ignore, key=key) == 2
    assert insert_ignore_by_name(spark, second, ignore, key=key) == 1
    assert upsert_by_key(spark, first, upsert, key=key, order_col="t s") == (0, 2)
    assert upsert_by_key(spark, second, upsert, key=key, order_col="t s") == (1, 1)
    got = {r[key]: r["v"] for r in spark.read.parquet(upsert).collect()}
    assert got == {1: "a", 2: "y", 3: "c"}
    assert {r[key] for r in spark.read.parquet(ignore).collect()} == {1, 2, 3}


def test_upsert_into_an_empty_table(spark, tmp_path):
    """A table created from an empty batch takes later upserts: adaptive
    execution drops the join of an empty table from the plan, and the
    counts must not be observed below it."""
    empty = spark.createDataFrame([], "id bigint, v string")
    path = str(tmp_path / "u")
    assert upsert_by_key(spark, empty, path) == (0, 0)
    assert upsert_by_key(spark, _batch(spark, [(1, "a")]), path) == (0, 1)
    assert upsert_by_key(spark, empty, path) == (0, 0)
    assert [tuple(r) for r in spark.read.parquet(path).collect()] == [(1, "a")]


def test_upsert_counts_on_a_duplicate_key_target(spark, tmp_path):
    """A target that stores a key twice (not one these sinks built): each
    stored copy is a replaced row, as in SQL MERGE's affected-row count, and
    n_inserted is the batch rows minus that, the table's net growth."""
    path = str(tmp_path / "u")
    _batch(spark, [(1, "a"), (1, "b"), (5, "e")]).write.parquet(path)
    assert upsert_by_key(spark, _batch(spark, [(1, "x"), (2, "y")]), path) == (2, 0)
    got = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert got == [(1, "x"), (2, "y"), (5, "e")]


def test_upsert_counts_equal_matched_keys_randomized(spark, tmp_path):
    """On tables these sinks built, the observed (replaced, inserted) counts
    equal the matched-key count of a separate semi-join and the new keys."""
    import random

    rng = random.Random(5)
    path = str(tmp_path / "u")
    insert_ignore_by_name(spark, _batch(spark, [(k, "s") for k in range(0, 40, 3)]), path)
    for step in range(4):
        rows = [(rng.randrange(60), f"v{step}") for _ in range(rng.randrange(1, 25))]
        batch = _batch(spark, rows)
        stored = {r["id"] for r in spark.read.parquet(path).select("id").collect()}
        keys = {k for k, _ in rows}
        assert upsert_by_key(spark, batch, path) == (
            len(keys & stored), len(keys - stored)
        ), step


@pytest.mark.parametrize("step", ["rename_aside", "rename_in", "delete_old"])
def test_upsert_crash_at_each_swap_step_keeps_a_table(spark, tmp_path, monkeypatch, step):
    """Fault injection: the swap is rename old aside → rename rewrite in →
    delete old. A crash at any step must leave the old or the new rows for
    the next reader or upsert, never a missing table, and the next upsert
    must clear the leftover ``__upsert_*`` directories."""
    path = str(tmp_path / "u")
    sinks.upsert_by_key(spark, _batch(spark, [(1, "a"), (2, "b")]), path)
    old_rows, new_rows = {1: "a", 2: "b"}, {1: "a", 2: "x", 3: "c"}

    real = {"replace": os.replace, "rmtree": shutil.rmtree}
    crash_at = {
        "rename_aside": ("replace", 0),
        "rename_in": ("replace", 1),
        "delete_old": ("rmtree", 0),
    }[step]
    calls = []

    def faulty(name):
        def call(*args, **kwargs):
            nth = calls.count(name)
            calls.append(name)
            if (name, nth) == crash_at:
                raise OSError(f"injected crash at {step}")
            return real[name](*args, **kwargs)

        return call

    monkeypatch.setattr(sinks.os, "replace", faulty("replace"))
    monkeypatch.setattr(sinks.shutil, "rmtree", faulty("rmtree"))
    with pytest.raises(OSError, match="injected crash"):
        sinks.upsert_by_key(spark, _batch(spark, [(2, "x"), (3, "c")]), path)
    monkeypatch.undo()

    def rows():
        return {r["id"]: r["v"] for r in spark.read.parquet(path).collect()}

    # between the renames the table is set aside: only the next upsert
    # (which restores it) may read it; otherwise a plain read works
    assert os.path.exists(path) == (step != "rename_in")
    if os.path.exists(path):
        assert rows() == (new_rows if step == "delete_old" else old_rows)
    assert sinks.upsert_by_key(spark, _batch(spark, [(4, "d")]), path) == (0, 1)
    assert rows() in ({**old_rows, 4: "d"}, {**new_rows, 4: "d"})
    assert [n for n in os.listdir(tmp_path) if "__upsert_" in n] == []


def test_footer_schema_equals_the_inferred_schema(spark, tmp_path):
    """The schema read off a sink-written table's footers is the schema a
    parquet read infers, for decimal, timestamp, array and struct columns
    and names with a dot or a backtick; the row count is the stored one."""
    from airflow_etl_elt_spark.sources.readers import footer_schema_rows

    path = str(tmp_path / "t")
    df = spark.range(4).selectExpr(
        "id AS `a.b`",
        "CAST(id AS DECIMAL(12, 3)) AS d",
        "TIMESTAMP '2024-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts",
        "array(id, id + 1) AS arr",
        "CAST(id AS STRING) AS `g``x`",
        "named_struct('k', id, 'v', array(CAST(id AS STRING))) AS s",
    )
    assert insert_ignore_by_name(spark, df, path, key="a.b") == 4
    assert insert_ignore_by_name(spark, df.withColumn("a.b", df["`a.b`"] + 4), path, key="a.b") == 4
    schema, rows = footer_schema_rows(path)
    assert schema == spark.read.parquet(path).schema
    assert rows == 8


def test_footer_rows_skip_hidden_files(spark, tmp_path):
    """``_``- and ``.``-prefixed files (``_SUCCESS``, ``.crc``, or a parquet
    file so named) are left out of the stored-row count, as Spark's file
    index leaves them out; an unreadable part file yields no footer facts."""
    from airflow_etl_elt_spark.sources.readers import footer_schema_rows

    path = str(tmp_path / "t")
    spark.range(5).write.parquet(path)
    part = next(f for f in os.listdir(path) if f.endswith(".parquet") and f[0] not in "._")
    for hidden in ("_extra.parquet", ".extra.parquet"):
        shutil.copy(os.path.join(path, part), os.path.join(path, hidden))
    assert {"_SUCCESS", f".{part}.crc"} <= set(os.listdir(path))
    assert footer_schema_rows(path)[1] == spark.read.parquet(path).count() == 5
    with open(os.path.join(path, "part-99999.parquet"), "w") as fh:
        fh.write("not parquet")
    assert footer_schema_rows(path) == (None, None)


def test_keyed_writes_into_a_pyarrow_target(spark, tmp_path):
    """A target written by pyarrow has no Spark schema in its footers: the
    sinks fall back to inference, and insert and upsert still work, with
    the footer row count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from airflow_etl_elt_spark.sources.readers import footer_schema_rows

    ignore, upsert = tmp_path / "i", tmp_path / "u"
    for path in (ignore, upsert):
        path.mkdir()
        pq.write_table(pa.table({"id": [1, 2], "v": ["a", "b"]}), str(path / "part-0.parquet"))
    assert footer_schema_rows(str(ignore)) == (None, 2)
    batch = _batch(spark, [(2, "x"), (3, "c")])
    assert insert_ignore_by_name(spark, batch, str(ignore)) == 1
    assert upsert_by_key(spark, batch, str(upsert)) == (1, 1)
    rows = {str(p): sorted(map(tuple, spark.read.parquet(str(p)).collect())) for p in (ignore, upsert)}
    assert rows[str(ignore)] == [(1, "a"), (2, "b"), (3, "c")]
    assert rows[str(upsert)] == [(1, "a"), (2, "x"), (3, "c")]


def test_keyed_writes_into_a_partitioned_target(spark, tmp_path):
    """A hive-partitioned target's listing holds directories, so the sinks
    infer its schema and count it by a job; insert and upsert still work
    and keep the partition directories."""
    from airflow_etl_elt_spark.sources.readers import footer_schema_rows

    ignore, upsert = str(tmp_path / "i"), str(tmp_path / "u")
    base = spark.createDataFrame([(1, "a", 0), (2, "b", 1)], "id bigint, v string, p int")
    batch = spark.createDataFrame([(2, "x", 1), (3, "c", 0), (4, "d", 2)], "id bigint, v string, p int")
    for path in (ignore, upsert):
        base.write.partitionBy("p").parquet(path)
    assert footer_schema_rows(ignore) == (None, None)
    assert insert_ignore_by_name(spark, batch, ignore) == 2
    assert upsert_by_key(spark, batch, upsert) == (1, 2)
    for path, want in (
        (ignore, [(1, "a", 0), (2, "b", 1), (3, "c", 0), (4, "d", 2)]),
        (upsert, [(1, "a", 0), (2, "x", 1), (3, "c", 0), (4, "d", 2)]),
    ):
        assert sorted(map(tuple, spark.read.parquet(path).collect())) == want
        assert sorted(n for n in os.listdir(path) if "=" in n) == ["p=0", "p=1", "p=2"]
