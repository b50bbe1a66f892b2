"""Property-based tests (SURVEY.md §5 item 3): invariants that must hold for
ANY input, not just the example fixtures — hypothesis generates the cases.

Spark jobs per example are not free; max_examples is kept small and the data
tiny, which still exercises the interesting boundary shapes (empty batches,
all-duplicate batches, fraction 0/1 edges) far better than hand-picked rows.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from airflow_etl_elt_spark.operators.asof import asof_join
from airflow_etl_elt_spark.operators.dedup import dedup_keep_first
from airflow_etl_elt_spark.operators.relational import sample_fraction
from airflow_etl_elt_spark.sources.sinks import insert_ignore_by_name
from tests.conftest import SF_SMOKE

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

batches = st.lists(
    st.tuples(st.integers(min_value=0, max_value=20), st.integers(-5, 5)),
    min_size=0,
    max_size=25,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id int, v int") if rows else spark.createDataFrame([], "id int, v int")


@given(batch=batches)
@settings(**SETTINGS)
def test_insert_ignore_idempotent(spark, tmp_path_factory, batch):
    """Appending the same batch twice == appending it once, for any batch
    (including empty and all-duplicate batches)."""
    path = str(tmp_path_factory.mktemp("ap") / "t")
    df = _df(spark, batch)
    insert_ignore_by_name(spark, df, path)
    once = sorted(map(tuple, spark.read.parquet(path).collect())) if batch else []
    n2 = insert_ignore_by_name(spark, df, path)
    assert n2 == 0 or not batch
    twice = sorted(map(tuple, spark.read.parquet(path).collect())) if batch else []
    assert once == twice
    # exactly one row per distinct id
    if batch:
        ids = [r[0] for r in once]
        assert len(ids) == len(set(ids)) == len({k for k, _ in batch})


@given(batch=batches, frac=st.floats(min_value=0.0, max_value=1.0))
@settings(**SETTINGS)
def test_sample_is_subset_and_deterministic(spark, batch, frac):
    df = _df(spark, batch)
    s1 = sorted(map(tuple, sample_fraction(df, frac, seed=7).collect()))
    s2 = sorted(map(tuple, sample_fraction(df, frac, seed=7).collect()))
    assert s1 == s2  # same seed → same rows
    base = sorted(map(tuple, df.collect()))
    assert all(r in base for r in s1)  # subset, never invented rows


@given(batch=batches)
@settings(**SETTINGS)
def test_random_split_partitions_the_input(spark, batch):
    """randomSplit: disjoint (as multisets) and union == input."""
    df = _df(spark, [(i, v) for i, (_, v) in enumerate(batch)])  # unique ids
    a, b = df.randomSplit([0.7, 0.3], seed=42)
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert sorted(ra + rb) == sorted(map(tuple, df.collect()))
    assert not (set(ra) & set(rb))


@given(batch=batches)
@settings(**SETTINGS)
def test_dedup_keep_first_keeps_min_order_row(spark, batch):
    df = _df(spark, batch)
    out = {r["id"]: r["v"] for r in dedup_keep_first(df, ["id"], "v").collect()}
    expect = {}
    for k, v in batch:
        expect[k] = min(expect.get(k, v), v)
    assert out == expect


def test_stratified_sample_invariants(spark):
    """Kept set ⊆ source, per-stratum rates within binomial tolerance,
    unlisted strata keep everything, and the selection is stable across
    repartitionings (pure function of the data, not of the layout)."""
    from airflow_etl_elt_spark.operators.relational import stratified_sample

    rows = [(i, "en" if i % 3 == 0 else ("zh" if i % 3 == 1 else "fr")) for i in range(900)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    rates = {"en": 20, "zh": 50}
    kept = stratified_sample(df, "lang", rates, key_col="doc_id")
    got = {(r["doc_id"], r["lang"]) for r in kept.collect()}
    assert got <= set(rows)

    per = {}
    for _, lang in got:
        per[lang] = per.get(lang, 0) + 1
    assert per["fr"] == 300  # unlisted stratum fully kept
    assert 30 <= per["en"] <= 90  # 20% of 300 ± binomial noise
    assert 110 <= per["zh"] <= 190  # 50% of 300 ± binomial noise

    again = {
        (r["doc_id"], r["lang"])
        for r in stratified_sample(df.repartition(7), "lang", rates, key_col="doc_id").collect()
    }
    assert again == got  # layout-independent selection


@given(
    n_tokens=st.integers(min_value=0, max_value=60),
    chunk=st.integers(min_value=2, max_value=12),
    overlap_frac=st.floats(min_value=0.0, max_value=0.9),
)
@settings(**SETTINGS)
def test_chunk_documents_covers_every_token(spark, n_tokens, chunk, overlap_frac):
    """For ANY (doc length, chunk size, overlap): chunks cover every token
    in order, consecutive chunks overlap by exactly `overlap` tokens (except
    a short final chunk), and re-concatenating chunks with the overlap
    removed reproduces the document."""
    from airflow_etl_elt_spark.operators.text import chunk_documents

    overlap = min(int(chunk * overlap_frac), chunk - 1)
    stride = chunk - overlap
    text = " ".join(f"t{i}" for i in range(n_tokens))
    df = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    out = sorted(
        (r["chunk_idx"], r["chunk_text"]) for r in
        chunk_documents(df, chunk_tokens=chunk, overlap=overlap).collect()
    )
    toks = text.split() if text else [""]
    # reassemble: first chunk whole, then drop the overlapping prefix
    rebuilt = []
    for idx, chunk_text in out:
        parts = chunk_text.split(" ")
        rebuilt.extend(parts if idx == 0 else parts[overlap:])
    assert rebuilt == toks
    # chunk starts advance by exactly stride
    for idx, chunk_text in out:
        start = idx * stride
        assert chunk_text.split(" ") == toks[start : start + chunk]


def test_surrogate_key_distributed_contiguous(spark):
    """JVM-side zipWithIndex replacement (VERDICT r4 next-step 6): ids are
    exactly 1..N with no Python in the row path, across a multi-partition
    input with uneven partition sizes."""
    from airflow_etl_elt_spark.operators.relational import (
        surrogate_key_distributed,
    )

    df = spark.range(0, 1000, 1, 7).selectExpr("id AS k")
    out = surrogate_key_distributed(df)
    ids = [r["id"] for r in out.collect()]
    assert sorted(ids) == list(range(1, 1001))
    # empty input: the id column exists, typed bigint
    empty = surrogate_key_distributed(df.filter("k < 0"))
    assert empty.count() == 0 and dict(empty.dtypes)["id"] == "bigint"


def test_grouped_stats_regimes_agree_on_decimal(spark, monkeypatch):
    """r4 advisory (d): the one-task and bracketed grouped_stats regimes
    must produce the same schema and values for DECIMAL inputs (the
    bracketed path casts avg to double; the numpy path is double by
    construction; min/max stay comparable)."""
    from airflow_etl_elt_spark import regime
    from airflow_etl_elt_spark.operators.aggregates import grouped_stats

    df = spark.createDataFrame(
        [(g, f"{v}.25") for g in ("a", "b") for v in range(1, 8)],
        "g string, v string",
    ).selectExpr("g", "CAST(v AS DECIMAL(10,2)) AS v")
    monkeypatch.setenv("SPARK_GRAFT_PLAN_CACHE", "0")  # fresh mode: numpy path
    old_bytes = regime.SMALL_BYTES
    monkeypatch.setattr(regime, "SMALL_BYTES", 1 << 62)
    bracketed = grouped_stats(df, "g", "v")
    monkeypatch.setattr(regime, "SMALL_BYTES", old_bytes)
    numpy_path = grouped_stats(df, "g", "v")
    rows_b = sorted((tuple(r) for r in bracketed.collect()))
    rows_n = sorted((tuple(r) for r in numpy_path.collect()))
    assert len(rows_b) == len(rows_n) == 2
    for rb, rn in zip(rows_b, rows_n):
        assert rb[0] == rn[0]
        for vb, vn in zip(rb[1:], rn[1:]):
            assert abs(float(vb) - float(vn)) < 1e-9


def test_grouped_stats_numpy_path_high_cardinality_and_null_keys(spark, monkeypatch):
    """r13 (ADVICE r12): the Arrow small-regime pass now groups via ONE
    stable argsort instead of a boolean mask per dictionary code (the mask
    loop was O(groups x rows)). Pin the semantics the rewrite must keep:
    high-cardinality keys inside the size gate, null AND NaN group keys
    folding into one None group, null values counted by cnt but excluded
    from stats — agreeing with the distributed bracketed path."""
    import math

    from airflow_etl_elt_spark import regime
    from airflow_etl_elt_spark.operators.aggregates import grouped_stats

    # 2k rows x ~1k distinct double keys (the pathological shape for the
    # old mask loop), plus a null-key row, a NaN-key row, and a null value.
    rows = [(float(i % 997), float(i)) for i in range(2000)]
    rows += [(None, 5.0), (float("nan"), 7.0), (1.0, None)]
    df = spark.createDataFrame(rows, "g double, v double")
    monkeypatch.setenv("SPARK_GRAFT_PLAN_CACHE", "0")  # fresh mode
    # createDataFrame inputs carry no Catalyst size stats (the plan
    # estimate is the Long.MaxValue sentinel), so force each regime
    # explicitly: gate above the sentinel -> numpy path, 0 -> bracketed
    monkeypatch.setattr(regime, "SMALL_BYTES", 1 << 64)
    numpy_rows = grouped_stats(df, "g", "v").collect()
    monkeypatch.setattr(regime, "SMALL_BYTES", 0)  # force the distributed path
    bracketed_rows = grouped_stats(df, "g", "v").collect()

    def canon(rs):
        out = {}
        for r in rs:
            key = "NULL" if r[0] is None or (
                isinstance(r[0], float) and math.isnan(r[0])
            ) else r[0]
            out[key] = tuple(
                None if x is None else round(float(x), 9) for x in r[1:]
            )
        return out

    nrows, brows = canon(numpy_rows), canon(bracketed_rows)
    # the bracketed path drops NULL group keys at the median join but keeps
    # them in the base stats; compare the shared non-null keys exactly and
    # check the numpy path's None group stands alone with the right counts
    assert set(nrows) >= set(k for k in brows if k != "NULL")
    for k in brows:
        if k == "NULL":
            continue
        for vn, vb in zip(nrows[k], brows[k]):
            if vn is None or vb is None:
                assert vn == vb, (k, nrows[k], brows[k])
            else:
                assert abs(vn - vb) < 1e-9, (k, nrows[k], brows[k])
    # None group: rows (None, 5.0) and (nan, 7.0) fold together
    null_stats = nrows["NULL"]
    assert null_stats[5] == 2  # cnt includes both rows
    assert null_stats[0] == 6.0  # mean of {5.0, 7.0}
    # key 1.0 carries a null value: cnt counts it, stats exclude it —
    # rows are i=1/998/1995 (values 1.0, 998.0, 1995.0) plus the null
    assert nrows[1.0][5] == 4
    assert abs(nrows[1.0][0] - (1.0 + 998.0 + 1995.0) / 3) < 1e-9


def test_grouped_stats_regime_schemas_identical(spark, monkeypatch):
    from airflow_etl_elt_spark import regime
    from airflow_etl_elt_spark.operators.aggregates import grouped_stats

    df = spark.createDataFrame(
        [("a", "1.25"), ("a", "2.50"), ("b", "3.75")], "g string, v string"
    ).selectExpr("g", "CAST(v AS DECIMAL(10,2)) AS v")
    monkeypatch.setenv("SPARK_GRAFT_PLAN_CACHE", "0")
    old_bytes = regime.SMALL_BYTES
    monkeypatch.setattr(regime, "SMALL_BYTES", 1 << 62)
    dt_b = grouped_stats(df, "g", "v").dtypes
    monkeypatch.setattr(regime, "SMALL_BYTES", old_bytes)
    dt_n = grouped_stats(df, "g", "v").dtypes
    assert dt_b == dt_n


def test_operators_degrade_on_empty_input(spark):
    """Empty-input robustness across the operator families: zero rows in,
    zero rows (or an empty-but-schema-correct frame) out — never a crash.
    The chart sink's empty guard (ADVICE r5) showed this class of bug
    hides easily; pin the core operators."""
    import datetime as dt

    from airflow_etl_elt_spark.operators import aggregates, dedup, timeseries, windows
    from airflow_etl_elt_spark.operators.asof import asof_join

    docs = spark.createDataFrame([], "doc_id bigint, text string")
    ev = spark.createDataFrame(
        [], "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
    )
    li = spark.createDataFrame([], "l_returnflag string, l_extendedprice double")

    assert aggregates.grouped_stats(li, "l_returnflag", "l_extendedprice").count() == 0
    assert aggregates.grouped_exact_median(li, "l_returnflag", "l_extendedprice").count() == 0
    assert dedup.exact_dedup(docs).count() == 0
    assert dedup.minhash_lsh_pairs(docs).count() == 0
    assert dedup.simhash_near_pairs(docs).count() == 0
    assert timeseries.sessionize(ev).count() == 0
    assert timeseries.ewma(ev).count() == 0
    assert windows.top_k_per_group(
        spark.createDataFrame([], "g string, x double, id bigint"), "g", "x", "id"
    ).count() == 0
    right = spark.createDataFrame([], "user_id bigint, ts timestamp, price double")
    left = spark.createDataFrame(
        [(1, 1, dt.datetime(2024, 1, 1))], "event_id bigint, user_id bigint, ts timestamp"
    )
    out = asof_join(left, right, on="user_id", left_ts="ts", right_ts="ts",
                    right_values=["price"])
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["asof_price"] is None


_asof_events = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),          # key
        st.integers(min_value=0, max_value=5000),       # ts seconds
    ),
    min_size=1,
    max_size=12,
)


@given(left_rows=_asof_events, right_rows=_asof_events,
       direction=st.sampled_from(["backward", "forward"]),
       tol=st.sampled_from([None, 600.0]))
@settings(**SETTINGS)
def test_asof_join_matches_pandas_merge_asof(spark, left_rows, right_rows,
                                             direction, tol):
    """Differential vs pandas.merge_asof over randomized inputs, both
    directions, with and without tolerance (allow_exact_matches=True ==
    strict=False). Right-side (key, ts) pairs are deduplicated so both
    engines' tie rules coincide."""
    import datetime as dt

    import pandas as pd

    def ts(s):
        return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)

    left = [(i, k, ts(s)) for i, (k, s) in enumerate(left_rows)]
    seen = set()
    right = []
    for k, s in right_rows:
        if (k, s) not in seen:
            seen.add((k, s))
            right.append((k, ts(s), float(k * 10000 + s)))
    ldf = spark.createDataFrame(left, "eid int, k int, ts timestamp")
    rdf = spark.createDataFrame(right, "k int, ts timestamp, val double")
    got = {
        r["eid"]: r["asof_val"]
        for r in asof_join(
            ldf, rdf, on="k", left_ts="ts", right_ts="ts",
            right_values=["val"], strict=False,
            tolerance_seconds=tol, direction=direction,
        ).collect()
    }
    lp = pd.DataFrame(left, columns=["eid", "k", "ts"]).sort_values("ts")
    rp = pd.DataFrame(right, columns=["k", "ts", "val"]).sort_values("ts")
    merged = pd.merge_asof(
        lp, rp, on="ts", by="k", direction=direction,
        allow_exact_matches=True,
        tolerance=(pd.Timedelta(seconds=tol) if tol is not None else None),
    )
    want = {
        int(r.eid): (None if pd.isna(r.val) else float(r.val))
        for r in merged.itertuples()
    }
    assert got == want


@given(series=st.lists(
    st.tuples(st.integers(min_value=1, max_value=2),
              st.floats(min_value=-100, max_value=100,
                        allow_nan=False, allow_infinity=False)),
    min_size=1, max_size=30))
@settings(**SETTINGS)
def test_ewma_matches_pandas_ewm(spark, series):
    """Differential vs pandas ewm(alpha, adjust=True).mean(): the batch
    operator is the 50-step-truncated form of exactly that, so on series
    up to 30 points the two agree to the documented (1-alpha)^window
    bound (~2e-8 of range — here indistinguishable from exact)."""
    import datetime as dt

    import pandas as pd

    from airflow_etl_elt_spark.operators.timeseries import ewma

    rows = [
        (i, k, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i), v)
        for i, (k, v) in enumerate(series)
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, user_id bigint, ts timestamp, value double"
    )
    got = {r["event_id"]: r["ewma"] for r in ewma(df).collect()}
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "ts", "value"])
    for _, sub in pdf.sort_values(["ts", "event_id"]).groupby("user_id"):
        want = sub["value"].ewm(alpha=0.3, adjust=True).mean()
        for eid, w in zip(sub["event_id"], want):
            assert abs(got[eid] - float(w)) < 1e-9, eid


def test_surrogate_key_distributed_two_live_results(spark):
    """keep=2 rotation (ADVICE r5): a second surrogate_key_distributed call
    before the first result is consumed must not evict the first call's
    pinned frame — both results still number 1..N correctly when consumed
    AFTER both calls."""
    from airflow_etl_elt_spark.operators.relational import (
        surrogate_key_distributed,
    )

    a = surrogate_key_distributed(spark.range(0, 500, 1, 5).selectExpr("id AS k"))
    b = surrogate_key_distributed(spark.range(0, 300, 1, 3).selectExpr("id AS k"))
    # consume in reverse order of creation: the first frame must survive
    assert sorted(r["id"] for r in b.collect()) == list(range(1, 301))
    assert sorted(r["id"] for r in a.collect()) == list(range(1, 501))


def test_rotate_persist_keep_bounds_live_cache(spark):
    """The rotation still bounds the live cache: under keep=1 a third call
    leaves exactly one persisted frame under the tag; under keep=2, two."""
    from airflow_etl_elt_spark.operators._cache import _LIVE, rotate_persist

    for tag, keep, want in (("__t_k1", 1, 1), ("__t_k2", 2, 2)):
        for i in range(3):
            rotate_persist(tag, spark.range(i + 1), keep=keep)
        assert len(_LIVE[tag]) == want
        for df in _LIVE.pop(tag):
            df.unpersist()


def test_rotate_persist_repeated_plan_stays_cached(spark):
    """Frames with the same plan share ONE cache entry. Rotating out an
    older frame must not unpersist the entry the returned frame (and, under
    keep=2, the frame before it) still reads: keep=1's second identical
    call and keep=2's last two of three come back cached."""
    from airflow_etl_elt_spark.operators._cache import _LIVE, rotate_persist

    def cached(df):
        level = df.storageLevel
        return level.useMemory or level.useDisk

    for keep, calls in ((1, 2), (2, 3)):
        tag = f"__t_same{keep}"
        frames = [
            rotate_persist(tag, spark.range(7).selectExpr("id * 3 AS x"), keep=keep)
            for _ in range(calls)
        ]
        assert all(cached(df) for df in frames[-keep:])
        assert sorted(r["x"] for r in frames[-1].collect()) == [3 * i for i in range(7)]
        for df in _LIVE.pop(tag):
            df.unpersist()


def test_dedup_minhash_second_fresh_build_reads_cached_signatures(spark, monkeypatch):
    """A second fresh build of dedup_minhash has the same signature plan as
    the first; it must read the signatures from the cache (one UDF pass)
    rather than re-running the signature UDF for every consumer."""
    from airflow_etl_elt_spark.queries import QUERIES

    monkeypatch.setenv("SPARK_GRAFT_PLAN_CACHE", "0")
    first = sorted(map(tuple, QUERIES["dedup_minhash"](spark, SF_SMOKE).collect()))
    again = QUERIES["dedup_minhash"](spark, SF_SMOKE)
    assert sorted(map(tuple, again.collect())) == first
    assert "InMemoryTableScan" in again._jdf.queryExecution().executedPlan().toString()


def test_exact_median_histogram_regimes(spark, monkeypatch):
    """The histogram-bracketed exact median (r6 rewrite of the GK-sketch
    bracket) matches F.median in every regime on real data: stats
    bootstrap, no-stats fallback, deliberately WRONG bounds (must stay
    exact — bounds are planning hints, membership/ranks never depend on
    them), and forced multi-level refinement."""
    from airflow_etl_elt_spark.operators import aggregates
    from airflow_etl_elt_spark.sources.readers import read_table, table_column_stats

    li = read_table(spark, "/root/testdata/sf0.001", "lineitem")
    g, v = "l_returnflag", "l_extendedprice"
    truth = {
        r[0]: float(r[1])
        for r in li.groupBy(g).agg(F.expr(f"cast(median({v}) as double)")).collect()
    }
    stats = table_column_stats("/root/testdata/sf0.001", "lineitem", v)
    assert stats is not None and stats[2] == li.count()
    variants = {
        "bootstrap": dict(value_bounds=(stats[0], stats[1]), total_rows=stats[2]),
        "fallback": {},
        "wrong_bounds": dict(value_bounds=(50000.0, 50001.0), total_rows=stats[2]),
    }
    for label, kw in variants.items():
        got = {
            r[0]: r[1]
            for r in aggregates.grouped_exact_median(li, g, v, **kw).collect()
        }
        assert got.keys() == truth.keys(), label
        assert all(abs(got[k] - truth[k]) < 1e-9 for k in truth), (label, got)

    # forced deep refinement: selection threshold of 4 rows makes every
    # group run multiple levels (and exercises per-group convergence pads)
    monkeypatch.setattr(aggregates, "_SELECT_MAX_ROWS", 4)
    got = {
        r[0]: r[1] for r in aggregates.grouped_exact_median(li, g, v).collect()
    }
    assert all(abs(got[k] - truth[k]) < 1e-9 for k in truth), got


def test_exact_median_histogram_edge_shapes(spark, monkeypatch):
    """Edge distributions through the histogram median: even
    counts (interpolation), singletons, all-tie groups (zero-width exit),
    NULLs (excluded), NaN (ranks above +inf, Spark sort order), and a
    near-tie packing that exhausts refinement yet stays exact via the
    value-compressed selection."""
    import math

    from airflow_etl_elt_spark.operators import aggregates

    monkeypatch.setattr(aggregates, "_SELECT_MAX_ROWS", 2)
    rows = (
        [("even", float(x)) for x in (1, 2, 3, 4)]
        + [("single", 5.0)]
        + [("ties", 7.0)] * 9
        + [("nulls", None), ("nulls", 1.0), ("nulls", 3.0)]
        + [("nan", float("nan")), ("nan", 1.0), ("nan", 2.0)]
        + [("packed", 1.0 + i * 1e-13) for i in range(7)]
    )
    df = spark.createDataFrame(rows, "g string, v double")
    got = {r[0]: r[1] for r in aggregates.grouped_exact_median(df, "g", "v").collect()}
    exp = {"even": 2.5, "single": 5.0, "ties": 7.0, "nulls": 2.0, "nan": 2.0,
           "packed": 1.0 + 3 * 1e-13}
    assert got.keys() == exp.keys()
    for k, want in exp.items():
        assert abs(got[k] - want) < 1e-15 or (math.isnan(got[k]) and math.isnan(want)), (k, got[k])


# text corpora for the incremental-dedup invariant: small vocab + repeated
# phrases maximizes real near-dup pairs; empty/whitespace/None texts exercise
# the signature pass's null contract
_words = st.sampled_from(["the", "cat", "sat", "on", "a", "mat", "dog", "ran"])
_texts = st.one_of(
    st.none(),
    st.just("   "),
    st.lists(_words, min_size=0, max_size=12).map(" ".join),
)
_corpora = st.lists(_texts, min_size=0, max_size=14)


@given(texts=_corpora)
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
def test_incremental_dedup_equals_one_shot_cross_pairs(spark, tmp_path_factory, texts):
    """For ANY corpus: splitting it into corpus/increment, persisting the
    corpus signatures, and joining the increment against the index must find
    exactly the one-shot operator's pairs that cross the split — same
    sketch, same banding, same verify, different pairing discipline."""
    from airflow_etl_elt_spark.operators.dedup import (
        minhash_incremental_pairs,
        minhash_index_write,
        minhash_lsh_pairs,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    docs = (
        spark.createDataFrame(rows, "doc_id bigint, text string")
        if rows
        else spark.createDataFrame([], "doc_id bigint, text string")
    )
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    new = docs.filter(F.col("doc_id") % 3 == 0)
    idx = str(tmp_path_factory.mktemp("idx") / "sigs")
    minhash_index_write(corpus, idx)
    got = sorted(
        (r["id_new"], r["id_corpus"], round(r["est_jaccard"], 9))
        for r in minhash_incremental_pairs(spark, idx, new, threshold=0.0).collect()
    )
    want = sorted(
        ((a, b) if a % 3 == 0 else (b, a)) + (round(j, 9),)
        for a, b, j in (
            (r["id_a"], r["id_b"], r["est_jaccard"])
            for r in minhash_lsh_pairs(docs, threshold=0.0).collect()
        )
        if (a % 3 == 0) != (b % 3 == 0)
    )
    assert got == want
