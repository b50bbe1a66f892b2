"""Differential tests: every oracle-backed query key is compared against
DuckDB at sf0.001 with the same discipline the driver uses at sf0.01 —
row count, column names, and order-insensitive values (floats rounded to
9 significant digits to absorb engine-level last-bit drift).

This is the local twin of the driver's CORRECTNESS gate, so divergence shows
up here before a round ends.
"""

from __future__ import annotations

import datetime as dt
import math

import pytest

from airflow_etl_elt_spark.queries import ORACLE_SQL, QUERIES, ROWS_ONLY_KEYS
from tests.conftest import SF_SMOKE


def _canon(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0:
            return 0.0
        # 9 significant digits
        return float(f"{v:.9g}")
    if isinstance(v, (dt.datetime, dt.date)):
        return str(v)
    return v


def _rows_canonical(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_canon(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


ORACLE_KEYS = sorted(ORACLE_SQL)


def _type_class(type_name: str) -> str:
    """Coarse type class used to detect integer-vs-decimal/float drift between
    engines (e.g. DuckDB sum(int) -> HUGEINT while Spark keeps BIGINT — the
    exact mismatch the driver's value-hash flags but equality-on-values
    comparison would miss). Order matters: containers before scalars
    ('INTEGER[]' must not classify as integer)."""
    t = type_name.lower()
    if "[]" in t or t.startswith(("array", "list")):
        return "array"
    if t.startswith(("struct", "map", "row")):
        return "struct"
    if "hugeint" in t or "int128" in t or "decimal" in t or "numeric" in t:
        return "decimal"
    if any(x in t for x in ("tinyint", "smallint", "bigint", "int")) or t in ("long", "short", "byte"):
        return "integer"
    if any(x in t for x in ("float", "double", "real")):
        return "float"
    if "bool" in t:
        return "bool"
    if "timestamp" in t:
        return "timestamp"
    if "date" in t:
        return "date"
    if any(x in t for x in ("string", "varchar", "utf8", "char")):
        return "string"
    if any(x in t for x in ("binary", "blob")):
        return "binary"
    return t


def _check_against_oracle(spark, duck, key):
    sdf = QUERIES[key](spark, SF_SMOKE)
    spark_rows = sdf.collect()
    spark_cols = sdf.columns

    res = duck.sql(ORACLE_SQL[key])
    duck_cols = list(res.columns)
    duck_types = [str(t) for t in res.types]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{key}: column mismatch {spark_cols} vs {duck_cols}"
    )
    # dtype drift check: compare coarse type classes column-by-column so
    # HUGEINT/DECIMAL-vs-BIGINT oracle typing bugs fail in pytest before the
    # driver's stricter value-hash sees them (ADVICE r1).
    spark_types = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
    for c, t in zip(duck_cols, duck_types):
        sc, dc = _type_class(spark_types[c]), _type_class(t)
        assert sc == dc, (
            f"{key}: column {c!r} type-class drift spark={spark_types[c]}({sc}) "
            f"vs duckdb={t}({dc}) — add an explicit CAST to the oracle SQL"
        )
    assert len(spark_rows) == len(duck_rows), (
        f"{key}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    s = _rows_canonical(spark_cols, [tuple(r) for r in spark_rows])
    d = _rows_canonical(duck_cols, duck_rows)
    mism = [i for i, (a, b) in enumerate(zip(s, d)) if a != b]
    assert not mism, f"{key}: first mismatched rows {[(s[i], d[i]) for i in mism[:3]]}"


@pytest.mark.parametrize("key", ORACLE_KEYS)
def test_query_matches_oracle(spark, duck, key):
    _check_against_oracle(spark, duck, key)


@pytest.mark.parametrize("key", ORACLE_KEYS)
@pytest.mark.parametrize("mode", ["fresh", "at_scale"])
def test_query_matches_oracle_in_regime(spark, duck, monkeypatch, mode, key):
    """The plans the size gates choose, against the same oracle: ``fresh``
    builds every key without the plan cache (the fused one-shot shapes);
    ``at_scale`` also inflates every plan-size estimate past every gate, so
    each key takes its distributed, 100 TB branch at fixture size."""
    from airflow_etl_elt_spark import regime

    monkeypatch.setenv("SPARK_GRAFT_PLAN_CACHE", "0")
    if mode == "at_scale":
        real = regime.plan_bytes
        monkeypatch.setattr(regime, "plan_bytes", lambda df: max(real(df), 1 << 40))
    _check_against_oracle(spark, duck, key)


@pytest.mark.parametrize("key", sorted(ROWS_ONLY_KEYS))
def test_rows_only_queries_run(spark, key):
    df = QUERIES[key](spark, SF_SMOKE)
    n = df.count()
    assert n >= 0
    assert df.columns


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.queries()) >= set(e.oracle_sql())


def test_self_checks_cover_rows_only_keys(spark):
    """Every oracle-less key appears in SELF_CHECKS (bench.py emits its
    pass/fail in the bench line — sample_frac joined in r10 with its
    set-level contract booleans); each registered column exists as a
    boolean in the query's schema and its gate passes at smoke SF."""
    from airflow_etl_elt_spark.queries import SELF_CHECKS

    # Superset, not equality: a key may carry BOTH an exact oracle and a
    # self-check (kde_per_group since its late-r6 oracle conversion — the
    # mass gate stays in the bench line as defense in depth).
    assert set(SELF_CHECKS) >= set(ROWS_ONLY_KEYS)
    for key, (col, floor_frac) in SELF_CHECKS.items():
        df = QUERIES[key](spark, SF_SMOKE)
        field = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        assert field.get(col) == "boolean", (key, col, field)
        row = df.selectExpr(
            f"avg(cast({col} as double)) as frac", "count(*) as n"
        ).first()
        frac = 1.0 if row["n"] == 0 else row["frac"]
        assert frac >= floor_frac, (key, col, frac)


def test_sample_frac_self_check_rejects_broken_sampler(spark, monkeypatch):
    """The sample_frac contract booleans must FAIL on an injected defect —
    a sampler that returns every drawn row twice (the with-replacement /
    double-union shape) lands ~2x outside the binomial 6-sigma band and
    overdraws every multiplicity-1 row, so both count_in_bounds and
    multiset_subset go false and the gate column sample_ok is false."""
    from airflow_etl_elt_spark.operators import relational

    real = relational.sample_fraction

    def doubled(df, fraction, seed=1):
        s = real(df, fraction, seed=seed)
        return s.unionAll(s)

    monkeypatch.setattr(relational, "sample_fraction", doubled)
    # the session-lived plan cache would replay the GOOD DataFrame built by
    # an earlier test — the checks are literals baked in at build time
    monkeypatch.setenv("SPARK_GRAFT_PLAN_CACHE", "0")
    row = (
        QUERIES["sample_frac"](spark, SF_SMOKE)
        .selectExpr(
            "min(count_in_bounds) as cb",
            "min(multiset_subset) as ms",
            "min(sample_ok) as ok",
        )
        .first()
    )
    assert row["cb"] is False and row["ms"] is False and row["ok"] is False


def test_tpch_q10_fk_guard_full_and_broken(spark, tmp_path):
    """q10's agg-before-customer-join takes the top-20 on the slim fact
    aggregate and only then joins customer — sound ONLY under the
    orders.o_custkey -> customer FK contract (VERDICT r10 advisory 1). The
    in-plan guard must (a) be invisible on a healthy fixture: exactly
    min(20, #custkey groups) rows come back; (b) raise LOUDLY on a fixture
    with dangling custkeys instead of silently returning fewer rows."""
    from pyspark.sql import functions as F

    from airflow_etl_elt_spark.queries import QUERIES

    # healthy fixture: the full 20 rows (sf0.001 has >20 active custkeys)
    assert QUERIES["tpch_q10"](spark, SF_SMOKE).count() == 20

    # broken-FK twin: same tables, but half the orders' custkeys dangle
    broken = str(tmp_path / "sfbroken")
    import os

    os.makedirs(broken, exist_ok=True)
    for t in ("customer", "lineitem", "nation"):
        os.symlink(f"{SF_SMOKE}/{t}.parquet", f"{broken}/{t}.parquet")
    spark.read.parquet(f"{SF_SMOKE}/orders.parquet").withColumn(
        "o_custkey",
        F.when(
            F.col("o_custkey") % 2 == 0, F.col("o_custkey") + 10_000_000
        ).otherwise(F.col("o_custkey")),
    ).write.mode("overwrite").parquet(f"{broken}/orders.parquet")
    with pytest.raises(Exception) as ei:
        QUERIES["tpch_q10"](spark, broken).collect()
    assert "FK contract broken" in str(ei.value)


def test_tpch_q10_fk_guard_all_dangling_and_duplicate(spark, tmp_path):
    """ADVICE r11 closes the two residuals of the count-window guard:
    (a) an ALL-dangling top-20 used to return an EMPTY frame with no row to
    raise from — the witness branch (slim left-joined against limit(1) of
    the probe) must raise loudly; (b) a duplicated c_custkey inflates the
    joined count, and the guard must name the duplicate-key breakage rather
    than misdescribe it as a missing customer row."""
    import os

    from pyspark.sql import functions as F

    from airflow_etl_elt_spark.queries import QUERIES

    # (a) every order's custkey dangles
    alldang = str(tmp_path / "sfalldang")
    os.makedirs(alldang, exist_ok=True)
    for t in ("customer", "lineitem", "nation"):
        os.symlink(f"{SF_SMOKE}/{t}.parquet", f"{alldang}/{t}.parquet")
    spark.read.parquet(f"{SF_SMOKE}/orders.parquet").withColumn(
        "o_custkey", F.col("o_custkey") + 10_000_000
    ).write.mode("overwrite").parquet(f"{alldang}/orders.parquet")
    with pytest.raises(Exception) as ei:
        QUERIES["tpch_q10"](spark, alldang).collect()
    assert "NO top-20 custkey" in str(ei.value)

    # (b) customer PK violated: every customer row appears twice
    dup = str(tmp_path / "sfdup")
    os.makedirs(dup, exist_ok=True)
    for t in ("orders", "lineitem", "nation"):
        os.symlink(f"{SF_SMOKE}/{t}.parquet", f"{dup}/{t}.parquet")
    cust = spark.read.parquet(f"{SF_SMOKE}/customer.parquet")
    cust.unionAll(cust).write.mode("overwrite").parquet(f"{dup}/customer.parquet")
    with pytest.raises(Exception) as ei:
        QUERIES["tpch_q10"](spark, dup).collect()
    assert "not unique" in str(ei.value)
