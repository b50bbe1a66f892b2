"""Caller column names that contain a backtick must work through every
operator that interpolates names into SQL text: the names are quoted with
embedded backticks doubled (``relational.quote_ident``), so a name like
``g`x`` returns the same rows as the same column under a plain name."""

from __future__ import annotations

import pytest

import airflow_etl_elt_spark.operators.windows as W
from airflow_etl_elt_spark.operators.aggregates import (
    guarded_long_sum_agg,
    two_tier_dec_agg,
)
from airflow_etl_elt_spark.operators.dedup import decontaminate
from airflow_etl_elt_spark.operators.relational import quote_ident


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _frame(spark, group="g", order="x", tiebreak="id"):
    rows = [("a" if i % 3 else "b", float(i % 7), i) for i in range(40)]
    return spark.createDataFrame(rows, ["g", "x", "id"]).toDF(group, order, tiebreak)


def test_quote_ident_doubles_backticks():
    assert quote_ident("g") == "`g`"
    assert quote_ident("g`x") == "`g``x`"


def test_backtick_names_in_window_operators(spark, monkeypatch):
    plain = _frame(spark)
    odd = _frame(spark, "g`x", "o`r`d", "i`d")
    assert _rows(W.top_k_per_group(odd, "g`x", "o`r`d", "i`d", k=2)) == _rows(
        W.top_k_per_group(plain, "g", "x", "id", k=2)
    )
    assert _rows(W.ranking_suite(odd, "g`x", "o`r`d", "i`d")) == _rows(
        W.ranking_suite(plain, "g", "x", "id")
    )
    # the range-bucket composed plan builds its frames through the
    # DataFrame API's string column references
    monkeypatch.setattr(W, "RANK_COMPOSE_BYTES", 0)
    composed = W.ranking_suite(odd, "g`x", "o`r`d", "i`d")
    assert "__bkt" in composed._jdf.queryExecution().executedPlan().toString()
    assert composed.columns[:2] == ["i`d", "g`x"]
    assert _rows(composed) == _rows(W.ranking_suite(plain, "g", "x", "id"))


def test_backtick_id_column_in_decontaminate(spark):
    corpus_rows = [
        (1, "he said the quick brown fox appeared at dawn"),
        (2, "completely unrelated text about spark partitions"),
        (3, "quick brown fox jumps high"),
    ]
    eval_rows = [(100, "the quick brown fox jumps over the lazy dog")]

    def run(id_col, text_col):
        corpus = spark.createDataFrame(corpus_rows, ["doc_id", "text"]).toDF(
            id_col, text_col
        )
        eval_docs = spark.createDataFrame(eval_rows, ["doc_id", "text"]).toDF(
            id_col, text_col
        )
        return _rows(
            decontaminate(corpus, eval_docs, n=4, text_col=text_col, id_col=id_col)
        )

    assert run("d`id", "t`xt") == run("doc_id", "text") == [
        (2, "completely unrelated text about spark partitions")
    ]


@pytest.mark.parametrize("sql_text", [True, False])
def test_backtick_names_in_aggregate_builders(spark, sql_text):
    """SQL-text sums/counts take quoted backtick names; a Column value is
    rejected up front with the builder named (the grid-sum builders take
    SQL text only)."""
    from pyspark.sql import functions as F

    plain = _frame(spark)
    odd = _frame(spark, "g`x", "v`al", "id")

    if not sql_text:
        col = F.col(quote_ident("v`al"))
        with pytest.raises(TypeError, match="guarded_long_sum_agg"):
            guarded_long_sum_agg(odd, ["g`x"], {"s`um": col})
        with pytest.raises(TypeError, match="two_tier_dec_agg"):
            two_tier_dec_agg(odd, ["g`x"], sums={"s`um": col})
        with pytest.raises(TypeError, match="two_tier_dec_agg"):
            two_tier_dec_agg(
                odd, ["g`x"], sums={"s`um": quote_ident("v`al")}, counts={"n`": col}
            )
        return

    q = quote_ident
    got = guarded_long_sum_agg(odd, ["g`x"], {"s`um": q("v`al")})
    assert got.columns == ["g`x", "s`um"]
    assert _rows(got) == _rows(guarded_long_sum_agg(plain, ["g"], {"s": q("x")}))

    got = two_tier_dec_agg(
        odd, ["g`x"], sums={"s`um": q("v`al")}, counts={"n`": q("v`al")},
        count_star="c`",
    )
    assert got.columns == ["g`x", "s`um", "c`", "n`"]
    want = two_tier_dec_agg(
        plain, ["g"], sums={"s": q("x")}, counts={"n": q("x")}, count_star="c"
    )
    assert _rows(got) == _rows(want)
