"""Expected results: every catalog key's ``ORACLE_SQL`` run by DuckDB over the
same parquet files, canonicalized the way ``tests/test_oracle.py`` does
(values rounded to 9 significant digits, columns sorted by name, rows sorted)
and reduced to a digest that each fetched pandas result is compared with."""

from __future__ import annotations

import datetime as dt
import hashlib
import math

import numpy as np
import pandas as pd

TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def _canon(v):
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return float(f"{int(v):.9g}")
    if isinstance(v, (float, np.floating)):
        # pandas turns SQL NULL in numeric columns into NaN
        if math.isnan(v):
            return None
        return 0.0 if v == 0 else float(f"{float(v):.9g}")
    if isinstance(v, (pd.Timestamp, dt.datetime, dt.date)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon(x) for x in v)
    return v


def digest(columns: list[str], rows) -> str:
    """Order-insensitive digest of a result: sorted column names, then the
    canonical rows in sorted order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(
        (tuple(_canon(r[i]) for i in order) for r in rows),
        key=lambda t: tuple(repr(x) for x in t),
    )
    h = hashlib.sha256(repr([columns[i] for i in order]).encode())
    for row in canon:
        h.update(repr(row).encode())
    return h.hexdigest()


def pandas_digest(pdf: pd.DataFrame) -> str:
    cols = list(pdf.columns)
    return digest(cols, pdf.itertuples(index=False, name=None))


def expected_digests(data_dir: str, keys: list[str], oracle_sql: dict, threads: int) -> dict:
    """{key: digest} from DuckDB with at most ``threads`` threads."""
    import duckdb

    con = duckdb.connect(config={"threads": max(1, threads)})
    try:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        out = {}
        for k in keys:
            res = con.sql(oracle_sql[k])
            out[k] = digest(list(res.columns), res.fetchall())
        return out
    finally:
        con.close()
