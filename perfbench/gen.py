"""Seeded input generator for the benchmark.

Two kinds of input:

- the catalog tables (TPC-H-ish star schema, ``events``, ``documents``,
  ``embeddings``), generated from a FIXED data seed so every run queries the
  same data and the oracle digests do not depend on ``--seed``;
- the per-run inputs that ``--seed`` decides: the ``etl_load`` key batches
  (a mix of new and already-present keys, as parquet files) with their
  expected write counts and digests, and the wine-shaped CSV with its
  expected counts. (``run.py`` draws the op order of every round from the
  same seed.)

The program under test only ever sees the files written here.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "value vector window data dup"
).split()
# a few marker words per language (operators/text.py LANG_MARKERS) so the
# language-id scoring sees real signal, not ties
LANG_WORDS = {
    "en": ["the", "and", "of", "to", "in", "is"],
    "fr": ["le", "la", "les", "des", "est", "une"],
    "es": ["el", "los", "las", "una", "por", "con"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2", "you3"],
}
LANGS = list(LANG_WORDS)
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
ADJ = ["large", "small", "red", "blue", "hot", "old", "new", "bright"]
NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "valve", "spring"]

WINE_COLS = [
    "fixed acidity", "volatile acidity", "citric acid", "residual sugar",
    "chlorides", "free sulfur dioxide", "total sulfur dioxide", "density",
    "pH", "sulphates", "alcohol", "quality",
]
WINE_ROWS = 4898


def _days(rng, n, start: dt.date, end: dt.date) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng, n: int) -> dict:
    """Word-salad documents with a language marker mix, planted exact
    duplicates and near-duplicates (one word changed) so exact dedup, MinHash
    and language id all have real work."""
    langs = rng.choice(LANGS, n, p=LANG_P)
    texts = []
    for i in range(n):
        k = int(rng.integers(10, 100))
        words = list(rng.choice(VOCAB, k))
        markers = LANG_WORDS[langs[i]]
        for pos in rng.integers(0, k, max(1, k // 6)):
            words[int(pos)] = markers[int(rng.integers(0, len(markers)))]
        texts.append(" ".join(words))
    for i in range(n):
        r = rng.random()
        if r < 0.02 and i > 0:  # exact duplicate of an earlier document
            texts[i] = texts[int(rng.integers(0, i))]
        elif r < 0.06 and i > 0:  # near duplicate: one word swapped
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = str(rng.choice(VOCAB))
            texts[i] = " ".join(words)
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs.tolist(), pa.string()),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def write_tables(out_dir: str, sf: float) -> None:
    """The catalog tables at scale factor ``sf`` (lineitem = 6M x sf rows)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_users = max(10, n_cust // 10)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": _money(rng, n_ord, 1000, 500_000),
        "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 2)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(rng, n_li, 900, 105_000),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_li).tolist(),
        "l_shipdate": _days(rng, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 5)),
    })
    month_us = 30 * 24 * 3600 * 10**6
    ts = np.sort(rng.integers(0, month_us, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev).tolist(),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    _write(out_dir, "documents", _documents(rng, n_docs))
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = (centers[labels] + rng.normal(0, 0.7, (n_emb, 64))).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def write_wine_csv(path: str, seed: int) -> dict:
    """Wine-shaped CSV (``;``-separated, spaced headers) and its expected
    counts: raw rows, rows with quality >= 7 and rows with
    total_sulfur_dioxide < 125 (the two pipeline filters)."""
    rng = np.random.default_rng(seed)
    feats = np.round(rng.uniform(0.0, 250.0, (WINE_ROWS, 11)), 3)
    quality = rng.choice(np.arange(3, 10), WINE_ROWS,
                         p=[0.01, 0.03, 0.3, 0.45, 0.17, 0.035, 0.005])
    with open(path, "w") as fh:
        fh.write(";".join(WINE_COLS) + "\n")
        for row, q in zip(feats, quality):
            fh.write(";".join(repr(float(v)) for v in row) + f";{int(q)}\n")
    # a full-row duplicate collapses onto one surrogate id only if every
    # column matches; uniform floats make that practically impossible
    return {
        "raw_rows": WINE_ROWS,
        "high_quality_rows": int((quality >= 7).sum()),
        "low_sulfur_rows": int((feats[:, 6] < 125.0).sum()),
    }


class EtlBatches:
    """Seeded key batches for ``etl_load``, made one at a time between ops,
    with what each keyed write must return.

    Each batch draws half its keys from those already loaded (updates, which
    insert-ignore skips) and half from a fresh key range just past the
    current maximum (inserts), so the keyed tables grow through the run and
    each batch's new keys form one tight range for the predicate read."""

    def __init__(self, out_dir: str, seed: int, base_rows: int = 4000,
                 batch_rows: int = 1000) -> None:
        self.out_dir = out_dir
        self.rng = np.random.default_rng(seed)
        self.batch_rows = batch_rows
        os.makedirs(out_dir, exist_ok=True)
        self.base_path = os.path.join(out_dir, "base.parquet")
        base = self._frame(np.arange(base_rows))
        pq.write_table(base, self.base_path)
        self.keys = np.arange(base_rows)
        self.values = dict(zip(base["event_id"].to_pylist(), base["value"].to_pylist()))
        self.key_sum = int(self.keys.sum())
        self.value_sum = float(sum(self.values.values()))
        self.appended = base_rows
        self.n = 0

    def _frame(self, keys: np.ndarray) -> pa.Table:
        n = len(keys)
        return pa.table({
            "event_id": pa.array(keys, pa.int64()),
            "user_id": pa.array(self.rng.integers(0, 500, n), pa.int64()),
            "event_type": self.rng.choice(EVENT_TYPES, n).tolist(),
            "value": np.round(self.rng.uniform(0, 100, n), 2),
        })

    def next(self) -> dict:
        """Write the next batch; return its path, size and expectations."""
        n_old = self.batch_rows // 2
        old = self.rng.choice(self.keys, n_old, replace=False)
        lo = int(self.keys[-1]) + 1
        new = np.arange(lo, lo + self.batch_rows - n_old)
        keys = np.concatenate([old, new])
        self.rng.shuffle(keys)
        t = self._frame(keys)
        path = os.path.join(self.out_dir, f"batch_{self.n:04d}.parquet")
        pq.write_table(t, path)
        self.n += 1
        for k, v in zip(t["event_id"].to_pylist(), t["value"].to_pylist()):
            self.value_sum += v - self.values.get(k, 0.0)
            self.values[k] = v
        self.keys = np.concatenate([self.keys, new])
        self.key_sum += int(new.sum())
        self.appended += t.num_rows
        return {
            "path": path,
            "rows": t.num_rows,
            "bytes": os.path.getsize(path),
            "ignore_appended": len(new),
            "upsert": (n_old, len(new)),
            "keyed_rows": len(self.keys),
            "key_sum": self.key_sum,
            "value_sum": self.value_sum,
            "append_rows": self.appended,
            "range": (lo, int(new[-1])),
        }
