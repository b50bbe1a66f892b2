"""Deduplication: exact, fingerprint, MinHash+LSH, SimHash, n-gram Jaccard.

North-star operators for training-data pipelines. Design per method:

- **Exact**: groupBy the content (or its md5 fingerprint — 16 bytes beats
  shuffling full documents at 100 TB), keep min(doc_id) as canonical.
- **MinHash + LSH**: shingle → 64 minhash values via universal hashing over
  deterministic token hashes → band into b bands of r rows → exact-match join
  on band signature → candidate pairs → estimate Jaccard as fraction of
  agreeing minhashes. Signatures come from one Arrow-batched NumPy pandas_udf
  (see ``minhash_signatures`` for why JVM higher-order-function forms lose);
  everything after is built-in (groupBy/join). The band join is the scale
  trick: candidates ~ O(near-dup pairs), never the O(n²) cross product.
- **SimHash**: 64-bit weighted-majority hash of token hashes; near-dup =
  small Hamming distance. Banded on 4×16-bit chunks for candidate generation
  (two sketches within Hamming ≤ 3 must share at least one of 4 chunks).
- **n-gram Jaccard**: exact verification on candidate pairs only.

Public-knowledge algorithms: Broder 1997 (MinHash), Indyk-Motwani 1998 (LSH),
Charikar 2002 (SimHash), Leskovec-Rajaraman-Ullman MMDS ch. 3.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from airflow_etl_elt_spark import memo, regime
from airflow_etl_elt_spark.operators._cache import rotate_persist
from airflow_etl_elt_spark.operators.relational import quote_ident
from airflow_etl_elt_spark.operators.text import (
    ASCII_LOWER_TABLE,
    WS_RE,
    ws_tokens,
)
from pyspark.sql.functions import pandas_udf


# Mersenne prime 2^31-1: universal-hash modulus (h_i(x) = (a_i*x + b_i) mod p).
# Chosen < 2^31 so (h mod p) * a stays under 2^62 — Spark 4 runs ANSI mode by
# default and raises on int64 overflow rather than wrapping.
_P = (1 << 31) - 1

# Odd 64-bit golden-ratio constant for the rolling polynomial shingle hash.
_SHINGLE_MULT = np.uint64(0x9E3779B97F4A7C15)


def _batch_token_hashes(texts: "pd.Series") -> list:
    """Per-document uint64 token-hash arrays for one Arrow batch.

    Each UNIQUE token is MD5-hashed once per batch (Zipf's law: vocabulary is
    tiny next to token count, so this cuts hash calls ~10-50x vs per-shingle
    hashing). MD5-first-8-bytes keeps hashes deterministic across sessions,
    executors, and Python hash seeds. Returns None for null/empty documents.

    Tokenization is the EXPLICIT class ``WS_RE`` — not ``str.split()``,
    which also splits on Unicode whitespace (\\u00a0, \\u2003, …) and the
    \\x1c-\\x1f separators, silently diverging from the DuckDB oracles'
    RE2 class on any corpus containing them (the same portability family
    as the r3 ``\\x0B`` advisory, closed here preemptively for the
    minhash/simhash sketches).
    """
    import hashlib
    import re

    ws = re.compile(WS_RE)
    token_lists = [
        [tok for tok in ws.split(t.translate(ASCII_LOWER_TABLE)) if tok]
        if t is not None
        else None
        for t in texts
    ]
    vocab: dict[str, int] = {}
    for toks in token_lists:
        if toks:
            for tok in toks:
                if tok not in vocab:
                    vocab[tok] = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "little")
    out = []
    for toks in token_lists:
        if not toks:
            out.append(None)
        else:
            out.append(np.fromiter((vocab[t] for t in toks), dtype=np.uint64, count=len(toks)))
    return out


def _shingle_hashes_from_tokens(th: np.ndarray, k: int) -> np.ndarray:
    """uint64 hashes of the k-token shingles, as a vectorized rolling
    polynomial over the token hashes (wrapping mod 2^64). Documents shorter
    than k yield one shingle (zero-padded)."""
    if len(th) < k:
        th = np.concatenate([th, np.zeros(k - len(th), dtype=np.uint64)])
    n_sh = len(th) - k + 1
    acc = np.zeros(n_sh, dtype=np.uint64)
    for j in range(k):
        acc = acc * _SHINGLE_MULT + th[j : j + n_sh]
    return acc


def exact_dedup(documents: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Canonical id + copy count per distinct content (hash-groupBy dedup).

    Groups by md5(content), NOT the content itself: the shuffle then carries
    a 32-byte digest per row instead of the document body — at 100 TB of
    multi-KB documents that is the difference between shuffling 100 TB and
    shuffling ~30 GB. 128-bit md5 makes an accidental collision (two distinct
    texts merged) vanishingly unlikely (~n²/2¹²⁹); pipelines that cannot
    tolerate even that use the md5 pass as a candidate filter and re-verify
    the rare multi-member groups against the raw text.

    Mode-keyed plan shape (see ``regime.fuse``): prepared
    mode stays distributed at every size (execution-only at sf0.1: 0.055 s
    distributed vs 0.078 s single-task); FRESH builds of small inputs fuse
    to one stage (one job instead of two plus an exchange). Re-won fresh,
    sf0.1, 20 pairs: 0.161 vs 0.208 s wall (lower in 20).
    """
    documents = regime.fuse(documents.select(id_col, text_col))
    return (
        documents.groupBy(F.md5(F.col(text_col)).alias("__h"))
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("canonical_id", "n_copies")
    )


def decontaminate(
    corpus: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: drop every training document that shares
    at least one word n-gram with the eval/benchmark set (the GPT-3-style
    13-gram rule, Brown et al. 2020 §C — n is a parameter; implemented from
    the published description).

    Scale shape: both sides explode to (id, gram-digest) — the shuffle
    carries an 8-byte ``xxhash64`` digest, never the n-gram string, same
    policy as :func:`exact_dedup` (a digest collision can only
    FALSE-POSITIVE a doc into removal, ~n²/2⁶⁴; pipelines that can't accept
    that re-verify flagged docs against raw grams). The DuckDB oracle joins
    the raw gram STRINGS instead — same surviving set absent a collision —
    which frees the Spark side to use the JVM-native hash (measured ~1.7x
    over md5-hex+conv end to end). Eval grams are distinct-ed before the
    join (eval sets are tiny vs the corpus, so the semi-join build side is
    small — typically broadcast), contaminated ids come from one semi-join
    + distinct, and survivors via anti-join. No window, no all-pairs,
    O(corpus grams) end to end.
    """
    qid = quote_ident(id_col)

    def gram_digests(df: DataFrame) -> DataFrame:
        # Explode the INDEX sequence, not the gram array: if the generator's
        # input is the materialized gram array, InferFiltersFromGenerate
        # synthesizes a size(grams)>0 filter and predicate pushdown inlines
        # the whole gram pipeline (split per transform element — O(T²) regex
        # work) into the scan filter, which measured ~10x the cost of the
        # grams themselves. With an index generator the inferred filter only
        # wraps sequence(), and each gram is built once per output row from
        # the bound token column.
        # SQL-text build path (OPTIMIZATION r13): the explode/digest steps
        # parse as strings — identical trees (int literals, xxhash64's 42
        # seed and array_join all parse to what the Column ops built;
        # physical plan identical, plans/r13 dumps). ws_tokens stays a
        # Column so the WS_RE regex literal is never re-escaped by hand.
        tokd = df.select(
            F.col(qid), ws_tokens(F.col(quote_ident(text_col))).alias("__toks")
        ).filter(F.size("__toks") >= n)
        idx = tokd.selectExpr(
            qid,
            "__toks",
            f"explode(sequence(1, size(__toks) - {int(n) - 1})) AS __i",
        )
        return idx.selectExpr(
            qid,
            f"xxhash64(array_join(slice(__toks, __i, {int(n)}), ' ')) AS __digest",
        )

    eval_grams = gram_digests(eval_docs).select("__digest").distinct()
    contaminated = (
        gram_digests(corpus)
        .join(eval_grams, "__digest", "left_semi")
        .select(qid)
        .distinct()
    )
    return corpus.join(contaminated, id_col, "left_anti")


def dedup_keep_first(documents: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """Keep the min-``order_col`` row per key — deterministic dropDuplicates.

    ``dropDuplicates`` keeps an arbitrary row; pipelines that must be
    reproducible use this min_by form instead (single shuffle, no window).
    """
    others = [c for c in documents.columns if c not in key_cols]
    return documents.groupBy(*key_cols).agg(
        *[F.min_by(c, order_col).alias(c) for c in others]
    )


def minhash_signatures(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_k: int = 5,
    seed: int = 42,
) -> DataFrame:
    """(id, sig: array<bigint>[num_hashes]) MinHash signatures.

    One NumPy pandas_udf does shingling + hashing + the 64-permutation min
    ((a_i*h + b_i) mod p, deterministic a_i/b_i from ``seed``) per Arrow
    batch. Token hashes are MD5-first-8-bytes computed once per unique token
    per batch (``_batch_token_hashes``); shingle hashes are a vectorized
    rolling polynomial over them. Three all-JVM alternatives were measured
    and rejected: 64 × array_min(transform(...)) and
    transform(xxhash64(concat_ws(slice(...)))) both run interpreted
    (higher-order-function bodies are not codegen'd) at ~10-20 ms/doc vs
    this UDF's ~0.05 ms/doc; a fully-codegen'd explode-shingles →
    64-column min aggregation (no HOFs at all) measured 1.48 s vs 1.04 s
    end-to-end at sf0.1 — the per-shingle row explosion turns 64 longs/doc
    of agg traffic into one shuffled row per shingle. Scale shape: ``fan_out`` guarantees the pass uses
    every core even from a few-big-files layout; no shuffle of text beyond
    that; signatures (64 longs/doc) are what flows onward.
    """
    # The UDF object is memoized per parameter tuple (OPTIMIZATION r12):
    # pandas_udf() registration costs ~40 ms of py4j per call and the
    # closure (seeded a/b permutation arrays + shingle_k) is a pure function
    # of the arguments — same UDF object, same execution.
    sig_udf = memo.get(
        "udfs",
        ("minhash_sig", num_hashes, shingle_k, seed),
        lambda: _minhash_sig_udf(num_hashes, shingle_k, seed),
    )
    # Null/empty docs are dropped BEFORE the UDF with a cheap column
    # predicate (precisely the texts for which the UDF yields null: null or
    # whitespace-only → zero tokens). Filtering on sig_udf's OUTPUT instead
    # is a planner trap: Catalyst pushes the filter below the fan_out
    # repartition and re-inlines the UDF into it, so the signature pass ran
    # TWICE — once single-threaded on the pre-repartition layout (a whole
    # corpus on one worker: measured 0.72 s of the old 0.92 s stage time at
    # sf0.1) and again 32-way above. Same optimizer-trap family as the
    # InferFiltersFromGenerate pushdown documented in SCALING.md.
    # "has at least one token" in the portable ws_tokens contract — a
    # trim-based emptiness test diverges between Java and DuckDB on
    # unicode whitespace (see text.ws_tokens)
    nonempty = documents.filter(F.size(ws_tokens(F.col(text_col))) > 0)
    # A small corpus stays on one Python worker. Its forced-branch A/B
    # (perfbench scale 0.02, fresh, 20 pairs of 3-call means: 0.707 vs
    # 0.913 CPU-s, lower in 18, gap under the IQR) missed the keep bar, but
    # fanning out raised perfbench sql_adhoc peak_rss_mb from 1367 to
    # 1822 MB (seed 800), past that metric's bound.
    src = nonempty.select(F.col(id_col).alias("id"), F.col(text_col))
    return regime.fan_out(src, min_bytes=regime.SMALL_BYTES).select(
        "id", sig_udf(text_col).alias("sig")
    )


def _minhash_sig_udf(num_hashes: int, shingle_k: int, seed: int):
    import random

    rng = random.Random(seed)
    a_np = np.array([rng.randrange(1, _P) for _ in range(num_hashes)], dtype=np.uint64)[:, None]
    b_np = np.array([rng.randrange(0, _P) for _ in range(num_hashes)], dtype=np.uint64)[:, None]
    p = np.uint64(_P)

    @pandas_udf("array<long>")
    def sig_udf(texts: pd.Series) -> pd.Series:
        # A fourth alternative was measured and REJECTED in r10: a whole-
        # batch form (Arrow-kernel tokenization + one flat rolling poly +
        # np.minimum.reduceat over per-doc segments — see SCALING.md
        # "Round-10 addendum 2"). At the 100x replica it ran 3.91 s vs
        # this loop's 2.12 s on an identical agg sink: the per-doc (64 x
        # n_shingles) blocks here stay L2-resident (~25 KB) and only 64
        # longs/doc touch RAM, while the flat form streams
        # (chunk x millions)-element intermediates to memory 64/chunk times
        # per batch — vectorization traded a small Python-loop overhead for
        # a memory-bandwidth-bound pipeline and lost. The signature pass is
        # also NOT the at-scale cost: 0.75 s of dedup_minhash's 48 s at
        # 100x — the key is pair-cardinality-bound (same addendum).
        out = []
        for th in _batch_token_hashes(texts):
            if th is None:
                out.append(None)
                continue
            h = _shingle_hashes_from_tokens(th, shingle_k) % p  # < 2^31: products fit u64
            m = ((h[None, :] * a_np + b_np) % p).min(axis=1)
            out.append(m.astype(np.int64))
        return pd.Series(out)

    return sig_udf


def _banded_ids(sigs: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(id, band_id, band_sig) rows: each signature's ``bands`` compact
    64-bit band keys (xxhash64 of the band's minhash slice). Shared by the
    one-shot self-join (``minhash_lsh_pairs``) and the incremental
    index-join (``minhash_incremental_pairs``) so both sides of any band
    join are guaranteed byte-identical key derivations."""
    # SQL-text form (OPTIMIZATION r12): the nested-Column build of the 16
    # band expressions cost ~200 py4j round trips (~0.25 s of driver time
    # per fresh build); the string parses to the identical plan —
    # xxhash64's 42 seed is appended by the function itself in both forms.
    band_exprs = ", ".join(
        f"xxhash64({b}, "
        + ", ".join(
            f"sig[{b * rows_per_band + r}]" for r in range(rows_per_band)
        )
        + ")"
        for b in range(bands)
    )
    return sigs.selectExpr(
        "id",
        f"posexplode(array({band_exprs})) AS (band_id, band_sig)",
    )


def minhash_index_write(
    documents: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_k: int = 5,
    seed: int = 42,
    mode: str = "overwrite",
) -> None:
    """Persist the corpus MinHash signature index — (id, sig:
    array<bigint>[num_hashes]) parquet at ``path``.

    The production shape for CONTINUOUS dedup at 100 TB: the corpus text is
    sketched exactly once (the expensive shingle+hash Arrow/NumPy pass over
    every byte), and each future increment joins against this persisted
    64-longs-per-doc index instead of re-reading corpus text. At 100 TB of
    text the index is ~0.05% of corpus bytes; appending each accepted
    increment's signatures (``mode="append"``) keeps it current without
    ever re-sketching."""
    minhash_signatures(
        documents, text_col, id_col, num_hashes, shingle_k, seed
    ).write.mode(mode).parquet(path)


def minhash_incremental_pairs(
    spark,
    index_path: str,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.5,
    seed: int = 42,
    broadcast_increment: bool = False,
) -> DataFrame:
    """Near-dup pairs between an INCREMENT and a persisted corpus index
    (``minhash_index_write``): (id_new, id_corpus, est_jaccard),
    est_jaccard ≥ ``threshold``.

    ``broadcast_increment``: pass True when the increment is bounded by
    construction — a streaming foreachBatch caller does, because its
    micro-batch frames carry no usable statistics yet are bounded by the
    trigger size. The default leaves every join to the planner: a
    size-gated broadcast tied it at sf0.1 in both plan-cache modes.

    This is the scale path one-shot ``minhash_lsh_pairs`` cannot be: a
    daily increment against an already-deduped 100 TB corpus must not
    re-sketch (or even re-read) the corpus. Plan shape:

    - the increment pays the signature UDF over ITS text only;
    - band keys are derived identically on both sides (``_banded_ids``)
      and equi-joined — with ``broadcast_increment`` the increment's
      banded frame is BROADCAST, so candidate generation is one map-side
      pass over the index with zero index shuffle;
    - the verify join re-reads only the surviving candidates' signatures:
      with ``broadcast_increment`` the increment's signature frame
      broadcasts (bounded by the increment), while the pairs ⋈ corpus-sigs
      join stays planner-decided — pair cardinality scales with corpus
      band matches, not increment bytes, so pairs are never broadcast (AQE
      upgrades the join at runtime when they turn out small). Without it
      every join keeps the distributed shape — correct at any size.

    Same sketch parameters must be passed as at index-build time (the
    signature function is deterministic in them)."""
    rows_per_band = num_hashes // bands
    idx = spark.read.parquet(index_path)
    new_sigs = rotate_persist(
        "minhash_inc_sigs",
        minhash_signatures(new_docs, text_col, id_col, num_hashes, shingle_k, seed),
    )
    new_banded = _banded_ids(new_sigs, bands, rows_per_band).select(
        "band_id", "band_sig", F.col("id").alias("id_new")
    )
    if broadcast_increment:
        new_banded = F.broadcast(new_banded)
    idx_banded = _banded_ids(idx, bands, rows_per_band).select(
        "band_id", "band_sig", F.col("id").alias("id_corpus")
    )
    pairs = (
        idx_banded.join(new_banded, ["band_id", "band_sig"])
        .select("id_new", "id_corpus")
        .dropDuplicates(["id_new", "id_corpus"])
    )

    # Verify: join pairs back to both sides' signatures. ONLY the
    # increment-side signature frame broadcasts (bounded by the increment
    # by construction); the pairs frame does NOT — its cardinality scales
    # with corpus band matches, not increment bytes (a boilerplate-heavy
    # increment can band-collide with millions of corpus docs), so
    # broadcasting it would collect an unbounded frame to the driver in
    # exactly the skewed-near-dup scenario dedup exists for (r6 review).
    # The pairs ⋈ corpus-sigs join stays planner-decided; AQE upgrades it
    # from accurate runtime sizes when pairs turn out small.
    sig_n = new_sigs.select(F.col("id").alias("id_new"), F.col("sig").alias("sig_a"))
    if broadcast_increment:
        sig_n = F.broadcast(sig_n)
    pj = pairs.join(sig_n, "id_new")
    sig_c = idx.select(F.col("id").alias("id_corpus"), F.col("sig").alias("sig_b"))
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    )
    return (
        sig_c.join(pj, "id_corpus")
        .select(
            "id_new",
            "id_corpus",
            (agree / F.lit(num_hashes)).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )


def minhash_lsh_pairs(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash LSH.

    bands=16 × rows=4 over 64 hashes → s-curve threshold ≈ (1/16)^(1/4) ≈ 0.5.
    Pipeline: signatures → explode into (band_id, band_sig) → self-join on
    exact band signature (a groupBy-based pair expansion, NOT a cross join) →
    distinct pairs → estimated Jaccard = agreeing-minhash fraction → filter.
    Returns (id_a, id_b, est_jaccard), id_a < id_b.
    """
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(documents, text_col, id_col, num_hashes, shingle_k, seed)
    # Materialize signatures EAGERLY (persist + count): lazy persist is not
    # enough — the two self-join sides below start as CONCURRENT stages, and
    # both would compute the uncached signature UDF in full before either
    # populates the cache (measured 2x the UDF cost). The count is one tiny
    # job over already-shuffled data.
    # Without any persist it is worse still: Catalyst inlines the signature
    # expression into all `bands` band columns AND both sides of the
    # self-join below — re-shingling every document ~2x`bands` times. With it,
    # shingling happens exactly once per document. This is also the 100 TB
    # shape: signatures are tiny (64 longs/doc) and typically land in a
    # persisted/bucketed intermediate table. rotate_persist bounds the live
    # cache to one signature frame across repeated calls (ADVICE r1).
    sigs = rotate_persist("minhash_sigs", sigs)

    # Band the signature into `bands` compact 64-bit keys (xxhash64 of the
    # band's minhash slice) and explode to (band_id, band_sig) rows carrying
    # ONLY the doc id — at scale the band join shuffles ids, never the
    # 64-long signatures (16x less traffic than joining sigs through).
    banded = _banded_ids(sigs, bands, rows_per_band)
    # Bucket = (band_id, band_sig). Pair expansion inside each bucket.
    left = banded.select("band_id", "band_sig", F.col("id").alias("id_a"))
    right = banded.select("band_id", "band_sig", F.col("id").alias("id_b"))
    # NOTE (r12, re-confirmed r13): fusing the pair distinct into the band
    # join via a narrow coalesce(1) was probed AGAIN this round to kill the
    # distinct's exchange job — and re-measured pathological (~11 s vs ~2 s
    # at sf0.1, same single-task serialization the r12 band-fusion probe
    # hit). The distributed distinct stands in both regimes.
    pairs = (
        left.join(right, ["band_id", "band_sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    # Fetch signatures only for the surviving candidate pairs (tiny next to
    # the corpus) and verify with the agreeing-minhash fraction. The
    # agreement expression is SQL text (fast build path, same tree).
    agree_sql = (
        "size(filter(zip_with(sig_a, sig_b, (x, y) -> CAST(x = y AS INT)), "
        "v -> v = 1))"
    )
    # Verify joins stay planner-decided (AQE broadcasts a small side from
    # runtime sizes); an explicit small-input broadcast tied this shape.
    sig_a = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sig_b = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    pj = pairs.join(sig_a, "id_a").join(sig_b, "id_b")
    return (
        pj.selectExpr(
            "id_a",
            "id_b",
            f"({agree_sql} / {float(num_hashes)!r}D) AS est_jaccard",
        )
        .filter(F.col("est_jaccard") >= threshold)
    )


def simhash(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
) -> DataFrame:
    """64-bit SimHash per document (Charikar 2002).

    Each token hashes to 64 bits (batch-vocab MD5); the sketch's bit j is the
    majority vote of token bits j, vectorized in one NumPy pandas_udf.
    Returns (id, simhash: bigint).
    """
    @pandas_udf("long")
    def simhash_udf(texts: pd.Series) -> pd.Series:
        # Bit j of the sketch = majority vote of token-hash bits j, fully
        # vectorized: unpack token hashes (batch-vocab MD5, deterministic)
        # to a (n_tokens × 64) bit matrix, column-sum, threshold at n/2.
        shifts = np.arange(bits, dtype=np.uint64)
        out = np.zeros(len(texts), dtype=np.int64)
        for i, h in enumerate(_batch_token_hashes(texts)):
            if h is None:
                continue
            bitsum = ((h[:, None] >> shifts[None, :]) & np.uint64(1)).sum(axis=0)
            set_bits = np.where(bitsum * 2 > len(h))[0]
            sketch = 0
            for j in set_bits:
                sketch |= 1 << int(j)
            # two's-complement fold into signed int64
            out[i] = sketch - (1 << 64) if sketch >= (1 << 63) else sketch
        return pd.Series(out)

    return regime.fan_out(documents.select(F.col(id_col).alias("id"), F.col(text_col))).select(
        "id", simhash_udf(text_col).alias("simhash")
    )


def simhash_near_pairs(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.

    Candidate generation: band the 64-bit sketch into 4 × 16-bit chunks —
    any pair within Hamming ≤ 3 agrees exactly on ≥1 chunk (pigeonhole), so
    an equi-join on (chunk_id, chunk_value) finds all of them without a cross
    join. Exact Hamming verified with bit_count(xor).
    """
    # Eager persist for the same concurrent-self-join reason as in
    # minhash_lsh_pairs: without it both join sides compute the sketch UDF.
    sk = rotate_persist("simhash_sketches", simhash(documents, text_col, id_col))
    chunks = sk.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), 16 * c).bitwiseAND(F.lit(0xFFFF))
                    for c in range(4)
                ]
            )
        ).alias("chunk_id", "chunk_val"),
    )
    a = chunks.select("chunk_id", "chunk_val", F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"))
    b = chunks.select("chunk_id", "chunk_val", F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"))
    return (
        a.join(b, ["chunk_id", "chunk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def ngram_jaccard_verify(
    documents: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Exact word-n-gram Jaccard on candidate pairs (id_a, id_b) only.

    The verify stage of the candidate→verify dedup pattern: join the (small)
    candidate set back to the texts, then exact set math per pair in an
    Arrow-batched pandas_udf (Python set ops on ~100 shingles/doc are
    microseconds; the all-builtin array_intersect form was measured 8x slower
    because the interpreted shingle-array construction re-runs per join
    side). Returns (id_a, id_b, jaccard ≥ min_jaccard).
    """

    import re

    ws = re.compile(WS_RE)  # explicit class, never str.split (see
    # _batch_token_hashes: Unicode-whitespace portability vs the oracle)

    @pandas_udf("double")
    def jaccard_udf(ta: pd.Series, tb: pd.Series) -> pd.Series:
        out = np.zeros(len(ta))
        for i, (x, y) in enumerate(zip(ta, tb)):
            # NULL text = empty document: jaccard 0, never a crash (the
            # fixtures are regenerated every round; a NULL row must degrade,
            # not kill the verify stage).
            xt = ([t for t in ws.split(x.translate(ASCII_LOWER_TABLE)) if t]
                  if x is not None else [])
            yt = ([t for t in ws.split(y.translate(ASCII_LOWER_TABLE)) if t]
                  if y is not None else [])
            gx = {" ".join(xt[j : j + n]) for j in range(max(len(xt) - n + 1, 1))}
            gy = {" ".join(yt[j : j + n]) for j in range(max(len(yt) - n + 1, 1))}
            u = len(gx | gy)
            out[i] = len(gx & gy) / u if u else 0.0
        return pd.Series(out)

    ta = documents.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("text_a"))
    tb = documents.select(F.col(id_col).alias("id_b"), F.col(text_col).alias("text_b"))
    return (
        candidates.select("id_a", "id_b")
        .join(ta, "id_a")
        .join(tb, "id_b")
        .withColumn("jaccard", jaccard_udf("text_a", "text_b"))
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "jaccard")
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """Connected components over a near-dup pair graph → (id, component),
    component = the smallest node id in the component.

    Alternating large-star / small-star (Kiveris et al. 2014, "Connected
    Components in MapReduce and Beyond" — public algorithm), the
    MapReduce-native CC that converges in O(log n) rounds:

    - large-star: every node links its LARGER neighbors to the smallest node
      of its neighborhood (incl. itself);
    - small-star: every node links its smaller-or-equal neighbors (and
      itself) to that minimum.

    Each round is two groupBy-min aggregations + joins on ids only — no
    vertex state table, no message passing framework; at 100 TB the edge
    list is LSH candidate pairs (orders of magnitude smaller than the
    corpus), and rounds shrink it monotonically toward the star graph.
    Convergence is detected with an order-insensitive xxhash64 checksum of
    the edge set (cheap aggregate, no exceptAll shuffle-compare).

    This replaces the one-pass "transitive-lite" policy (r1) which could
    split an adversarial chain A~B~C (A,C sharing no band) into two
    components. Upgrade flagged in VERDICT r1 #7.
    """
    e = (
        pairs.select(
            F.col(id_a).cast("long").alias("u"), F.col(id_b).cast("long").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    prev_chk: tuple | None = None
    for _ in range(max_iters):
        # ---- large-star (on the symmetric neighborhood view)
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
        mins = sym.groupBy("u").agg(F.min("v").alias("__mn"))
        mins = mins.select("u", F.least(F.col("__mn"), F.col("u")).alias("__m"))
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("__m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # ---- small-star (on the canonical larger→smaller direction)
        d = large.select(
            F.greatest(F.col("u"), F.col("v")).alias("u"),
            F.least(F.col("u"), F.col("v")).alias("v"),
        ).distinct()
        mins2 = d.groupBy("u").agg(F.min("v").alias("__m"))
        small = (
            d.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("__m").alias("v"))
            .union(d.join(mins2, "u").select("u", F.col("__m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # Iterative self-referencing plans double in size every round;
        # localCheckpoint truncates the lineage so round N's plan does not
        # embed rounds 1..N-1 (persist alone leaves the logical plan growing
        # and Catalyst analysis goes exponential). Eager → one job per round.
        # On a real cluster with lossy executors, swap for a reliable
        # checkpoint dir (sc.setCheckpointDir + .checkpoint()).
        e = small.localCheckpoint(eager=True)
        chk_row = e.agg(
            F.count(F.lit(1)).alias("n"),
            # bit_xor is order-insensitive and cannot overflow under ANSI
            # mode (sum(xxhash64) can)
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).collect()[0]
        chk = (chk_row["n"], chk_row["h"])
        if chk == prev_chk:
            break
        prev_chk = chk
    # at convergence every non-minimum node points straight at its component
    # minimum; minima (and any singleton callers ask about) map to themselves
    comp = e.select(F.col("u").alias("id"), F.col("v").alias("component"))
    roots = e.select(F.col("v").alias("id")).distinct().withColumn(
        "component", F.col("id")
    )
    return comp.unionByName(roots).distinct()


def _token_segments(
    documents: DataFrame,
    window: int,
    text_col: str,
    id_col: str,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Non-overlapping ``window``-token segments per document, as
    (id, [extra...], seg_idx, __dig = md5(segment text), seg_len).

    The shared segmentation primitive behind :func:`segment_dedup` and
    :func:`boilerplate_segments` — the paragraph analogue for corpora whose
    documents carry no structural delimiters (the driver fixtures are
    single-line). Real paragraph-structured corpora would split on the
    delimiter instead; everything downstream of the digest is identical.

    Plan shape per the SCALING.md n-gram lessons: tokens are materialized
    through a projection boundary, the generator input is the cheap index
    sequence (InferFiltersFromGenerate's synthetic filter then wraps only
    ``sequence()``), and each segment is built once per output row from the
    bound token column. Downstream shuffles carry the 32-char digest, never
    segment text — the :func:`exact_dedup` digest policy.
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    tokd = documents.select(
        id_col, *extra_cols, ws_tokens(text).alias("__toks")
    )
    # ceil(size/window) in exact integer form; greatest(1, ...) keeps the
    # every-document-has->=1-segment contract for token-less documents
    # (their single segment digests '' with seg_len 0)
    n_seg = F.greatest(
        F.lit(1),
        ((F.size("__toks") + F.lit(window - 1)) / F.lit(window)).cast("int"),
    )
    idx = tokd.select(
        id_col,
        *extra_cols,
        "__toks",
        F.explode(F.sequence(F.lit(0), n_seg - F.lit(1))).alias("seg_idx"),
    )
    piece = F.slice("__toks", F.col("seg_idx") * window + 1, window)
    return idx.select(
        id_col,
        *extra_cols,
        "seg_idx",
        F.md5(F.array_join(piece, " ")).alias("__dig"),
        F.size(piece).cast("bigint").alias("seg_len"),
    )


def segment_dedup(
    documents: DataFrame,
    window: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document segment-level deduplication — the MassiveText/CCNet
    paragraph-dedup rule (Rae et al. 2021 §A1.2; Wenzek et al. 2019 §3.1
    describe the rule family; implemented from the descriptions) at fixed
    token-window granularity: a segment seen in an earlier document (or
    earlier in the same document) is a duplicate; only its first occurrence
    by (doc_id, seg_idx) is kept.

    Returns per-document hygiene stats: n_segments, n_kept, kept_tokens,
    kept_ratio. Deterministic — the keep set is a pure function of the data,
    so the op is exactly oracle-checkable.

    Scale shape: one shuffle on the segment digest (32 chars + two ids per
    row, never text) for the first-occurrence window, one shuffle on doc_id
    for the rollup. The window partitions by digest — group size = copies of
    one segment, bounded by duplication not corpus size, so no mega-group
    funnel. O(total segments) end to end; no all-pairs anything.
    """
    from pyspark.sql import Window

    segs = _token_segments(documents, window, text_col, id_col)
    w = Window.partitionBy("__dig").orderBy(id_col, "seg_idx")
    ranked = segs.withColumn("__rn", F.row_number().over(w))
    kept = (F.col("__rn") == 1).cast("bigint")
    return (
        ranked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(kept).alias("n_kept"),
            F.sum(F.col("seg_len") * kept).alias("kept_tokens"),
        )
        .withColumn("kept_ratio", F.col("n_kept") / F.col("n_segments"))
    )


def boilerplate_segments(
    documents: DataFrame,
    window: int = 10,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str | None = None,
) -> DataFrame:
    """Boilerplate detection: a segment is boilerplate when it appears in at
    least ``min_docs`` DISTINCT documents (optionally scoped per
    ``source_col`` — the 'same site header/footer' rule; global when None).
    Unlike :func:`segment_dedup` every occurrence of a boilerplate segment
    is flagged, including the first — boilerplate is removed everywhere,
    not kept once.

    Returns per-document stats: n_segments, n_boiler, boiler_ratio.

    Scale shape: segment digests aggregate to distinct-doc counts (two-phase
    countDistinct shuffle on [source,] digest), then join back onto the
    segment stream on the same key — Catalyst reuses the agg-side hash
    partitioning, so the join adds one exchange for the probe side only —
    then one rollup shuffle on doc_id. Digest-only traffic throughout.
    """
    scope = (source_col,) if source_col else ()
    segs = _token_segments(documents, window, text_col, id_col, extra_cols=scope)
    keys = [*scope, "__dig"]
    freq = segs.groupBy(*keys).agg(F.countDistinct(id_col).alias("__ndocs"))
    flagged = segs.join(freq, keys)
    boiler = (F.col("__ndocs") >= min_docs).cast("bigint")
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(boiler).alias("n_boiler"),
        )
        .withColumn("boiler_ratio", F.col("n_boiler") / F.col("n_segments"))
    )
