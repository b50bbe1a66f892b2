"""Text analysis over the documents table: token counting, quality scoring,
language-ID heuristic, content fingerprinting.

North-star operators (no reference equivalent — the reference's only string op
is the column rename at utils.py:32). All hot-path logic is built-in column
expressions (regexp/split/length/md5) running in whole-stage codegen; no
Python UDFs anywhere in this module.

Perf note: marker counting uses ``regexp_count`` (single pass, no match-array
materialization) — measured ~7x faster than ``size(regexp_extract_all(...))``
on the sf0.1 documents table, and allocation-free at 100 TB scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from airflow_etl_elt_spark import memo

# Engine-portable whitespace class, used for every tokenizing split on the
# Spark side AND verbatim in the DuckDB oracle strings (queries.py). Java's
# \s includes vertical tab (\x0B) but RE2's does not, so a bare \s+ would
# segment text containing \v differently across the two engines and fail the
# value-hash oracle. The explicit class pins identical semantics in both.
WS_RE = r"[ \t\n\x0B\f\r]+"


def ws_tokens(col):
    """THE portable tokenization: split on the explicit class, drop empty
    tokens — with NO trim anywhere. Round-5 adversarial-fixture finding:
    Java's ``trim`` strips every char ≤ U+0020 while DuckDB's strips
    UNICODE whitespace (\\u00a0, \\u2003, …), so any trim-then-split
    pipeline diverges between the engines on documents with exotic
    leading/trailing whitespace. Dropping empty tokens after the class
    split makes trim semantics irrelevant: leading/trailing class-runs
    produce '' tokens that are removed, and non-class characters (unicode
    spaces, control separators) are token CHARACTERS on both engines.
    ``array_remove`` (not a higher-order filter) keeps the expression
    codegen'd. DuckDB twin:
    ``list_filter(string_split_regex(X, '[ \\t\\n\\x0B\\f\\r]+'), t -> t <> '')``.
    """
    return F.array_remove(F.split(col, WS_RE), "")


def ws_strip(col):
    """Strip leading/trailing runs of the WS_RE class — the engine-portable
    replacement for ``trim`` where a trimmed STRING (not tokens) is needed
    (character counts, fingerprint normalization). Same class on both
    engines via regexp_replace."""
    return F.regexp_replace(
        F.regexp_replace(col, "^" + WS_RE, ""), WS_RE + "$", ""
    )


def word_separated(col):
    """Engine-portable replacement for ``\\b``-bounded word matching: Java
    and RE2 DISAGREE on word boundaries adjacent to non-ASCII letters
    (probed: ``\\b(the)\\b`` against 'caféthe' counts 1 in Spark, 3 in
    DuckDB — é is a word char to one engine, not the other), and RE2 has
    no lookarounds to pin the class explicitly. Instead: collapse every
    run of non-[A-Za-z0-9_] chars to TWO spaces (two, so adjacent word
    matches never compete for a shared separator in non-overlapping
    counting) and pad the ends; word-list patterns then match as literal
    ``' (w1|w2) '`` — same alternation, explicit ASCII boundary, identical
    on both engines. DuckDB twin: ``WORD_SEPARATED_SQL``."""
    return F.concat(
        F.lit(" "), F.regexp_replace(col, "[^A-Za-z0-9_]+", "  "), F.lit(" ")
    )


WORD_SEPARATED_SQL = (
    "(' ' || regexp_replace({x}, '[^A-Za-z0-9_]+', '  ', 'g') || ' ')"
)

_ASCII_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_ASCII_LOWERS = "abcdefghijklmnopqrstuvwxyz"
#: Python twin of ascii_lower for the pandas-UDF tokenizers.
ASCII_LOWER_TABLE = str.maketrans(_ASCII_UPPER, _ASCII_LOWERS)


def ascii_lower(col):
    """ASCII-only case folding — the engine-portable replacement for
    ``lower()`` in oracle-checked tokenization. Full Unicode case mapping
    is CONTEXT-SENSITIVE and the engines disagree: Java lowercases a
    word-final Greek 'Σ' to 'ς' (final sigma), DuckDB to 'σ' — one
    character, two digests, a silent hash mismatch on any Greek corpus
    (adversarial probe, r5; Turkish 'İ' and friends are the same family).
    ``translate`` of the 26 ASCII letters is locale-free, identical
    everywhere, and CHEAPER than lower(); non-ASCII case differences are
    then honestly preserved rather than engine-dependently folded.
    DuckDB twin: ``ASCII_LOWER_SQL``; Python twin: ``ASCII_LOWER_TABLE``.
    """
    return F.translate(col, _ASCII_UPPER, _ASCII_LOWERS)


ASCII_LOWER_SQL = (
    "translate({x}, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',"
    " 'abcdefghijklmnopqrstuvwxyz')"
)

# Tiny per-language marker-word sets for the n-gram/stopword heuristic.
# Public-knowledge closed-class words; the heuristic is argmax of hit counts.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is"],
    "fr": ["le", "la", "les", "des", "est", "une"],
    "es": ["el", "los", "las", "una", "por", "con"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
    "zh": ["de5", "shi4", "le5", "zai4", "he2", "you3"],
}


def token_count(documents: DataFrame) -> DataFrame:
    """Whitespace token count per document (0 for blank text).

    ``split`` + ``array_remove`` + ``size`` — codegen'd, no shuffle,
    scales linearly; the no-trim ``ws_tokens`` contract makes the count
    identical across engines for ANY whitespace shape.
    """
    return documents.select(
        "doc_id",
        F.size(ws_tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
    )


def quality_score(documents: DataFrame) -> DataFrame:
    """Heuristic quality features: length, token stats, punctuation ratio,
    uppercase ratio, stopword ratio — the standard pre-training quality
    filters (cf. C4/Gopher-style rules), all as built-in expressions."""
    # ws_strip, not trim: the measured-chars semantics must agree with the
    # oracle on unicode whitespace (see ws_tokens). The pattern counts run
    # on the RAW text — whitespace contains none of the counted chars, so
    # trimming cannot change them.
    n_chars = F.length(ws_strip(F.col("text")))
    n_tokens = F.size(ws_tokens(F.col("text")))
    n_punct = F.regexp_count(F.col("text"), F.lit(r"[.,;:!?]"))
    n_upper = F.regexp_count(F.col("text"), F.lit(r"[A-Z]"))
    # explicit-boundary stopword count (see word_separated: \b diverges
    # between the engines next to non-ASCII letters)
    stop_pattern = " (" + "|".join(LANG_MARKERS["en"]) + ") "
    n_stop = F.regexp_count(word_separated(F.col("text")), F.lit(stop_pattern))
    safe_tokens = F.when(n_tokens == 0, F.lit(1)).otherwise(n_tokens)
    safe_chars = F.when(n_chars == 0, F.lit(1)).otherwise(n_chars)
    return documents.select(
        "doc_id",
        n_chars.cast("bigint").alias("n_chars_measured"),
        n_tokens.cast("bigint").alias("n_tokens"),
        (n_chars / safe_tokens).cast("double").alias("avg_token_len"),
        (n_punct / safe_chars).cast("double").alias("punct_ratio"),
        (n_upper / safe_chars).cast("double").alias("upper_ratio"),
        (n_stop / safe_tokens).cast("double").alias("stopword_ratio"),
    )


def _marker_hits_arrow():
    """Arrow-batched marker counting on pyarrow's RE2 kernels — one struct
    column of per-language hit counts.

    Why a UDF in a repo that preaches codegen: the SAME normalization +
    count pipeline measured 1.9 s through ``java.util.regex`` (Spark
    codegen, 10 partitions, 14 MB of text at the 10x replica) vs 0.6 s
    SINGLE-threaded through RE2 (``pc.replace_substring_regex`` +
    ``count_substring_regex``) — JVM regex throughput, not plan shape, was
    the cost. The Arrow path ships 14 MB/50k docs per batch over zero-copy
    Arrow, applies ``ascii_lower`` (ASCII-only — exactly the
    ``translate`` contract), the two-space ``word_separated``
    normalization, and the literal-space alternations, all in RE2 — the
    same engine DuckDB runs, so the portability contract gets STRONGER
    (one regex dialect on both sides). Scalar pandas UDF: fully
    distributed, streaming-legal, scale-invariant.
    """
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc

    from pyspark.sql.functions import pandas_udf

    langs = list(LANG_MARKERS)
    pats = {
        lang: " (" + "|".join(words) + ") "
        for lang, words in LANG_MARKERS.items()
    }
    out_type = ", ".join(f"{lang}: long" for lang in langs)

    def fn(texts: pd.Series) -> pd.DataFrame:
        # explicit string type: an all-NULL batch otherwise infers the
        # typeless null array, which no string kernel accepts
        arr = pa.Array.from_pandas(texts, type=pa.string())
        sep = pc.replace_substring_regex(
            pc.ascii_lower(arr), "[^A-Za-z0-9_]+", "  "
        )
        # wrap with one space each side (binary_join_element_wise takes the
        # SEPARATOR as its last argument — operands are everything before)
        sep = pc.binary_join_element_wise(
            pa.scalar(" "), sep, pa.scalar(" "), pa.scalar("")
        )
        cols = {
            lang: pc.count_substring_regex(sep, pat).cast(pa.int64())
            for lang, pat in pats.items()
        }
        # nullable Int64, NOT float64-with-NaN: a NULL text must come back
        # as a NULL count through the long struct field
        return pa.table(cols).to_pandas(
            types_mapper=lambda t: pd.Int64Dtype() if t == pa.int64() else None
        )

    fn.__annotations__ = {"texts": pd.Series, "return": pd.DataFrame}
    return pandas_udf(fn, f"struct<{out_type}>")


def lang_id(documents: DataFrame) -> DataFrame:
    """Marker-word language-ID heuristic: per-language hit counts → argmax.

    Deterministic and SQL-expressible (the oracle runs the same counts in
    DuckDB). Ties broken by language code order via the struct-max trick.
    Real pipelines would swap in a trained classifier behind the same
    signature; the Spark plumbing (scan → Arrow-batched RE2 counts →
    codegen argmax) is the part that must scale, and does. Counting runs
    in pyarrow's RE2 kernels (see ``_marker_hits_arrow`` for the measured
    rationale); the normalization semantics are unchanged —
    ``ascii_lower`` + two-space ``word_separated`` + literal-space
    alternations, identical counts to the r1-r5 codegen formulation
    (parity-tested).
    """
    # UDF object memoized (OPTIMIZATION r13): pandas_udf() registration
    # was ~40 ms of py4j per fresh build, and the closure is a pure function
    # of the module-level LANG_MARKERS.
    hits = memo.get("udfs", ("marker_hits",), _marker_hits_arrow)
    # The labeled `lang` column exists on the canonical documents table; for
    # unlabeled corpora (e.g. clean_corpus over arbitrary text) carry null.
    labeled = (
        "lang" if "lang" in documents.columns else "CAST(NULL AS STRING) AS lang"
    )
    # SQL-text build path below (OPTIMIZATION r13): the struct-argmax and
    # hit projections parse as strings instead of ~100 nested py4j Column
    # calls — named_struct/CASE parse to the identical trees as
    # F.struct/F.when (physical plan identical, plans/r13 dumps).
    scored = documents.withColumn("__h", hits(F.col("text"))).selectExpr(
        "doc_id",
        labeled,
        *[f"CAST(__h.{lang} AS INT) AS hits_{lang}" for lang in LANG_MARKERS],
    )
    # argmax via greatest-of-structs: (count, neg-ordinal) so ties prefer
    # earlier language in LANG_MARKERS order.
    langs = list(LANG_MARKERS)
    best = "greatest(" + ", ".join(
        f"named_struct('c', hits_{lang}, 'o', {-i}, 'l', '{lang}')"
        for i, lang in enumerate(langs)
    ) + ")"
    # NULL text -> NULL prediction (all hit counts are null exactly then);
    # without the guard the struct-argmax tie-break would "predict" the
    # first language for null documents while the SQL CASE chain falls
    # through to the last — an engine-divergent answer to a meaningless
    # question (adversarial-fixture finding, r5)
    return scored.selectExpr(
        "doc_id",
        "lang AS labeled_lang",
        f"CASE WHEN hits_{langs[0]} IS NULL THEN CAST(NULL AS STRING) "
        f"ELSE {best}.l END AS predicted_lang",
        f"CAST({best}.c AS BIGINT) AS marker_hits",
    )


def _ngrams_of(toks, n: int):
    """Sliding word n-grams (space-joined) from a BOUND token-array column.

    ``toks`` must be a reference to a materialized column, never an inline
    ``split(...)`` expression: the transform lambda dereferences ``toks``
    per element, and codegen re-evaluates a non-trivial child expression at
    every reference — an inline split turns O(T) gram-building into O(T²)
    regex work (measured 15x on the sf0.1 documents table; see
    ``with_word_ngrams``).

    Guarded for short texts: fewer than ``n`` tokens yields an empty array
    (``sequence(1, size-n+1)`` would otherwise DESCEND when size < n —
    Spark's sequence generates backwards for start > stop).
    """
    idx = F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1))
    grams = F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))
    return F.when(F.size(toks) < n, F.array().cast("array<string>")).otherwise(grams)


def with_word_ngrams(
    df: DataFrame, text_col: str, n: int, out_col: str
) -> DataFrame:
    """Append a word-n-gram array column, with the tokenization MATERIALIZED
    through a projection boundary so the split runs once per row.

    Two projections on purpose: tokens first, grams from the bound token
    column second. Catalyst's CollapseProject declines to inline a column
    that a higher-order function dereferences repeatedly, so this shape
    keeps the regex split O(T) per document. Still codegen'd, no UDF, no
    shuffle.
    """
    # NULL text → zero grams (not NULL grams): the DuckDB oracle's
    # greatest(0, len(NULL)-k) collapses NULL to an empty gram list, and a
    # NULL row in a regenerated fixture must not flip the driver hash.
    text = F.coalesce(F.col(text_col), F.lit(""))
    tokd = df.withColumn("__toks", ws_tokens(text))
    return tokd.withColumn(out_col, _ngrams_of(F.col("__toks"), n)).drop("__toks")


def chunk_documents(
    documents: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into fixed-size token chunks with overlap — the
    embedding/RAG preparation op (chunk i starts at token i·stride,
    stride = chunk_tokens - overlap; the last chunk may be short; documents
    shorter than one chunk yield exactly one chunk).

    Plan shape per the SCALING.md n-gram lessons: tokens materialized
    through a projection boundary, the GENERATOR input is the cheap index
    sequence (so InferFiltersFromGenerate's size()>0 filter wraps only
    ``sequence()``), and each chunk is built once per output row from the
    bound token column. No UDF, no shuffle — a pure scan-side expansion
    that scales linearly.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    text = F.coalesce(F.col(text_col), F.lit(""))
    tokd = documents.withColumn("__toks", ws_tokens(text))
    # n_chunks = 1 + max(0, ceil((size - chunk) / stride)), integer form
    n_extra = F.greatest(
        F.lit(0),
        (F.size("__toks") - F.lit(chunk_tokens) + F.lit(stride - 1)) / F.lit(stride),
    ).cast("int")
    chunks = tokd.select(
        id_col,
        "__toks",
        F.posexplode(F.sequence(F.lit(0), n_extra)).alias("chunk_idx", "__j"),
    )
    piece = F.slice("__toks", F.col("__j") * stride + 1, chunk_tokens)
    return chunks.select(
        id_col,
        "chunk_idx",
        F.array_join(piece, " ").alias("chunk_text"),
        F.size(piece).cast("bigint").alias("chunk_len"),
    )


def repetition_score(documents: DataFrame, n: int = 3) -> DataFrame:
    """Within-document repetition: fraction of word n-grams that are
    duplicates of an earlier n-gram in the same document — the Gopher-style
    'repeated n-gram' quality filter (Rae et al. 2021 §A1.1 describe the
    rule family; implemented from the description).

    Entirely per-row: no shuffle, no explode, linear scan — the cheapest
    possible shape at 100 TB. The distinct count runs on HASHED grams
    (``xxhash64`` of each n-token window), not materialized gram strings:
    the dup_ratio only needs equality-within-document, and building the
    space-joined strings was 87% of the operator (measured r8 at the 100x
    replica: 4.80 → 0.72 s for 500k docs — per-gram string allocation vs
    one 64-bit hash). Same exactness contract as ``exact_dedup``'s md5
    grouping: a within-document xxhash64 collision (two DIFFERENT earlier/
    later grams hashing equal) shifts n_distinct by one with probability
    ~g²/2⁶⁵ per document (~3e-11 across a 500k-doc corpus, ~5e-5 at 1e12
    docs); the DuckDB oracle keeps comparing true string grams, so the
    committed sweeps would surface any collision as a hash mismatch.

    The ratio is (total - distinct) / total as a double; integer inputs +
    one IEEE division are bit-deterministic across engines, so the op is
    exactly oracle-checkable.
    """
    text = F.coalesce(F.col("text"), F.lit(""))
    toks = documents.select("doc_id", ws_tokens(text).alias("__t"))
    # SQL-text build path (OPTIMIZATION r13): the gram-hash transform and
    # ratio projections parse as strings instead of ~370 nested py4j Column
    # calls — identical trees (the SQL lambda vars keep the SAME names the
    # Python lambdas bound; 0.0D is the double literal F.lit(0.0) built;
    # physical plan identical, plans/r13 dumps). ws_tokens stays a Column
    # so the WS_RE regex literal is never re-escaped by hand.
    # same short-text guard as _ngrams_of: sequence() DESCENDS for
    # start > stop, so fewer than n tokens must yield the empty index list
    els = ", ".join(f"element_at(__t, i + {j})" for j in range(int(n)))
    hashed = (
        f"transform(sequence(1, size(__t) - {int(n) - 1}), "
        f"i -> xxhash64({els}))"
    )
    grams = toks.selectExpr(
        "doc_id",
        "__t",
        f"CASE WHEN size(__t) < {int(n)} THEN CAST(array() AS ARRAY<BIGINT>) "
        f"ELSE {hashed} END AS __g",
    )
    out = grams.selectExpr(
        "doc_id",
        "CAST(size(__g) AS BIGINT) AS n_grams",
        "CAST(size(array_distinct(__g)) AS BIGINT) AS n_distinct",
    )
    return out.selectExpr(
        "*",
        "CASE WHEN n_grams = 0 THEN 0.0D "
        "ELSE (n_grams - n_distinct) / n_grams END AS dup_ratio",
    )


# GPT-2-style pretokenizer shape (contractions | words | numbers | other
# runs), restricted to ASCII classes so Java regex (Spark) and RE2 (DuckDB
# oracle) agree on every boundary. Public-knowledge pattern family
# (Radford et al. 2019 released the original).
# \s spelled as the explicit class: Java's \s includes \x0B, RE2's does
# not — the same divergence WS_RE exists to avoid (a \x0B in a document
# produced one extra token on the oracle side; adversarial finding, r5)
BPE_ISH_PATTERN = r"'(?:[sdmt]|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^ \t\n\x0B\f\rA-Za-z0-9]+"


def token_count_bpe(documents: DataFrame) -> DataFrame:
    """BPE-ish token count: matches of the GPT-2-style pretokenizer regex —
    the standard 'how many LLM tokens is this corpus' estimator. One
    ``regexp_count`` pass, codegen'd, no allocation."""
    return documents.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(BPE_ISH_PATTERN))
        .cast("bigint")
        .alias("n_bpe_tokens"),
    )


def tfidf_top_terms(documents: DataFrame, k: int = 1) -> DataFrame:
    """Top-k TF-IDF terms per document (score desc, term asc) — pure
    DataFrame composition (explode → two aggs → join → window), no ML
    pipeline needed, so the whole thing is SQL-expressible for the oracle.

    idf = ln(N / df): plain inverse document frequency over the corpus.
    Scale shape: token explode is narrow; tf agg shuffles on (doc, token);
    document frequencies are a second small agg joined back broadcast-style
    (token vocabulary << corpus); top-k per doc is a bounded window.
    """
    from pyspark.sql import Window

    tokens = documents.select(
        "doc_id",
        F.explode(ws_tokens(ascii_lower(F.col("text")))).alias("term"),
    ).filter(F.col("term") != "")
    tf = tokens.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    doc_freq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = documents.select(F.countDistinct("doc_id").alias("n")).first()["n"]
    scored = tf.join(doc_freq, "term").select(
        "doc_id",
        "term",
        (F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= k)
        .select("doc_id", "term", "tfidf", "rn")
    )


def rolling_fingerprint(documents: DataFrame) -> DataFrame:
    """Order-sensitive rolling-hash document fingerprint (polynomial hash of
    the token-hash sequence, mod 2^31-1).

    Unlike the md5-of-normalized-text fingerprint, this is the incremental
    form a streaming tokenizer would maintain: fp = (fp*31 + h(token)) mod p.
    Token hash = first 15 hex chars of md5 (60 bits, engine-portable), so the
    whole computation is exact-reproducible in any engine — the DuckDB oracle
    runs the same recurrence. All JVM-side higher-order functions; the modulus
    < 2^31 keeps every intermediate under 2^36, ANSI-overflow-safe.
    """
    p = (1 << 31) - 1
    # coalesce: a NULL document fingerprints as the seed 0 (same as empty)
    # on both engines, instead of a NULL that depends on null-propagation
    tokens = ws_tokens(ascii_lower(F.coalesce(F.col("text"), F.lit(""))))
    # SQL-text build path (OPTIMIZATION r13): the hash transform + rolling
    # fold parse as one string instead of ~160 nested py4j Column calls —
    # identical trees (SQL lambda vars keep the Python lambdas' names;
    # physical plan identical, plans/r13 dumps). ws_tokens stays a Column
    # for the regex literal; the optimizer collapses the two projections.
    fp_sql = (
        "aggregate("
        f"transform(__tk, t -> CAST(conv(substring(md5(t), 1, 15), 16, 10) "
        f"AS BIGINT) % {p}), "
        "CAST(0 AS BIGINT), "
        f"(acc, h) -> (acc * 31 + h) % {p}) AS fp"
    )
    return documents.select("doc_id", tokens.alias("__tk")).selectExpr(
        "doc_id", fp_sql
    )


def fingerprint(documents: DataFrame) -> DataFrame:
    """Content fingerprint: md5 of whitespace-normalized lowercased text.

    The exact-dedup key for 100 TB corpora: fingerprints (16 bytes) shuffle
    instead of full documents. md5 here is a content hash, not a security
    primitive.
    """
    normalized = ascii_lower(F.regexp_replace(ws_strip(F.col("text")), WS_RE, " "))
    return documents.select(
        "doc_id",
        F.md5(normalized.cast("binary")).alias("fp"),
    )


def _word_freqs(documents: DataFrame, text_col: str) -> DataFrame:
    """Distributed word-frequency table: the ONLY pass that sees the corpus.
    Output is |unique word types| rows regardless of corpus size."""
    return (
        documents.select(
            F.explode(
                F.filter(
                    ws_tokens(ascii_lower(F.coalesce(F.col(text_col), F.lit("")))),
                    lambda t: t != "",
                )
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def bigram_lm_score(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: float = 0.1,
) -> DataFrame:
    """Per-document cross-entropy (avg negative log prob, nats) under a
    bigram language model trained on the SAME corpus with add-k smoothing —
    the CCNet/KenLM-style quality filter: boilerplate and well-formed prose
    score low, noise scores high. Using the corpus itself as training data
    is the standard self-scoring setup for corpus filtering.

    Model: P(w2 | w1) = (c(w1,w2) + k) / (c(w1) + k·V), with V = distinct
    unigram vocabulary. Everything is two grouped counts plus one join —
    the whole "train + score" pipeline is relational, so it is EXACTLY
    oracle-checkable (no UDF, no sampling):

    1. one pass builds bigram counts (explode adjacent pairs, groupBy);
       unigram CONTEXT counts derive from the bigram table (c(w1) =
       Σ_w2 c(w1,w2)), so both come from a single shuffle;
    2. scoring re-explodes each document's bigrams and joins them to the
       model (shuffle keyed on the bigram — high cardinality, well
       spread); per-doc avg of -ln P is one final aggregation.

    Documents with < 2 tokens produce no row (no bigrams — mirrored by the
    oracle). Scale shape: model size is |distinct bigrams| (vocabulary-
    bounded, not corpus-bounded); at 100 TB train on a sample or a
    reference corpus and broadcast the model — the scoring join is the
    same either way.
    """
    toks = documents.select(
        F.col(id_col),
        F.split(
            ascii_lower(F.coalesce(F.col(text_col), F.lit(""))), WS_RE
        ).alias("__t"),
    ).select(
        id_col, F.filter(F.col("__t"), lambda t: t != "").alias("__t")
    )
    grams = toks.select(
        F.col(id_col),
        F.explode(
            F.zip_with(
                F.slice("__t", 1, F.greatest(F.size("__t") - 1, F.lit(0))),
                F.slice("__t", 2, F.greatest(F.size("__t") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("g"),
    ).select(id_col, F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))

    bigram_counts = grams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    context_counts = bigram_counts.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab_size = (
        toks.select(F.explode("__t").alias("w")).agg(
            F.countDistinct("w").alias("v")
        )
    )
    model = bigram_counts.join(context_counts, "w1").crossJoin(
        F.broadcast(vocab_size)
    )
    scored = grams.join(model, ["w1", "w2"])
    logp = F.log(
        (F.col("c12") + F.lit(k)) / (F.col("c1") + F.lit(k) * F.col("v"))
    )
    return scored.groupBy(id_col).agg(
        F.round(-F.avg(logp), 4).alias("cross_entropy"),
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
    )


def word_entropy(documents: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document unigram word entropy (nats) — the standard
    lexical-diversity quality signal: machine-generated or boilerplate text
    scores low, natural prose high.

    H = ln(n) - sum(c·ln c)/n over word counts c (algebraic rewrite of
    -sum(p·ln p) that needs only ONE aggregation over (doc, word) counts —
    no join back for totals). Explode is narrow; the only shuffle keys on
    (doc, word); per-doc reduce is bounded by vocabulary. Documents with no
    words produce no row (mirrored by the SQL oracle).
    """
    words = documents.select(
        F.col(id_col),
        F.explode(
            F.filter(
                ws_tokens(ascii_lower(F.coalesce(F.col(text_col), F.lit("")))),
                lambda t: t != "",
            )
        ).alias("__w"),
    )
    wc = words.groupBy(id_col, "__w").agg(F.count(F.lit(1)).alias("__c"))
    n = F.sum("__c")
    return wc.groupBy(id_col).agg(
        (F.log(n) - F.sum(F.col("__c") * F.log("__c")) / n)
        .cast("double")
        .alias("word_entropy"),
        n.cast("bigint").alias("n_words"),
    )


def _collect_word_types(
    documents: DataFrame, text_col: str, max_word_types: int
) -> "tuple[list[list[str]], list[int]]":
    """The one corpus-scaled pass of BPE training: the frequency-pruned
    word-type table, collected deterministically (freq desc, word asc)."""
    rows = (
        _word_freqs(documents, text_col)
        .orderBy(F.desc("freq"), F.col("w"))
        .limit(max_word_types)
        .collect()
    )
    return [list(r["w"]) for r in rows], [int(r["freq"]) for r in rows]


def bpe_merges_reference(
    vocab: "list[list[str]]", freqs: "list[int]", n_merges: int
) -> "list[tuple[str, str, int]]":
    """Naive Sennrich-2016 algorithm 1 over an in-memory type table:
    recount EVERY adjacent pair each iteration, merge the argmax (ties by
    lexicographic pair — the same rule as the incremental trainer). O(merges
    x total symbols) — the textbook form the incremental trainer must agree
    with exactly; used for the driver-visible ``matches_reference_impl``
    self-check and the differential tests."""
    from collections import Counter

    vocab = [list(w) for w in vocab]
    out: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        counts: Counter = Counter()
        for syms, f in zip(vocab, freqs):
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += f
        if not counts:
            break
        (a, b), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < 2:
            break
        out.append((a, b, int(cnt)))
        for syms in vocab:
            i = 0
            while i < len(syms) - 1:
                if syms[i] == a and syms[i + 1] == b:
                    syms[i : i + 2] = [a + b]
                else:
                    i += 1
    return out


def bpe_train_merges(
    documents: DataFrame,
    n_merges: int = 5,
    text_col: str = "text",
    max_word_types: int = 1 << 20,
    word_types: "tuple[list[list[str]], list[int]] | None" = None,
) -> "list[tuple[str, str, int]]":
    """Learn the top ``n_merges`` BPE merges from a corpus (Sennrich 2016,
    implemented from the paper): repeatedly count adjacent symbol pairs
    (weighted by word frequency) and merge the most frequent pair.

    Scale shape (the subword-nmt / HF-tokenizers shape): ONE distributed
    pass builds the word-frequency table — the only thing that scales with
    corpus bytes — then the merge loop runs driver-side over that table
    with exact incremental pair-count maintenance: each merge touches only
    the word types that contain the merged pair, so 30k merges cost seconds,
    not 30k Spark jobs. The collect is bounded by ``max_word_types`` (top
    types by frequency, deterministic tie-break) — the standard
    frequency-pruning every production BPE trainer applies; under the cap
    the result is exactly the full-vocab answer. For a corpus whose pruned
    type table genuinely cannot sit on one node, use
    ``bpe_train_merges_distributed``.

    Determinism: ties on count break by (first, second) lexicographic —
    stable across partitionings, so the learned merge table is reproducible.
    Returns [(first, second, count), ...] in merge order; differential-tested
    exact against a pure-Python Sennrich reference (tests/test_corpus.py).

    ``word_types``: a pre-collected ``_collect_word_types`` result, so a
    caller that ALSO runs the reference self-check consumes one distributed
    pass instead of two and both algorithms provably read the same table
    (ADVICE r5). Copied defensively — the merge loop mutates its vocab.
    """
    from collections import Counter, defaultdict

    if word_types is None:
        vocab, freqs = _collect_word_types(documents, text_col, max_word_types)
    else:
        vocab, freqs = [list(w) for w in word_types[0]], list(word_types[1])

    pair_counts: Counter = Counter()
    where: defaultdict = defaultdict(set)  # pair -> word indexes containing it

    def _account(idx: int, sign: int) -> None:
        syms, f = vocab[idx], freqs[idx]
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            pair_counts[p] += sign * f
            if sign > 0:
                where[p].add(idx)
            elif pair_counts[p] <= 0:
                del pair_counts[p]
                where.pop(p, None)

    for idx in range(len(vocab)):
        _account(idx, +1)

    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        if not pair_counts:
            break
        (a, b), cnt = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < 2:
            break
        merges.append((a, b, int(cnt)))
        fused = a + b
        for idx in list(where.get((a, b), ())):
            _account(idx, -1)
            syms = vocab[idx]
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(fused)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[idx] = out
            _account(idx, +1)
    return merges


def bpe_train_merges_distributed(
    documents: DataFrame,
    n_merges: int = 5,
    text_col: str = "text",
) -> "list[tuple[str, str, int]]":
    """Fully-distributed BPE merge loop, for vocabularies too large to
    collect even after frequency pruning.

    The same driver-bounded iteration discipline as
    ``dedup.connected_components``: the word-frequency table stays a
    DataFrame end to end; each round runs one distributed explode+agg and
    ships exactly ONE row (the argmax pair) to the driver; the merge is
    applied JVM-side with an ``aggregate`` fold over the symbol arrays (no
    Python in the loop body). k merges = k shuffles over a table that is
    |unique words| rows regardless of corpus size — correct at any scale,
    but k jobs make it the fallback, not the default
    (``bpe_train_merges``'s one-pass + incremental loop is exact-identical
    under its type cap and ~1000x fewer jobs at production vocab sizes).
    """
    words = _word_freqs(documents, text_col).withColumn(
        "syms", F.split(F.col("w"), "")
    ).drop("w")
    from airflow_etl_elt_spark.operators._cache import rotate_persist

    merges: list[tuple[str, str, int]] = []
    for step in range(n_merges):
        words = rotate_persist(f"bpe_words_{step % 2}", words)
        pairs = words.select(
            "freq",
            F.explode(
                F.zip_with(
                    F.slice("syms", 1, F.greatest(F.size("syms") - 1, F.lit(0))),
                    F.slice("syms", 2, F.greatest(F.size("syms") - 1, F.lit(0))),
                    lambda a, b: F.struct(a.alias("a"), b.alias("b")),
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy("p")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.col("p.a"), F.col("p.b"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["cnt"] < 2:
            break
        a, b, cnt = top[0]["p"]["a"], top[0]["p"]["b"], int(top[0]["cnt"])
        merges.append((a, b, cnt))
        # JVM-side merge fold: one left-to-right pass per word, greedy
        # non-overlapping (the pending symbol is either flushed or fused)
        merged = F.aggregate(
            F.col("syms"),
            F.struct(
                F.array().cast("array<string>").alias("out"),
                F.lit(None).cast("string").alias("pend"),
            ),
            lambda acc, x: F.when(
                acc["pend"].isNull(),
                F.struct(acc["out"].alias("out"), x.alias("pend")),
            )
            .when(
                (acc["pend"] == a) & (x == b),
                F.struct(
                    F.concat(acc["out"], F.array(F.lit(a + b))).alias("out"),
                    F.lit(None).cast("string").alias("pend"),
                ),
            )
            .otherwise(
                F.struct(
                    F.concat(acc["out"], F.array(acc["pend"])).alias("out"),
                    x.alias("pend"),
                )
            ),
            lambda acc: F.when(
                acc["pend"].isNull(), acc["out"]
            ).otherwise(F.concat(acc["out"], F.array(acc["pend"]))),
        )
        words = words.withColumn("syms", merged)
    return merges


# PII patterns restricted to syntax with identical semantics in Java regex
# (Spark) and RE2 (the DuckDB oracle): character classes, bounded/greedy
# quantifiers, alternation (both engines are leftmost-first), no lookaround,
# no backreferences. Public-knowledge pattern shapes.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}", "<IP>"),
    (
        "phone",
        r"[(][0-9]{3}[)][ ]?[0-9]{3}-[0-9]{4}|[0-9]{3}-[0-9]{3}-[0-9]{4}",
        "<PHONE>",
    ),
]


def pii_redact(documents: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """PII scrubbing — the pre-training privacy pass: replace emails,
    IPv4 addresses, and phone numbers with typed placeholder tokens and
    report per-document match counts plus a fingerprint of the cleaned text.

    Redactions apply sequentially in PII_PATTERNS order (emails first: an
    address containing digits must become <EMAIL>, not a partial <PHONE>);
    counts are measured per-pattern on the RAW text, so they are independent
    diagnostics rather than order-dependent residues. Everything is
    ``regexp_count``/``regexp_replace`` in whole-stage codegen — one scan,
    no UDF, no shuffle, linear at any corpus size. The placeholder alphabet
    ('<', '>') never matches any pattern, so redaction is idempotent.
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    counts = [
        F.regexp_count(text, F.lit(pat)).cast("bigint").alias(f"n_{name}s")
        for name, pat, _ in PII_PATTERNS
    ]
    redacted = text
    for _, pat, token in PII_PATTERNS:
        redacted = F.regexp_replace(redacted, pat, token)
    return documents.select(
        id_col,
        *counts,
        F.length(redacted).cast("bigint").alias("clean_len"),
        F.md5(redacted).alias("clean_fp"),
    )
