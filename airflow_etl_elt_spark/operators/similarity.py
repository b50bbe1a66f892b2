"""Similarity search over embedding columns (array<float>).

North-star operators. Two tiers:

- **Brute-force cosine top-k** — the exactness baseline. Dot products via
  built-in higher-order functions (``zip_with`` + ``aggregate``), fully
  JVM-side; the query vector is a broadcast literal. TakeOrderedAndProject
  keeps per-partition top-k, so nothing but k rows ever reaches the driver.
- **LSH-bucketed ANN** — the 100 TB path: random-hyperplane signatures
  (Charikar 2002) bucket vectors so queries probe one bucket instead of the
  full corpus; recall tuned by bits/tables. Hyperplanes are deterministic
  from a seed, generated driver-side, embedded as literals.

At real scale the corpus side would be written bucketed-by-signature so probes
are partition-pruned reads; here the bucketing is computed on the fly.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from airflow_etl_elt_spark import memo, regime

#: cosine_near_dup_pairs block-size ceiling: bounds the per-task float64
#: gram at 4096² x 8 B ≈ 134 MB (plus operands), and with it the peak arena
#: a REUSED pyspark python worker retains for its lifetime — the 100x-sweep
#: OOM (32 workers x 4.2 GB) came from unbounded blocks, see the operator
#: docstring.
_MAX_BLOCK_ROWS = 4096

#: cosine_near_dup_pairs block-count warning threshold: past this many
#: blocks the B(B+1)/2 task grid is ~2M+ tasks — the exact all-pairs form
#: stops being the right tool (ADVICE r10); the operator warns and points
#: at the LSH/IVF candidate-generator paths.
_WARN_BLOCKS = 2048


def _near_dup_blocks(n: int, parallelism: int) -> int:
    """Block count for ``cosine_near_dup_pairs``: enough blocks to use the
    cores (isqrt(2p) blocks → ~p block-pair tasks) AND — the r10 scale fix —
    enough that no block exceeds ``_MAX_BLOCK_ROWS`` rows, whatever the
    corpus size. Monotone in n, so the per-task gram stays bounded at any
    scale; results are blocking-invariant (see the operator docstring)."""
    return max(
        4,
        int(math.isqrt(parallelism * 2)),
        -(-n // _MAX_BLOCK_ROWS),  # ceil division
    )


def _dot(a, b):
    # cast elements to double BEFORE multiplying: float32*float32 then
    # widening loses bits vs the oracle's double math
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def _cosine_udf(query_vec: tuple[float, ...]):
    qv = np.asarray(query_vec, dtype=np.float64)
    qn = float(np.linalg.norm(qv)) or 1.0

    @F.pandas_udf("double")
    def cos_udf(vecs: pd.Series) -> pd.Series:
        if not len(vecs):
            return pd.Series([], dtype="float64")
        V = np.stack(vecs.to_numpy()).astype(np.float64)
        n = np.linalg.norm(V, axis=1)
        n[n == 0] = 1.0
        return pd.Series((V @ qv) / (n * qn))

    return cos_udf


def cosine_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    impl: str = "auto",
) -> DataFrame:
    """Exact top-k by cosine similarity to ``query_vec``.

    One scan, no shuffle until the final top-k merge; ties broken by id for
    determinism. Cosine of a zero vector is defined as 0 here.

    Two scoring paths, both distributed and collect-free; ``impl="auto"``
    (default) picks by the Catalyst size estimate:

    - ``impl="blas"``: an Arrow-batched pandas_udf computes the whole
      batch's scores as one NumPy matvec. Faster at interactive corpus
      sizes (measured ties or wins up to ~20k x 64-dim vectors), and the
      advantage grows with DIMENSION (the HOF fold is interpreted per
      element, NumPy is BLAS).
    - ``impl="jvm"``: built-in higher-order functions only — no Python
      workers in the plan at all. Wins once the Arrow export of the vector
      column dominates (measured r8 at the 100x replica, 200k vectors:
      0.37 vs 0.45 s — ~100 MB of column traffic the JVM path never pays),
      and wherever pure-JVM plans are a deployment requirement. ``auto``
      switches at a 16 MB plan estimate (between the measured 10x tie at
      4.3 MB and the 100x jvm win at ~43 MB).

    Cost-gated single-partition regime (same rationale as ``exact_dedup``):
    a dimension-sized corpus scores and top-k's in ONE task — the
    TakeOrderedAndProject then has a single partition to merge, so the whole
    query is one job. Above the bound the scan stays partitioned and
    TakeOrderedAndProject merges per-partition top-k's — the 100 TB path.
    """
    est = regime.plan_bytes(embeddings.select(id_col, vec_col))
    if est < regime.SMALL_BYTES:
        embeddings = embeddings.coalesce(1)
    if impl == "auto":
        impl = "jvm" if est >= 16 * 1024 * 1024 else "blas"
    if impl == "blas":
        # UDF object memoized per query vector (OPTIMIZATION r13):
        # pandas_udf() registration costs ~40 ms of py4j per call and the
        # closure is a pure function of query_vec.
        qt = tuple(float(v) for v in query_vec)
        cos_udf = memo.get("udfs", ("cosine", qt), lambda: _cosine_udf(qt))
        cos = cos_udf(F.col(vec_col))
    else:
        q = F.array(*[F.lit(float(v)) for v in query_vec])
        q_norm = math.sqrt(sum(v * v for v in query_vec)) or 1.0
        denom = _norm(F.col(vec_col)) * F.lit(q_norm)
        cos = F.when(denom == 0, F.lit(0.0)).otherwise(
            _dot(F.col(vec_col), q) / denom
        )
    return (
        embeddings.select(F.col(id_col), cos.alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def cosine_topk_batch(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Batch KNN serving: exact top-k cosine neighbors for EVERY query row
    at once — the shape a retrieval service actually runs (q queries per
    request, not one).

    ``queries`` is (query_id, query vector) — request-sized, bounded by the
    same limit a broadcast would impose — and is collected once into a
    normalized NumPy matrix that ships inside the scoring UDF's closure:
    cost is one pass over the corpus per REQUEST, not per query, with the
    whole q x batch score block computed as ONE BLAS matmul per Arrow batch.

    Pre-reduction (VERDICT r5 next-step 4 — the former shape windowed the
    raw q x corpus score rows through a shuffle): each ``mapInPandas``
    batch emits only its own per-query top-k, so the exchange feeding the
    final rank window carries O(q * k * batches) rows — independent of
    corpus row count — and the final window is exact because per-batch
    top-k under the same (cosine desc, id asc) order is a monoid: any
    global top-k row is necessarily in its batch's top-k. Ties broken by
    corpus id; returns (query_id, vec_id, cosine, rank). Zero vectors
    (either side) score 0, matching ``cosine_topk``.
    """
    from pyspark.sql import Window

    qid_t = dict(queries.dtypes)[query_id_col]
    id_t = dict(embeddings.dtypes)[id_col]
    qrows = queries.select(query_id_col, vec_col).collect()
    if not qrows:
        return embeddings.select(
            F.lit(None).cast(qid_t).alias(query_id_col),
            F.col(id_col),
            F.lit(0.0).alias("cosine"),
            F.lit(0).cast("bigint").alias("rank"),
        ).filter(F.lit(False))
    qids = [r[0] for r in qrows]
    Q = np.stack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    qn = np.linalg.norm(Q, axis=1)
    qn[qn == 0] = 1.0
    Qn = Q / qn[:, None]

    src = embeddings.select(id_col, vec_col)
    if regime.plan_bytes(src) < regime.SMALL_BYTES:
        src = src.coalesce(1)

    out_schema = f"{query_id_col} {qid_t}, {id_col} {id_t}, cosine double"
    kk = k

    def score_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            n = np.linalg.norm(V, axis=1)
            n[n == 0] = 1.0
            S = (V / n[:, None]) @ Qn.T  # batch_rows x q, one BLAS call
            take = min(kk, len(ids))
            out_q, out_id, out_c = [], [], []
            for j in range(S.shape[1]):
                col = S[:, j]
                top = np.lexsort((ids, -col))[:take]
                out_q.extend([qids[j]] * take)
                out_id.extend(ids[top])
                out_c.extend(col[top])
            yield pd.DataFrame(
                {query_id_col: out_q, id_col: out_id, "cosine": out_c}
            )

    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        src.mapInPandas(score_batches, out_schema)
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
    )


def pairwise_topk_within_label(
    embeddings: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Top-k most-similar pairs within each label group (blocked all-pairs).

    The label acts as a blocking key: the quadratic pair expansion happens
    only inside groups (classic blocked-similarity-join shape); at scale the
    block key would be an LSH bucket (see ``lsh_bucket``) instead of a label.

    Per-task work is BOUNDED (r11): label groups grow with the corpus, and
    the original one-task-per-label form (whole-group normalized Gram +
    a 3-key lexsort over all O(n_g²) pairs) hit the same unbounded-
    working-set wall the r10 sweep caught in ``cosine_near_dup_pairs`` —
    at the 100x replica's 20k-row groups each task held ~7 GB and spent
    ~16 minutes inside one 400M-element lexsort. Groups now tile into
    ceil(n_g / ``_MAX_BLOCK_ROWS``) hash blocks; each block-pair task
    computes one bounded BLAS tile and keeps only ITS top-k pairs under
    the total order (cosine DESC, id_a, id_b); a per-label window then
    takes the global top-k over the ≤ k·#tiles candidates. Exact for any
    tiling: every pair lands in exactly one tile, and a globally top-k
    pair is necessarily within its own tile's top-k under the same total
    order. The SQL self-join form evaluates an interpreted 64-dim dot
    product per pair and measured ~50x slower at 5k vectors — hence the
    oracle twin runs on the capped embeddings axis at scale.

    Tie-break robustness (ADVICE r11): BLAS gemm summation order varies
    with tile shape, so per-pair cosines can differ by 1-2 ulp across
    tilings — enough to reorder exact-cosine ties (duplicated vectors
    measured 1.0 vs 1.0000000000000002). The ordering therefore runs on
    a 9-decimal QUANTIZED cosine (matching the oracle-compare's 9-sig-
    digit canonicalization) with (id_a, id_b) breaking quantized ties:
    the selected pair SET is tiling-invariant by construction, not by
    luck. The quantized key is computed once in numpy and carried into
    the global window so numpy's and Spark SQL's rounding modes can
    never disagree; the EMITTED cosine stays the raw per-pair value.

    NaN contract (ADVICE r11, explicit): pairs whose cosine is NaN (a
    NaN coordinate in either vector) are ALWAYS excluded — they never
    rank and never pad a small group's result, so a degenerate group of
    NaN vectors returns fewer than k pairs by design. (The pre-r11
    applyInPandas form accidentally retained NaN pairs when a group had
    <= k total pairs; that was an artifact of np.lexsort placing NaN
    last, not a contract.)
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import Window

    out_schema = "lbl int, id_a bigint, id_b bigint, cosine double, qcos double"

    base = embeddings.select(label_col, id_col, vec_col)
    sizes = (
        base.groupBy(label_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .withColumnRenamed(label_col, "__lbl_s")
    )
    nb = F.greatest(
        F.lit(1), F.ceil(F.col("__n") / F.lit(_MAX_BLOCK_ROWS))
    ).cast("int")
    blocks = (
        # null-safe: the original groupBy treated a null label as its own
        # group; the broadcast size join must not drop it
        base.join(
            F.broadcast(sizes), F.col(label_col).eqNullSafe(F.col("__lbl_s"))
        )
        .select(
            F.col(label_col).alias("lbl"),
            F.pmod(F.xxhash64(F.col(id_col)), nb).alias("blk"),
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("vec"),
        )
        .groupBy("lbl", "blk")
        .agg(F.collect_list(F.struct("id", "vec")).alias("items"))
    )
    tile_pairs = blocks.alias("x").join(
        blocks.alias("y"),
        F.col("x.lbl").eqNullSafe(F.col("y.lbl"))
        & (F.col("x.blk") <= F.col("y.blk")),
    ).select(
        F.col("x.lbl").alias("lbl"),
        (F.col("x.blk") == F.col("y.blk")).alias("diag"),
        F.col("x.items").alias("items_x"),
        F.col("y.items").alias("items_y"),
    )

    def tile_topk(batches):
        for pdf in batches:
            frames = []
            for _, row in pdf.iterrows():
                xs, ys = row["items_x"], row["items_y"]
                ids_x = np.array([it["id"] for it in xs], dtype=np.int64)
                Vx = np.array([it["vec"] for it in xs], dtype=np.float64)
                nx = np.linalg.norm(Vx, axis=1)
                nx[nx == 0] = 1.0
                Nx = Vx / nx[:, None]
                if row["diag"]:
                    S = Nx @ Nx.T
                    iu, ju = np.triu_indices(len(ids_x), k=1)
                    cos = S[iu, ju]
                    ok = ~np.isnan(cos)  # NaN pairs never rank (defined)
                    cos, iu, ju = cos[ok], iu[ok], ju[ok]
                    # selection + ordering run on the 9-decimal quantized
                    # cosine so BLAS ulp noise can't reorder ties across
                    # tile shapes (see docstring); raw cos is what's emitted
                    qcos = np.round(cos, 9)
                    if len(cos) > k:
                        # value-threshold selection keeps ALL pairs tied at
                        # the k-th quantized cosine, so the (id_a, id_b)
                        # tie-break below stays exact under any tiling
                        kth = np.partition(qcos, len(qcos) - k)[len(qcos) - k]
                        keep = qcos >= kth
                        cos, qcos, iu, ju = cos[keep], qcos[keep], iu[keep], ju[keep]
                    # orient by ID, not index: hash blocks are unsorted
                    ia, ib = ids_x[iu], ids_x[ju]
                    lo, hi = np.minimum(ia, ib), np.maximum(ia, ib)
                else:
                    ids_y = np.array([it["id"] for it in ys], dtype=np.int64)
                    Vy = np.array([it["vec"] for it in ys], dtype=np.float64)
                    ny = np.linalg.norm(Vy, axis=1)
                    ny[ny == 0] = 1.0
                    S = Nx @ (Vy / ny[:, None]).T
                    flat = S.ravel()
                    nn = np.flatnonzero(~np.isnan(flat))
                    if len(nn) != len(flat):
                        # compact away NaN pairs, keeping flat indices
                        flat, _nanmap = flat[nn], nn
                    else:
                        _nanmap = None
                    qflat = np.round(flat, 9)
                    if len(flat) > k:
                        kth = np.partition(qflat, len(qflat) - k)[len(qflat) - k]
                        idx = np.flatnonzero(qflat >= kth)
                    else:
                        idx = np.arange(len(flat))
                    cos, qcos = flat[idx], qflat[idx]
                    if _nanmap is not None:
                        idx = _nanmap[idx]  # back to original grid indices
                    ia = ids_x[idx // S.shape[1]]
                    ib = ids_y[idx % S.shape[1]]
                    lo, hi = np.minimum(ia, ib), np.maximum(ia, ib)
                if not len(cos):
                    continue
                order = np.lexsort((hi, lo, -qcos))[:k]
                frames.append(
                    pd.DataFrame(
                        {
                            "lbl": row["lbl"],
                            "id_a": lo[order],
                            "id_b": hi[order],
                            "cosine": cos[order],
                            "qcos": qcos[order],
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    cands = tile_pairs.mapInPandas(tile_topk, out_schema)
    # global window ranks on the SAME numpy-quantized key the tiles used —
    # never on the raw cosine, whose last ulp is tile-shape-dependent
    w = Window.partitionBy("lbl").orderBy(
        F.col("qcos").desc(), "id_a", "id_b"
    )
    return (
        cands.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .orderBy("lbl", F.col("qcos").desc(), "id_a", "id_b")
        .drop("__rn", "qcos")
    )


def cosine_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int | None = None,
) -> DataFrame:
    """EXACT embedding-cosine near-duplicate pairs (id_a < id_b,
    cosine >= threshold) via block-partitioned all-pairs.

    The all-pairs gram matrix is inherently O(n²) — the scalable form tiles
    it: vectors hash into B blocks, the B(B+1)/2 block pairs become
    independent tasks, and each task computes one (|block| × |block|) BLAS
    matmul in a mapInPandas stage. Work per task is bounded by block size;
    nothing ever single-tasks. For corpora where approximate recall is
    acceptable, prefer the LSH (``ann_topk``) or IVF (``ivf_topk``)
    candidate generators and verify only candidates — this operator is the
    exactness baseline / oracle twin.

    B scales with CORPUS SIZE, not just parallelism (r10, found by the
    first full-catalog sweep at the 100x replica): parallelism-only sizing
    gave 8 blocks of 25k vectors there, i.e. a 25k x 25k = 5 GB float64
    gram PER TASK, and pyspark's reused python workers retain their peak
    arena — 32 workers x ~4.2 GB OOM-killed the whole JVM (the only
    at-scale crash this repo has had; dmesg-confirmed). The cap bounds the
    gram at ``_MAX_BLOCK_ROWS``² x 8 bytes ≈ 134 MB and the worker-retained
    arena with it; the count() it needs is one scalar driver-side job, the
    same bounded-metadata contract as the IVF k-means sample. Result is
    blocking-invariant: every pair lands in exactly one block-pair task and
    each cosine is one dot product — any B yields identical rows.

    Practical corpus ceiling (ADVICE r10): with the block-size cap, task
    count grows as B(B+1)/2 ≈ (n/4096)²/2 — ~74M tasks at 50M vectors.
    This operator is the EXACTNESS baseline / oracle twin, not the at-scale
    path (use the LSH/IVF candidate generators there); above
    ``_WARN_BLOCKS`` blocks it warns and points at them rather than
    silently scheduling a quadratic task grid.
    """
    import numpy as np
    import pandas as pd

    spark = embeddings.sparkSession
    proj = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    if n_blocks:
        nb = n_blocks
    else:
        # persist the pruned projection so the sizing count() and the
        # blocks build share ONE execution of the upstream plan (ADVICE
        # r10: an uncached count() re-ran the whole input pipeline)
        from airflow_etl_elt_spark.operators._cache import rotate_persist

        proj = rotate_persist("cosine_near_dup:proj", proj, materialize=False)
        n = proj.count()  # bounded driver-side metadata (one scalar)
        nb = _near_dup_blocks(n, spark.sparkContext.defaultParallelism)
    if nb > _WARN_BLOCKS:
        import warnings

        warnings.warn(
            f"cosine_near_dup_pairs: {nb} blocks -> ~{nb * (nb + 1) // 2:,}"
            " block-pair tasks (quadratic in corpus size). This exact "
            "all-pairs operator is the oracle baseline; at this scale use "
            "the LSH/IVF candidate generators + verify instead.",
            stacklevel=2,
        )
    blocks = (
        proj.select(
            F.pmod(F.xxhash64(F.col("id")), F.lit(nb)).alias("blk"),
            "id",
            "vec",
        )
        .groupBy("blk")
        .agg(F.collect_list(F.struct("id", "vec")).alias("items"))
    )
    block_pairs = (
        blocks.select(F.col("blk").alias("blk_x"), F.col("items").alias("items_x"))
        .join(
            blocks.select(F.col("blk").alias("blk_y"), F.col("items").alias("items_y")),
            F.col("blk_x") <= F.col("blk_y"),
        )
    )

    def gram_batches(batches):
        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for _, row in pdf.iterrows():
                xs, ys = row["items_x"], row["items_y"]
                ids_x = np.array([it["id"] for it in xs], dtype=np.int64)
                ids_y = np.array([it["id"] for it in ys], dtype=np.int64)
                Vx = np.array([it["vec"] for it in xs], dtype=np.float64)
                Vy = np.array([it["vec"] for it in ys], dtype=np.float64)
                nx = np.linalg.norm(Vx, axis=1)
                ny = np.linalg.norm(Vy, axis=1)
                nx[nx == 0] = 1.0
                ny[ny == 0] = 1.0
                S = (Vx / nx[:, None]) @ (Vy / ny[:, None]).T
                ii, jj = np.where(S >= threshold)
                ia, ib = ids_x[ii], ids_y[jj]
                keep = ia != ib
                ia, ib, cs = ia[keep], ib[keep], S[ii, jj][keep]
                lo, hi = np.minimum(ia, ib), np.maximum(ia, ib)
                out_a.append(lo)
                out_b.append(hi)
                out_c.append(cs)
            if out_a:
                yield pd.DataFrame(
                    {
                        "id_a": np.concatenate(out_a),
                        "id_b": np.concatenate(out_b),
                        "cosine": np.concatenate(out_c),
                    }
                )

    pairs = block_pairs.mapInPandas(gram_batches, "id_a bigint, id_b bigint, cosine double")
    # same-block pairs appear once; cross-block pairs once (blk_x < blk_y);
    # dropDuplicates guards the blk_x == blk_y diagonal double-count
    return pairs.dropDuplicates(["id_a", "id_b"])


def ivf_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    sample_size: int = 2048,
    iters: int = 10,
    seed: int = 42,
    vec_col: str = "embedding",
) -> "list[list[float]]":
    """Train IVF coarse-quantizer centroids: seeded k-means (Lloyd) over a
    bounded driver-side sample. The sample is capped (``limit``), so driver
    memory is O(sample_size · dim) regardless of corpus size — the classic
    build-small / apply-big split of IVF indexing."""
    sample = [
        [float(x) for x in r[0]]
        for r in embeddings.select(vec_col).limit(sample_size).collect()
    ]
    X = np.array(sample, dtype=np.float64)
    C = _lloyd(X, n_centroids, iters, np.random.default_rng(seed))
    return [[float(v) for v in row] for row in C]


def _lloyd(X: "np.ndarray", k: int, iters: int, rng) -> "np.ndarray":
    """Seeded Lloyd k-means: the shared numeric kernel behind the IVF coarse
    quantizer and each PQ subspace codebook (empty clusters keep their old
    centroid)."""
    C = X[rng.choice(len(X), size=min(k, len(X)), replace=False)].copy()
    for _ in range(iters):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(len(C)):
            members = X[assign == c]
            if len(members):
                C[c] = members.mean(axis=0)
    return C


def ivf_assign(
    embeddings: DataFrame,
    centroids: "list[list[float]]",
    vec_col: str = "embedding",
) -> DataFrame:
    """Append ``ivf_cell`` = nearest-centroid index (argmin L2), computed
    JVM-side from broadcast centroid literals. At rest, write the corpus
    partitioned/bucketed by ivf_cell so probes become partition-pruned scans.

    Argmin is array_min + array_position over an array of per-centroid
    distances — each distance expression appears exactly ONCE. (A chained
    ``when(d < best, ...)`` fold is exponential: every step clones the whole
    previous tree, and Catalyst analysis never returns past ~12 centroids.)
    """
    dists = F.array(
        *[
            F.aggregate(
                F.zip_with(
                    F.col(vec_col),
                    F.array(*[F.lit(float(v)) for v in c]),
                    lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            for c in centroids
        ]
    )
    return embeddings.withColumn("__d", dists).withColumn(
        "ivf_cell", (F.array_position(F.col("__d"), F.array_min(F.col("__d"))) - 1).cast("int")
    ).drop("__d")


def portable_ivf_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_count: int | None = None,
) -> "list[list[float]]":
    """Engine-portable IVF coarse centroids: the corpus vectors at the
    id-modulus stride — ``id % s == 0 AND id < n_centroids * s`` with
    ``s = max(1, count // n_centroids)`` — taken in ascending id order.

    This is k-means with ZERO Lloyd iterations and deterministic id-space
    stratified seeding: the centroids are actual corpus vectors (on the data
    manifold, unlike random constants), the selection is a pure function of
    the table (``count(*)`` and id arithmetic — the auto_bits_from_count /
    portable_hyperplanes trick), and a SQL oracle rebuilds the IDENTICAL
    centroid set, cell assignment, and probe order — which makes the whole
    IVF pipeline hash-checkable the way ann_lsh became in r7. Approximation
    quality is gated independently (recall@10 in tests/test_recall.py).
    Centroid index = rank in ascending id order. Bounded driver collect
    (<= n_centroids rows)."""
    n = corpus_count if corpus_count is not None else embeddings.count()
    s = max(1, n // n_centroids)
    rows = (
        embeddings.filter(
            (F.col(id_col) % s == 0) & (F.col(id_col) < n_centroids * s)
        )
        .select(id_col, vec_col)
        .orderBy(id_col)
        .collect()
    )
    return [[float(x) for x in r[1]] for r in rows]


def ivf_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse: str = "kmeans",
    corpus_count: int | None = None,
) -> DataFrame:
    """IVF approximate top-k: exact cosine over only the ``n_probe`` cells
    nearest the query (probing ~n_probe/n_centroids of the corpus).
    Recall grows with n_probe; n_probe = n_centroids degrades to exact.
    ``coarse="kmeans"`` trains seeded Lloyd centroids (the quality path);
    ``coarse="portable"`` uses ``portable_ivf_centroids`` (deterministic,
    SQL-replicable — the exact-oracle path). Probe order ties break by
    centroid index so both engines pick identical probe sets."""
    import numpy as np

    if coarse == "portable":
        C = np.array(
            portable_ivf_centroids(
                embeddings, n_centroids, id_col, vec_col, corpus_count
            )
        )
    else:
        C = np.array(
            ivf_centroids(embeddings, n_centroids, seed=seed, vec_col=vec_col)
        )
    q = np.array(query_vec, dtype=np.float64)
    d = ((C - q[None, :]) ** 2).sum(axis=1)
    probe = sorted(range(len(C)), key=lambda i: (d[i], i))[:n_probe]
    cells = ivf_assign(embeddings, [[float(v) for v in row] for row in C], vec_col)
    return cosine_topk(
        cells.filter(F.col("ivf_cell").isin([int(p) for p in probe])),
        query_vec,
        k,
        id_col,
        vec_col,
    )


def _hyperplanes(dim: int, bits: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]


def portable_hyperplanes(dim: int, bits: int, seed: int) -> list[list[float]]:
    """Engine-portable pseudo-random hyperplanes: pure integer arithmetic
    mapped to [-1, 1], so a SQL oracle rebuilds the byte-identical planes
    from (j, i, seed) — the same derivation trick as readers.derived_partsupp.
    Random-hyperplane LSH only needs directions that split the sphere
    roughly evenly; the multiplicative mixing below passes the same
    recall@10 gate as the Gaussian planes (tests/test_recall.py). Every
    intermediate stays under 2^53, so both engines compute exact doubles."""
    m = 2000003  # prime modulus; (v - (m-1)/2) / ((m-1)/2) spans [-1, 1]
    half = (m - 1) // 2
    return [
        [
            ((j * 73856093 + i * 19349663 + seed * 83492791) % m - half) / half
            for i in range(dim)
        ]
        for j in range(bits)
    ]


def _probe_count(bits: int, max_hamming: int) -> int:
    """Buckets probed per table: exact bucket + all within ``max_hamming``
    bit flips (the probe sets built in ``ann_topk``)."""
    p = 1
    if max_hamming >= 1:
        p += bits
    if max_hamming >= 2:
        p += bits * (bits - 1) // 2
    return p


def auto_bits(
    embeddings: DataFrame,
    dim: int,
    k: int,
    max_hamming: int = 2,
    candidate_budget: int | None = None,
    vec_col: str = "embedding",
) -> int:
    """Pick the LSH signature width from the corpus size so the expected
    candidate volume per table stays near a fixed budget instead of a fixed
    fraction of the corpus.

    n is estimated from Catalyst's optimized-plan size (no job — the same
    statistic broadcast-join planning uses) divided by the serialized vector
    width; bits only needs log2 accuracy, so an order-of-magnitude row
    estimate is plenty. Expected candidates per table for a uniform corpus
    is ``n * probes(bits)/2^bits``; we take the smallest ``bits`` in [4, 24]
    that brings that under ``candidate_budget`` (default ``max(400, 40k)``,
    sized so measured recall@10 holds >= 0.8 from hundreds to tens of
    thousands of near-isotropic vectors). Larger corpora therefore get wider
    signatures automatically — at 10^9 vectors this lands ~20 bits, i.e.
    ~10^6 buckets, the IVF-style regime you want for partition-pruned
    at-rest layouts.
    """
    if candidate_budget is None:
        candidate_budget = max(400, 40 * k)
    sz = regime.plan_bytes(embeddings.select(vec_col))
    if sz >= (1 << 62):  # estimate unavailable: safe mid-range default
        return 8
    # parquet float arrays of random values don't compress: ~4 bytes/elem
    # + per-row array overhead
    n_est = max(1, sz // (dim * 4 + 16))
    best = 4
    for b in range(4, 25):
        best = b
        if n_est * _probe_count(b, max_hamming) / float(1 << b) <= candidate_budget:
            break
    return best


def auto_bits_from_count(n: int, k: int, max_hamming: int = 2,
                         candidate_budget: int | None = None) -> int:
    """``auto_bits``' sizing rule as a pure function of an EXACT row count —
    engine-portable, so a SQL oracle derives the same width from count(*)
    (``auto_bits`` reads Catalyst's size estimate instead, which no other
    engine can see; hash-checkable keys need the portable signal). One
    count job on a dimension-sized table buys the oracle; the estimate
    variant remains for job-free callers."""
    if candidate_budget is None:
        candidate_budget = max(400, 40 * k)
    best = 4
    for b in range(4, 25):
        best = b
        if n * _probe_count(b, max_hamming) / float(1 << b) <= candidate_budget:
            break
    return best


def lsh_bucket(
    embeddings: DataFrame,
    dim: int,
    bits: int = 8,
    seed: int = 42,
    vec_col: str = "embedding",
    plane_fn=None,
) -> DataFrame:
    """Append a random-hyperplane LSH bucket id (0..2^bits-1).

    sign(v · h_j) per hyperplane → bit j. All arithmetic is built-in
    higher-order functions over the array column — no UDF.
    ``plane_fn`` swaps the Gaussian planes for another generator (e.g.
    ``portable_hyperplanes`` for SQL-oracle-checkable buckets)."""
    planes = (plane_fn or _hyperplanes)(dim, bits, seed)
    bucket = F.lit(0).cast("bigint")
    for j, plane in enumerate(planes):
        h = F.array(*[F.lit(float(x)) for x in plane])
        bit = F.when(_dot(F.col(vec_col), h) > 0, F.shiftleft(F.lit(1).cast("bigint"), j)).otherwise(
            F.lit(0).cast("bigint")
        )
        bucket = bucket.bitwiseOR(bit)
    return embeddings.withColumn("bucket", bucket)


def ann_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    dim: int,
    k: int = 10,
    bits: int | None = None,
    tables: int = 8,
    max_hamming: int = 1,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    plane_fn=None,
) -> DataFrame:
    """Approximate top-k: probe the query's LSH bucket in each of ``tables``
    independent hash tables (union of candidates), then exact cosine over
    the candidates. Standard multi-table angular LSH: one table of b bits
    recalls poorly on near-isotropic embeddings (measured 0.1 recall@10 at
    sf0.01); independent tables trade probe volume for recall — each table
    is an OR-chance to catch a neighbor. Multi-probe widens each table's
    probe set to buckets within ``max_hamming`` bit flips.

    Plan shape: all table buckets are built-in bit-arithmetic columns in ONE
    scan; the candidate filter is an OR over per-table membership, so probe
    volume scales with tables x probe-set size, never with corpus size. At
    rest, write the corpus partitioned by table-0 bucket so the hot path is
    partition-pruned; recall knobs: tables (up), bits (down), max_hamming
    (up) — each widens the probed fraction.

    ``bits=None`` (default) sizes the signature to the corpus via
    ``auto_bits`` — constant expected candidate volume per table instead of
    a constant corpus fraction, so recall holds without retuning as the
    corpus grows. Measured recall@10 for the default (auto bits, 8 tables)
    on near-isotropic 64-d corpora: 1.0 at n=500 and n=2000; the per-table
    sweep behind the defaults is in tests/test_recall.py — recall tracks
    ``tables`` (OR-chances) far more than ``bits`` once the candidate
    budget is held constant.
    """
    if bits is None:
        bits = auto_bits(
            embeddings, dim, k, max_hamming=max_hamming, vec_col=vec_col
        )
    cond = None
    bucketed = embeddings
    for t in range(tables):
        planes = (plane_fn or _hyperplanes)(dim, bits, seed + t)
        qb = 0
        for j, plane in enumerate(planes):
            if sum(q * p for q, p in zip(query_vec, plane)) > 0:
                qb |= 1 << j
        probe = {qb}
        if max_hamming >= 1:
            probe |= {qb ^ (1 << j) for j in range(bits)}
        if max_hamming >= 2:
            probe |= {
                qb ^ (1 << i) ^ (1 << j)
                for i in range(bits)
                for j in range(i + 1, bits)
            }
        bucketed = lsh_bucket(
            bucketed, dim, bits, seed + t, vec_col, plane_fn=plane_fn
        ).withColumnRenamed(
            "bucket", f"__bkt{t}"
        )
        c = F.col(f"__bkt{t}").isin([int(p) for p in probe])
        cond = c if cond is None else (cond | c)
    cands = bucketed.filter(cond).drop(*[f"__bkt{t}" for t in range(tables)])
    return cosine_topk(cands, query_vec, k, id_col, vec_col)


def pq_train(
    embeddings: DataFrame,
    m: int = 8,
    ksub: int = 16,
    sample_size: int = 2048,
    iters: int = 10,
    seed: int = 42,
    vec_col: str = "embedding",
) -> "list[list[list[float]]]":
    """Train product-quantization codebooks: split the (L2-normalized)
    vector into ``m`` subspaces and k-means each independently (Jégou,
    Douze, Schmid 2011, implemented from the paper).

    Same build-small/apply-big contract as ``ivf_centroids``: training runs
    on a bounded driver-side sample (O(sample_size · dim) memory regardless
    of corpus size); encoding and search are distributed. Normalization
    makes L2 order cosine order, so the ADC scores rank like the exact
    cosine operators. Returns m codebooks of ksub × (dim/m) centroids.
    """
    X = np.array(
        [
            [float(x) for x in r[0]]
            for r in embeddings.select(vec_col).limit(sample_size).collect()
        ],
        dtype=np.float64,
    )
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    rng = np.random.default_rng(seed)
    books = []
    for s in range(m):
        C = _lloyd(X[:, s * dsub : (s + 1) * dsub], ksub, iters, rng)
        books.append([[float(v) for v in row] for row in C])
    return books


def portable_pq_codebooks(
    embeddings: DataFrame,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    corpus_count: int | None = None,
) -> "list[list[list[float]]]":
    """Engine-portable PQ codebooks (the ann_pq analogue of
    ``portable_ivf_centroids``, r9): take the ``ksub`` corpus vectors at the
    id-modulus stride — the identical selection the IVF oracle rebuilds in
    SQL — and let subspace ``s``'s codebook be their ``s``-th subvectors.
    Zero Lloyd iterations, no normalization (raw float→double is exact), so
    a SQL oracle derives the IDENTICAL codebooks from ``count(*)`` + id
    arithmetic + list slicing, making the whole PQ pipeline hash-checkable
    the way ann_lsh (r7) and ann_ivf (r8) became. Quality is gated
    independently (recall/self-check); the seeded-Lloyd ``pq_train`` path
    remains the quality/tuning path."""
    rows = portable_ivf_centroids(embeddings, ksub, id_col, vec_col, corpus_count)
    dim = len(rows[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    return [
        [row[s * dsub : (s + 1) * dsub] for row in rows] for s in range(m)
    ]


def pq_encode_jvm(
    embeddings: DataFrame,
    codebooks: "list[list[list[float]]]",
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """JVM-only PQ encoding — the engine-portable twin of ``pq_encode``:
    per subspace, squared-L2 to each centroid is the identical left fold the
    SQL oracle runs (``aggregate`` over ``zip_with`` with a 0.0 seed, the
    ``ivf_assign`` kernel), and argmin ties break to the lowest centroid
    index (``array_position`` = first occurrence ↔ the oracle's
    ``row_number() ORDER BY dist, cidx``). No normalization and no NumPy:
    every input reaches the fold as the exact float→double of the stored
    value, so codes are bit-reproducible across engines. Whole-stage
    codegen end-to-end (m·ksub fold expressions — 128 at 8×16); at scale
    this is the same scan-side map as ``ivf_assign``, no shuffle."""
    m = len(codebooks)
    dsub = len(codebooks[0][0])

    def sub_dists(s: int):
        sub = F.slice(F.col(vec_col), s * dsub + 1, dsub)
        return F.array(
            *[
                F.aggregate(
                    F.zip_with(
                        sub,
                        F.array(*[F.lit(float(v)) for v in c]),
                        lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
                for c in codebooks[s]
            ]
        )

    # Materialize each subspace's distance array once (the ivf_assign
    # move: array_position + array_min both read it; inlining would clone
    # every fold tree twice).
    out = embeddings
    for s in range(m):
        out = out.withColumn(f"__pqd{s}", sub_dists(s))
    code = F.array(
        *[
            (
                F.array_position(F.col(f"__pqd{s}"), F.array_min(F.col(f"__pqd{s}"))) - 1
            ).cast("int")
            for s in range(m)
        ]
    )
    return out.withColumn(out_col, code).drop(*[f"__pqd{s}" for s in range(m)])


def pq_encode(
    embeddings: DataFrame,
    codebooks: "list[list[list[float]]]",
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Append the PQ code (array of ``m`` small ints — 4 bits each at
    ksub=16, a 64-float vector compressed ~64x) via one Arrow-batched NumPy
    pass: per subspace, a (batch × ksub) distance matrix and an argmin.

    At rest this is the at-scale layout: store codes next to ids and drop
    raw vectors from the hot path; a billion 64-dim float32 vectors are
    256 GB raw but 8 GB as m=8 codes.
    """
    from pyspark.sql.functions import pandas_udf

    books = [np.array(b, dtype=np.float64) for b in codebooks]
    dsub = books[0].shape[1]

    @pandas_udf("array<int>")
    def encode(vs: pd.Series) -> pd.Series:
        if not len(vs):  # empty Arrow batch (e.g. a cell-filtered partition)
            return pd.Series([], dtype=object)
        X = np.array([np.asarray(v, dtype=np.float64) for v in vs])
        X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        codes = np.empty((len(X), len(books)), dtype=np.int32)
        for s, C in enumerate(books):
            Xs = X[:, s * dsub : (s + 1) * dsub]
            # ||x-c||² = ||x||² - 2x·c + ||c||²; argmin over c drops ||x||²
            d = (C**2).sum(axis=1)[None, :] - 2.0 * (Xs @ C.T)
            codes[:, s] = d.argmin(axis=1)
        return pd.Series(list(codes))

    return embeddings.withColumn(out_col, encode(vec_col))


def pq_topk(
    embeddings: DataFrame,
    query_vec: "list[float]",
    k: int = 10,
    m: int = 8,
    ksub: int = 16,
    rerank: int = 50,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: str = "kmeans",
    corpus_count: int | None = None,
) -> DataFrame:
    """Approximate top-k via PQ asymmetric distance, exact-rescored.

    Search shape (the part that matters at 10⁹ vectors): the query builds an
    m × ksub lookup table ONCE on the driver; each row's score is m array
    lookups summed — `zip_with(code, luts, (c, l) -> l[c])` entirely
    JVM-side, no Python, no shuffle, then TakeOrderedAndProject keeps the
    ``rerank`` best ADC candidates. Exact cosine re-scores only those
    candidates (the standard select-coarse/rescore-exact pattern), so the
    returned scores are true cosines and ties rank identically to the exact
    operators.

    ``codebooks="kmeans"`` trains seeded Lloyd per subspace (the quality /
    tuning path); ``codebooks="portable"`` uses ``portable_pq_codebooks`` +
    the JVM left-fold encoder and a left-fold LUT, so every ADC score is
    BIT-IDENTICAL to the SQL oracle's — the exact-oracle path (r9, the
    ann_lsh/ann_ivf precedent). ADC ties break by id on both engines.
    """
    if codebooks == "portable":
        books = portable_pq_codebooks(
            embeddings, m, ksub, id_col, vec_col, corpus_count
        )
        encoded = pq_encode_jvm(embeddings, books, vec_col)
        adc = _adc_col(books, query_vec, normalize=False, fold="left")
    else:
        books = pq_train(embeddings, m, ksub, seed=seed, vec_col=vec_col)
        encoded = pq_encode(embeddings, books, vec_col)
        adc = _adc_col(books, query_vec)
    cands = (
        encoded.withColumn("__adc", adc)
        .orderBy(F.col("__adc").asc(), id_col)
        .limit(rerank)
    )
    return cosine_topk(cands, query_vec, k, id_col, vec_col)


def _adc_col(
    books: "list[list[list[float]]]",
    query_vec: "list[float]",
    code_col: str = "pq_code",
    normalize: bool = True,
    fold: str = "numpy",
):
    """ADC score column for one query: m × ksub lookup table built once on
    the driver, each row scored by m JVM array lookups summed.

    ``fold="left"`` (+ ``normalize=False``) computes each LUT entry as an
    explicit left-to-right IEEE fold over raw query/centroid doubles — the
    identical operation order (and identical float→double inputs) as the
    SQL oracle's ``list_reduce(list_prepend(0.0, …))``, so portable-codebook
    ADC scores are bit-identical across engines (equal codes ⇒ equal scores
    ⇒ ties break by id the same way everywhere)."""
    if fold == "left" and normalize:
        # the left-fold/oracle contract requires RAW doubles — a normalized
        # query would silently break bit-identity with the SQL twin
        # (ADVICE r9): callers must pass normalize=False explicitly.
        raise ValueError(
            "_adc_col: fold='left' requires normalize=False (the portable "
            "oracle folds raw query/centroid doubles)"
        )
    m = len(books)
    dsub = len(query_vec) // m
    if fold == "left":
        q = [float(x) for x in query_vec]
        luts = []
        for s, C in enumerate(books):
            qs = q[s * dsub : (s + 1) * dsub]
            row = []
            for c in C:
                acc = 0.0
                for a, b in zip(qs, c):
                    d = a - float(b)
                    acc = acc + d * d
                row.append(acc)
            luts.append(row)
    else:
        q = np.array(query_vec, dtype=np.float64)
        if normalize:
            q /= max(float(np.linalg.norm(q)), 1e-12)
        luts = []
        for s, C in enumerate(np.array(b, dtype=np.float64) for b in books):
            qs = q[s * dsub : (s + 1) * dsub]
            luts.append([float(((qs - c) ** 2).sum()) for c in C])
    lut_col = F.array(*[F.array(*[F.lit(v) for v in row]) for row in luts])
    return F.aggregate(
        F.zip_with(
            F.col(code_col),
            lut_col,
            lambda c, l: F.element_at(l, c + F.lit(1)),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def build_ivfpq_index(
    embeddings: DataFrame,
    path: str,
    n_centroids: int = 16,
    m: int = 8,
    ksub: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Build and PERSIST an IVF-PQ index — the at-rest layout the in-memory
    ``ivfpq_topk`` docstring promises:

    - ``<path>/codes``: (id, pq_code) parquet, ``partitionBy(ivf_cell)`` —
      a probe reads only its cells' directories (partition pruning,
      plan-asserted in tests) and only code bytes (~1/64th of raw vectors).
    - ``<path>/meta.json``: coarse centroids + PQ codebooks + params — KBs,
      written once by the driver, broadcast-sized forever.

    Train-small/apply-big: centroid + codebook training reads a bounded
    sample; encoding is one distributed Arrow pass over the corpus. Rebuild
    to refresh — the index is immutable at rest, like any parquet table.
    """
    import json as _json
    import os as _os

    cents = ivf_centroids(embeddings, n_centroids, seed=seed, vec_col=vec_col)
    books = pq_train(embeddings, m, ksub, seed=seed, vec_col=vec_col)
    codes = pq_encode(ivf_assign(embeddings, cents, vec_col), books, vec_col).select(
        id_col, "ivf_cell", "pq_code"
    )
    codes.write.mode("overwrite").partitionBy("ivf_cell").parquet(f"{path}/codes")
    _os.makedirs(path, exist_ok=True)
    with open(f"{path}/meta.json", "w") as fh:
        _json.dump(
            {
                "centroids": cents,
                "codebooks": books,
                "n_centroids": n_centroids,
                "m": m,
                "ksub": ksub,
                "id_col": id_col,
            },
            fh,
        )


def ivfpq_index_search(
    spark,
    path: str,
    query_vec: "list[float]",
    vectors: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    rerank: int = 50,
    vec_col: str = "embedding",
) -> DataFrame:
    """Query a persisted IVF-PQ index: probe-cell PARTITION-PRUNED read of
    the code table, JVM-only ADC scan, then exact cosine rescore of the
    ``rerank`` survivors against the raw-vector store ``vectors`` (joined by
    id — at scale a point-lookup-friendly table, here the fixture frame).

    The serving path touches n_probe/n_centroids of the partitions and only
    code bytes until the final ``rerank`` rows — the Jégou-2011 shape, now
    with the index actually at rest instead of recomputed per query.
    """
    import json as _json

    with open(f"{path}/meta.json") as fh:
        meta = _json.load(fh)
    id_col = meta["id_col"]
    q = np.array(query_vec, dtype=np.float64)
    probe = np.argsort(
        [((q - np.array(c)) ** 2).sum() for c in meta["centroids"]]
    )[:n_probe]
    codes = spark.read.parquet(f"{path}/codes").filter(
        F.col("ivf_cell").isin([int(p) for p in probe])
    )
    cands = (
        codes.withColumn("__adc", _adc_col(meta["codebooks"], query_vec))
        .orderBy(F.col("__adc").asc(), id_col)
        .limit(rerank)
        .select(id_col)
    )
    rescored = vectors.join(cands, id_col)
    return cosine_topk(rescored, query_vec, k, id_col, vec_col)


def ivfpq_topk(
    embeddings: DataFrame,
    query_vec: "list[float]",
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 8,
    ksub: int = 16,
    rerank: int = 50,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: the standard billion-scale ANN index shape (coarse k-means
    cells to prune the corpus, PQ codes to score what's left — Jégou 2011
    §V), composed from the repo's own ``ivf_*`` and ``pq_*`` pieces.

    At rest: corpus partitioned by ``ivf_cell`` with (id, pq_code) columns —
    a probe touches n_probe/n_centroids of the partitions (partition
    pruning) and reads ~1/64th of the bytes (codes, not vectors). Here the
    cell filter + ADC scan express that plan over the fixture table; exact
    cosine rescores only the ``rerank`` survivors.
    """
    cents = ivf_centroids(embeddings, n_centroids, seed=seed, vec_col=vec_col)
    q = np.array(query_vec, dtype=np.float64)
    probe = np.argsort([((q - np.array(c)) ** 2).sum() for c in cents])[:n_probe]
    cells = ivf_assign(embeddings, cents, vec_col).filter(
        F.col("ivf_cell").isin([int(p) for p in probe])
    )
    return pq_topk(
        cells, query_vec, k, m, ksub, rerank, seed, id_col, vec_col
    )
