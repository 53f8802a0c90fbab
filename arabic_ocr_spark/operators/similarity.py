"""Similarity search over the embeddings table (vec_id, embedding float[],
label).

- brute-force cosine top-k: the exactness baseline.  The query set is tiny
  -> broadcast; the corpus side streams map-only, then one top-k shuffle of
  k rows per query (window rank).  At 100 TB of vectors this is the classic
  "broadcast queries, scan corpus once" pattern.
- LSH-bucketed ANN: multi-table random-hyperplane signatures bucket the
  corpus; a query's candidates are the union of its buckets across tables —
  the scale path trading recall for a ~2^bits-per-table scan reduction.
  (Planes are a pure function of a fixed seed — results are run-stable.)
- high-threshold near-dup join: the same banding primitive as a candidate
  prefilter in front of an exact verifier (embedding_neardup_hi), with a
  collision-model parameter helper (neardup_band_params).

All arithmetic is double-precision with explicit rounding so the DuckDB
oracle matches value-for-value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from arabic_ocr_spark.operators.dedup import band_pairs, bucket_audit, resolve_bucket_cap

__all__ = ["cosine_topk", "lsh_ann_topk", "lsh_ann_candidates", "ann_recall",
           "embedding_dup_pairs", "embedding_neardup_candidates", "embedding_neardup_hi",
           "neardup_band_params", "neardup_bucket_audit"]


def _cosine(a, b):
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))
    nb = F.sqrt(F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))
    return dot / (na * nb)


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _vectors(embeddings: DataFrame) -> DataFrame:
    """(vec_id, v double[]): the projection every operator here reads."""
    return embeddings.select("vec_id", _as_double("embedding").alias("v"))


def _verify_cosine(cand: DataFrame, vecs: DataFrame, threshold: float) -> DataFrame:
    """(vec_a, vec_b, sim_r): exact re-verification of candidate pairs —
    both vectors joined in, cosine by the sequential-fold HOF expression
    (bit-identical to the DuckDB oracle's), rounded to 4, kept at
    >= threshold."""
    va = vecs.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    vb = vecs.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .select("vec_a", "vec_b", F.round(_cosine(F.col("va"), F.col("vb")), 4).alias("sim_r"))
        .filter(F.col("sim_r") >= threshold)
    )


def _rank_topk(sims: DataFrame, k: int) -> DataFrame:
    """Top-k rows per query_id of (query_id, neighbor_id, sim_r), ranked
    deterministically by (sim_r desc, neighbor_id asc) into `rank`."""
    w = Window.partitionBy("query_id").orderBy(F.col("sim_r").desc(), F.col("neighbor_id").asc())
    return sims.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def cosine_topk(embeddings: DataFrame, n_queries: int = 5, k: int = 10) -> DataFrame:
    """Top-k cosine neighbours for the first n_queries vectors.

    Output: (query_id, neighbor_id, sim_r, rank) with sim rounded to 4 and
    deterministic (sim desc, neighbor_id asc) ranking."""
    vecs = _vectors(embeddings)
    queries = vecs.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("q")
    )
    sims = (
        vecs.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(_cosine(F.col("q"), F.col("v")), 4).alias("sim_r"),
        )
    )
    return _rank_topk(sims, k)


def embedding_dup_pairs(embeddings: DataFrame, threshold: float = 0.38,
                        block_rows: int = 1024, n_rows: int | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (vec_a < vec_b, sim_r) with
    cosine >= threshold (default calibrated to the synthetic fixture
    embeddings, whose max pairwise cosine is ~0.48; production near-dup
    thresholds sit at 0.95+).

    Exact, in two stages:

    1. Candidate generation by BLOCKED MATRIX MULTIPLY: vectors are hashed
       into n/block_rows blocks; each of the B*(B+1)/2 block pairs is one
       task that computes its cosine sub-matrix as a single normalized
       float64 GEMM (BLAS, ~1000x the per-pair HOF expression throughput)
       and emits index pairs above `threshold - 6e-5` (margin covers both
       the round-to-4-decimals output boundary and BLAS-vs-sequential
       float summation divergence).  Shuffle cost: each block replicated B
       times, i.e. data inflates by sqrt(2 * #tasks) — the standard exact
       block-nested-loop layout.
    2. Exact re-verification: the few surviving pairs re-compute cosine with
       the sequential-fold HOF expression, so emitted values are
       bit-identical to any engine evaluating the same left-fold (the
       DuckDB oracle matches value-for-value).

    Why not LSH here: at cosine ~0.38 the per-hyperplane agreement
    probability is ~0.62, so ANY banding scheme with near-zero miss rate
    generates more candidates than all-pairs — banded LSH only prunes in
    the high-threshold regime (0.9+), where embedding_neardup_hi composes
    it as a prefilter in front of this same verify stage.
    The exact quadratic-FLOPs path is therefore run at GEMM speed, which is
    the honest cost floor for an exact low-threshold similarity join."""
    import pandas as pd

    vecs = _vectors(embeddings)
    # n only sizes the block grid — pass n_rows (e.g. a catalog/metadata row
    # count) to avoid the planning-time full pass; any approximate count of
    # the right magnitude yields the same task layout
    n = n_rows if n_rows is not None else vecs.count()
    num_blocks = max(1, -(-n // block_rows))
    blocked = vecs.withColumn(
        "block", F.pmod(F.xxhash64("vec_id"), F.lit(num_blocks)).cast("int")
    )
    packed = blocked.groupBy("block").agg(
        F.collect_list(F.struct("vec_id", "v")).alias("rows")
    )
    tasks = (
        packed.select(F.col("block").alias("block_a"), F.col("rows").alias("rows_a"))
        .join(
            packed.select(F.col("block").alias("block_b"), F.col("rows").alias("rows_b")),
            F.col("block_a") <= F.col("block_b"),
        )
        .repartition(num_blocks * (num_blocks + 1) // 2, "block_a", "block_b")
    )
    cand_floor = threshold - 6e-5

    def gemm_candidates(batches):
        import numpy as np

        for pdf in batches:
            out_a, out_b = [], []
            for rows_a, rows_b, same in zip(
                pdf["rows_a"], pdf["rows_b"], pdf["block_a"] == pdf["block_b"]
            ):
                ids_a = np.asarray([r["vec_id"] for r in rows_a], dtype=np.int64)
                A = np.asarray([np.asarray(r["v"], dtype=np.float64) for r in rows_a])
                A /= np.linalg.norm(A, axis=1, keepdims=True)
                if same:
                    ids_b, Bm = ids_a, A
                else:
                    ids_b = np.asarray([r["vec_id"] for r in rows_b], dtype=np.int64)
                    Bm = np.asarray([np.asarray(r["v"], dtype=np.float64) for r in rows_b])
                    Bm /= np.linalg.norm(Bm, axis=1, keepdims=True)
                G = A @ Bm.T
                ii, jj = np.nonzero(G >= cand_floor)
                ia, ib = ids_a[ii], ids_b[jj]
                keep = ia != ib  # unordered pair emitted once: (min, max)
                out_a.append(np.minimum(ia, ib)[keep])
                out_b.append(np.maximum(ia, ib)[keep])
            a = np.concatenate(out_a) if out_a else np.array([], dtype=np.int64)
            b = np.concatenate(out_b) if out_b else np.array([], dtype=np.int64)
            if len(a):  # same-block pairs surface twice in the sym. matrix
                uniq = np.unique(np.stack([a, b], axis=1), axis=0)
                a, b = uniq[:, 0], uniq[:, 1]
            yield pd.DataFrame({"vec_a": a, "vec_b": b})

    cand = tasks.mapInPandas(gemm_candidates, "vec_a bigint, vec_b bigint")
    return _verify_cosine(cand, vecs, threshold)


def _band_buckets(vecs: DataFrame, n_bands: int, rows_per_band: int, seed: int) -> DataFrame:
    """(vec_id, band, key): multi-band random-hyperplane signatures, the
    SimHash/banding construction (Charikar 2002; banding shape per
    operators/dedup.py lsh_candidate_pairs).  Each band's key packs
    `rows_per_band` sign bits of Gaussian projections into one int64.

    MAP-ONLY: one Arrow batch -> one (n x dim) @ (dim x bits) GEMM -> n_bands
    rows per vector.  The plane matrix is a pure function of
    (seed, n_bands * rows_per_band, dim), regenerated identically inside
    every task — nothing is broadcast, results are run-stable."""
    import numpy as np
    import pandas as pd

    bits_total = n_bands * rows_per_band
    if rows_per_band > 62:
        raise ValueError("rows_per_band must fit an int64 key")

    def sig(batches):
        planes: dict[int, np.ndarray] = {}
        weights = 1 << np.arange(rows_per_band, dtype=np.int64)
        bands = np.arange(n_bands, dtype=np.int32)
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.asarray([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            d = X.shape[1]
            P = planes.get(d)
            if P is None:
                P = np.random.default_rng(seed).standard_normal((bits_total, d))
                planes[d] = P
            bits = (X @ P.T) > 0  # (n, bits_total); sign of each projection
            keys = bits.reshape(len(X), n_bands, rows_per_band) @ weights
            yield pd.DataFrame({
                "vec_id": np.repeat(pdf["vec_id"].to_numpy(), n_bands),
                "band": np.tile(bands, len(X)),
                "key": keys.reshape(-1),
            })

    return vecs.mapInPandas(sig, "vec_id bigint, band int, key bigint")


def embedding_neardup_candidates(embeddings: DataFrame, n_bands: int = 16,
                                 rows_per_band: int = 12, seed: int = 7,
                                 max_bucket_size: int | str | None = "auto",
                                 n_rows: int | None = None) -> DataFrame:
    """Candidate near-duplicate pairs (vec_a < vec_b) sharing at least one
    hyperplane-LSH band — the HIGH-threshold prefilter embedding_dup_pairs's
    docstring defers to.

    Probability calculus (p = 1 - theta/pi per hyperplane bit): a pair at
    cosine 0.95 (p ~ 0.90) collides in a 12-bit band w.p. ~0.28, so all 16
    bands miss it w.p. (1-0.28)^16 ~ 0.5%; at cosine 0.98+ the miss rate is
    below 1e-4.  A background pair at cosine ~0 (p = 0.5) collides
    anywhere w.p. 16 * 2^-12 ~ 0.4% — candidate volume stays O(n) on
    near-orthogonal corpora instead of the exact path's n^2/2 GEMM entries.
    Both rates are DETERMINISTIC for a fixed (seed, corpus): the planes are
    a pure function of the seed, so recall is a testable constant, not a
    random variable.

    max_bucket_size — the hot-bucket guard's cap, resolved by
    resolve_bucket_cap: the default "auto" derives it as
    auto_bucket_cap(n) = ceil(8*sqrt(n)) (pass n_rows to skip the
    plan-time count); at the gated fixture scales natural buckets sit far
    below it (max 9 vs cap 189+); None disables the guard.  See
    dedup.band_pairs for the star rule and its recall caveat, and
    neardup_bucket_audit for the audit.

    Scale shape: signature pass is map-only (one GEMM per Arrow batch); the
    only shuffles are the self-join on the short (band, key) buckets and the
    final distinct — identical to the MinHash-LSH text ladder, which is the
    point: at 0.95+ this replaces a quadratic GEMM with a bucket join."""
    vecs = _vectors(embeddings)
    buckets = _band_buckets(vecs, n_bands, rows_per_band, seed)
    cap = resolve_bucket_cap(max_bucket_size, vecs, n_rows)
    return band_pairs(buckets, "vec_id", cap, "vec_a", "vec_b")


def neardup_bucket_audit(embeddings: DataFrame, n_bands: int = 16,
                         rows_per_band: int = 12, seed: int = 7,
                         max_bucket_size: int | str | None = "auto",
                         n_rows: int | None = None) -> DataFrame:
    """The hot-bucket audit for embedding_neardup_candidates at the same
    parameters: one row (cap, n_buckets, n_hot_buckets, max_bucket,
    dropped_pairs_ubound).  Run it before enabling a cap on a new corpus —
    and alongside the guarded job in production — so a binding cap is a
    measured, inspected event rather than silent pair loss."""
    vecs = _vectors(embeddings)
    cap = resolve_bucket_cap(max_bucket_size, vecs, n_rows)
    return bucket_audit(_band_buckets(vecs, n_bands, rows_per_band, seed), cap, "vec_id")


def neardup_band_params(n_rows: int, threshold: float = 0.95,
                        recall_target: float = 0.999,
                        candidates_per_row: float = 8.0) -> tuple[int, int]:
    """Size (n_bands, rows_per_band) for embedding_neardup_hi from the
    Charikar collision model, so candidate volume stays O(n) as the corpus
    grows (the fixed default (16, 12) keeps a constant ~0.5% FRACTION of
    all pairs — fine at fixture scale, quadratic growth in absolute count).

    Model: a hyperplane bit agrees on a pair at cosine s w.p.
    p = 1 - acos(s)/pi.
    - true pairs at `threshold`: miss probability (1 - p^r)^b must be
      <= 1 - recall_target  ->  b = ceil(ln(1-recall) / ln(1-p^r));
    - background pairs (cosine ~0, p = 1/2): expected candidates
      ~ n^2/2 * b * 2^-r, bounded to candidates_per_row * n.
    Scans r upward and returns the first (b, r) meeting both — more bits
    per band cut the background exponentially while the recall constraint
    grows b only polynomially.  At n = 10^9 / threshold 0.95 / recall
    0.999 this lands near (254, 34): ~8.6k signature bits ~ 1 KB/vector,
    the honest price of three-nines recall at p ~ 0.9; recall_target 0.99
    roughly thirds the bands.  All outputs stay deterministic for a fixed
    seed."""
    import math

    p = 1 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    b = 1
    for r in range(4, 62):
        pr = p ** r
        if pr >= 1.0:
            b = 1
        else:
            b = max(1, math.ceil(math.log(max(1e-15, 1.0 - recall_target)) / math.log(1.0 - pr)))
        expected_bg = (n_rows * max(n_rows - 1, 1) / 2.0) * b * 2.0 ** (-r)
        if expected_bg <= candidates_per_row * n_rows:
            return b, r
    return b, 61


def embedding_neardup_hi(embeddings: DataFrame, threshold: float = 0.95,
                         n_bands: int | None = None, rows_per_band: int | None = None,
                         seed: int = 7, n_rows: int | None = None,
                         max_bucket_size: int | str | None = "auto") -> DataFrame:
    """High-threshold embedding near-duplicate pairs: (vec_a < vec_b, sim_r)
    with cosine >= threshold (>= 0.9 regime), as banded-LSH candidates +
    exact HOF-cosine verification.

    This is the production near-dup operator: at thresholds where banding
    prunes (0.9+), candidate volume is far below n^2/2 and the whole job is
    scan + bucket-join shaped.  (n_bands, rows_per_band) default to the
    neardup_band_params collision-model sizing for the ACTUAL corpus row
    count (pass n_rows — a catalog/metadata count — to skip the plan-time
    count; any approximation of the right magnitude yields the same
    params), so the background candidate rate stays O(n) at every corpus
    size instead of a fixed fraction of n^2; pass both explicitly to pin a
    banding.  max_bucket_size forwards the hot-bucket star guard, ON by
    default at the auto cap ceil(8*sqrt(n)) — non-binding on natural
    buckets, capping only mass-templated degenerate clusters (see
    dedup.band_pairs for the chain-cluster recall caveat when it binds,
    and neardup_bucket_audit for the audit).  For LOW thresholds
    (< ~0.6) use embedding_dup_pairs — there banding cannot prune and the
    exact blocked GEMM is the honest cost floor (see its docstring).  The
    verify stage recomputes cosine with the sequential-fold HOF expression,
    so emitted values are bit-identical to the DuckDB all-pairs oracle."""
    if threshold < 0.9:
        raise ValueError(
            f"embedding_neardup_hi is the high-threshold (>=0.9) operator; "
            f"at threshold={threshold} banding does not prune — use "
            f"embedding_dup_pairs (exact blocked GEMM) instead"
        )
    vecs = _vectors(embeddings)
    # one count serves both auto-derivations (banding AND the bucket cap)
    n = n_rows
    if n is None and (n_bands is None or rows_per_band is None or max_bucket_size == "auto"):
        n = vecs.count()
    if n_bands is None or rows_per_band is None:
        auto_b, auto_r = neardup_band_params(n, threshold)
        n_bands = auto_b if n_bands is None else n_bands
        rows_per_band = auto_r if rows_per_band is None else rows_per_band
    max_bucket_size = resolve_bucket_cap(max_bucket_size, vecs, n)
    cand = embedding_neardup_candidates(embeddings, n_bands, rows_per_band, seed,
                                        max_bucket_size)
    return _verify_cosine(cand, vecs, threshold)


def ann_recall(embeddings: DataFrame, n_queries: int = 5, k: int = 10,
               exact: DataFrame | None = None, lsh: DataFrame | None = None) -> DataFrame:
    """Recall@k of lsh_ann_topk vs the exact cosine_topk baseline, as one
    row (n_exact, n_hit, lsh_recall): the exact top-k left-joined to the
    LSH hits, recall rounded to 6 places.  Both top-k sets are
    deterministic functions of (seed, corpus), so the row is a replayable
    constant that the DuckDB twin (__spark_entry__._sql_lsh_ann_recall)
    recomputes value for value.

    exact/lsh optionally supply already-materialized top-k frames
    (cosine_topk / lsh_ann_topk output shape): a pipeline that just ran the
    top-k queries measures the results it has instead of paying for them
    again (the driver's _ann_chain cache does exactly that).  Default
    frames are sized by the n_queries parameter."""
    if exact is None:
        exact = cosine_topk(embeddings, n_queries, k)
    if lsh is None:
        lsh = lsh_ann_topk(embeddings, n_queries, k)
    hits = lsh.select("query_id", "neighbor_id").withColumn("hit", F.lit(1))
    hit = F.sum(F.coalesce("hit", F.lit(0)))
    return (
        exact.select("query_id", "neighbor_id")
        .join(hits, ["query_id", "neighbor_id"], "left")
        .agg(
            F.count("*").cast("long").alias("n_exact"),
            F.coalesce(hit, F.lit(0)).cast("long").alias("n_hit"),
            F.round(hit / F.count("*"), 6).alias("lsh_recall"),
        )
    )


def lsh_ann_candidates(embeddings: DataFrame, n_queries: int = 5,
                       n_planes: int = 4, n_tables: int = 16,
                       seed: int = 11) -> DataFrame:
    """(query_id, neighbor_id): the candidate-generation stage of
    lsh_ann_topk — corpus vectors sharing the query's (band, key) bucket in
    ANY of the `n_tables` signature tables (OR-banding), deduplicated.

    DETERMINISTIC for a fixed (seed, corpus): the Gaussian planes are a
    pure function of the seed and bucketing is sign-of-projection, so this
    stage is DuckDB-oracle-checked — the oracle replays the identical
    float64 planes as SQL literals and the identical sign rule over the
    same parquet floats (see __spark_entry__._sql_lsh_ann_candidates).
    The top-k ranked over these candidates is approximate only in that it
    can miss true neighbours; ann_recall measures how many."""
    vecs = _vectors(embeddings)
    # table t = band t of the shared banding primitive (seeded planes)
    buckets = _band_buckets(vecs, n_tables, n_planes, seed=seed)
    qbuckets = (
        buckets.filter(F.col("vec_id") < n_queries)
        .select(F.col("vec_id").alias("query_id"), "band", "key")
    )
    return (
        buckets.join(F.broadcast(qbuckets), ["band", "key"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])  # OR over tables
    )


def lsh_ann_topk(embeddings: DataFrame, n_queries: int = 5, k: int = 10,
                 n_planes: int = 4, n_tables: int = 16) -> DataFrame:
    """Approximate top-k via MULTI-TABLE hyperplane LSH: `n_tables`
    independent `n_planes`-bit signature tables; a corpus vector is a
    candidate for a query if it shares the query's bucket in ANY table
    (OR-banding), then exact cosine ranks the candidates.  Same output shape
    as cosine_topk.  The bucketing is seed-stable (the Gaussian planes are
    a pure function of the seed), so the whole operator is a deterministic
    function of (seed, corpus) and value-gated by its DuckDB twin
    (__spark_entry__._sql_lsh_ann_topk); ann_recall measures what the
    approximation misses.

    The single-table variant this replaces measured recall@10 = 0.18 on the
    isotropic fixture: one 4-bit bucket keeps only ~(1 - theta/pi)^4 of true
    neighbours.  OR-banding is the standard recall repair — miss probability
    drops to (1 - p^b)^T: 8 tables measured 0.72, the 16-table default 0.98
    (>= the repo's 0.8 ANN gate) — while the scan shape is unchanged:
    signatures come from the same map-only GEMM primitive the near-dup
    operator uses (_band_buckets: one Arrow batch -> one matrix multiply,
    planes a pure seeded function — results stay run-stable), and
    candidates from ONE pass of the corpus signature rows against the
    broadcast query signature set (the OR over tables is the (band, key)
    equi-join).

    Honest pruning note: on THIS fixture true top-10 neighbours sit at
    cosine ~0.4 (p ~ 0.63/bit), so 0.98 recall costs a candidate fraction
    of ~1-(1-2^-4)^16 ~ 0.64 of the corpus — weak pruning is inherent to
    isotropic data, not to the operator (on clustered real corpora p for
    true neighbours is far higher and the same banding prunes hard).  It is
    the engine's one approximate top-k: model-free, with no training
    pass."""
    vecs = _vectors(embeddings)
    cand_ids = lsh_ann_candidates(embeddings, n_queries, n_planes, n_tables)
    queries = vecs.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("q")
    )
    nbrs = vecs.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("v"))
    sims = (
        cand_ids.join(F.broadcast(queries), "query_id")
        .join(nbrs, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(_cosine(F.col("q"), F.col("v")), 4).alias("sim_r"),
        )
    )
    return _rank_topk(sims, k)
