"""Similarity search over embedding columns (array<float>).

Three tiers:
- ``brute_force_topk`` — exact cosine top-k: broadcast the query set,
  score every (query, vector) pair, window top-k. Exact baseline; one pass
  over the corpus per query batch, embarrassingly parallel.
- ``lsh_topk`` — random-hyperplane LSH buckets: sign-bit sketch on both
  sides, equi-join on bucket, top-k within bucket. The scale path —
  candidate generation is a shuffle join, corpus never cross-joined.
- ``ivf_topk`` — inverted-file: assign vectors to nearest of C centroids
  (deterministic sample), probe the closest ``n_probe`` centroids per
  query. Classic IVF-Flat recall/latency trade.
- ``embedding_dup_pairs_lsh`` — corpus-wide cosine near-dup pairs via
  the same sign buckets: the scale companion of the exact all-pairs
  baseline (O(n²)) that the oracle gate checks.

All cosine math is native (`zip_with` dot product folded with `aggregate`)
in double precision — no Python, no UDF. Candidate generation is what
varies by method; every top-k here (and in ``pq``) ends in the one
``_topk`` tail: rounded cosine, ``row_number`` per query ordered by
(cosine desc, id asc), keep rank <= k.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _dbl(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    da, db = _dbl(a), _dbl(b)
    denom = norm(da) * norm(db)
    return F.when(denom > 0, dot(da, db) / denom).otherwise(F.lit(0.0))


def _unit(df: DataFrame, vec: str) -> DataFrame:
    """Unit-normalize ``vec`` in place (zero vectors pass unscaled) —
    shared by Lloyd's, IVF and SemDeDup so downstream similarity is a
    plain dot. The norm is staged in its own projection (lambda exprs
    are outside codegen CSE)."""
    staged = df.withColumn("__n", norm(F.col(vec)))
    return (staged.withColumn(
        vec,
        F.when(F.col("__n") > 0,
               F.transform(F.col(vec), lambda x: x / F.col("__n")))
        .otherwise(F.col(vec))).drop("__n"))


def _best_centroid(sim: Column) -> Column:
    """Argmax-centroid as a ``max(struct)`` partial aggregate — one row
    per vector after map-side combine, ties to the LOWEST centroid id.
    The single tie-break idiom for Lloyd's / IVF / SemDeDup assignment."""
    return F.max(F.struct(
        sim.alias("sim"),
        (-F.col("centroid_id")).alias("neg_cid"),
        F.col("centroid_id").alias("cid"))).alias("b")


def _topk(df: DataFrame, k: int, query_id_col: str, id_col: str,
          vec_col: str | None = None,
          query_vec_col: str | None = None) -> DataFrame:
    """The shared exact top-k tail → ``(query_id, id, cosine_sim,
    rank)``: per query, ``row_number`` over (cosine_sim desc, id asc)
    and keep rank <= k — ties break to the lowest id. ``df`` already
    carries ``cosine_sim``, unless ``vec_col``/``query_vec_col`` are
    given: then ``df`` holds (query, vector) pairs and the score is
    projected here as the exact cosine rounded to the 1e-6 grid."""
    if vec_col is not None:
        df = df.select(
            F.col(query_id_col), F.col(id_col),
            F.round(cosine(F.col(vec_col), F.col(query_vec_col)), 6)
            .alias("cosine_sim"))
    win = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine_sim"), F.asc(id_col))
    return (df.withColumn("rank", F.row_number().over(win))
            .filter(F.col("rank") <= k))


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     query_id_col: str = "query_id",
                     query_vec_col: str = "query_vec") -> DataFrame:
    """Exact cosine top-k per query. Queries are broadcast (small side)."""
    return _topk(corpus.crossJoin(F.broadcast(queries)), k, query_id_col,
                 id_col, vec_col, query_vec_col)


def _refine_topk(approx_corpus: DataFrame, approx_queries: DataFrame,
                 corpus: DataFrame, queries: DataFrame, k: int,
                 oversample: int, id_col: str, vec_col: str,
                 query_id_col: str, query_vec_col: str) -> DataFrame:
    """Two-stage search shared by ``rp_topk`` and ``sq8_topk``: rank
    the approximate vectors (same column names as the originals), keep
    ``k·oversample`` candidate ids per query, join them back to the
    ORIGINAL corpus vectors and the broadcast queries, and take the
    exact-cosine top-k. Original floats are read per candidate only."""
    if oversample < 1:
        raise ValueError(f"oversample must be >= 1, got {oversample}")
    cand = brute_force_topk(
        approx_corpus, approx_queries, k=k * oversample, id_col=id_col,
        vec_col=vec_col, query_id_col=query_id_col,
        query_vec_col=query_vec_col,
    ).select(query_id_col, id_col)
    pairs = (cand
             .join(corpus.select(F.col(id_col), F.col(vec_col)), id_col)
             .join(F.broadcast(queries.select(F.col(query_id_col),
                                              F.col(query_vec_col))),
                   query_id_col))
    return _topk(pairs, k, query_id_col, id_col, vec_col, query_vec_col)


def _planes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (portable LCG, no numpy)."""
    planes, state = [], seed
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(((state >> 33) % 2001 - 1000) / 1000.0)
        planes.append(row)
    return planes


def random_projection(df: DataFrame, vec_col: str = "embedding",
                      dim: int = 64, out_dim: int = 16, seed: int = 42,
                      out_col: str = "proj") -> DataFrame:
    """Johnson–Lindenstrauss random projection: compress ``dim``-d
    embeddings to ``out_dim`` dimensions with a fixed random matrix —
    the cheap first-stage distance-preserving reduction (Achlioptas
    2003 database-friendly projections: any mean-zero i.i.d. matrix
    works; JL says pairwise geometry survives w.h.p.). The scan-cost
    lever ADC/PQ shares: a brute-force or LSH pass over 16-d projected
    vectors reads 4× fewer floats per row than over 64-d originals,
    and the projection is a one-off shuffle-free codegen pass.

    The matrix rows come from the same portable LCG as the LSH
    hyperplanes (``_planes(dim, out_dim, seed)``), so an oracle can
    inline them as literals and replay every projected component;
    components are rounded to the 1e-6 grid for cross-engine
    stability. The JL scaling constant (1/√out_dim) is omitted — it
    cancels in cosine/relative comparisons, which is what the
    projected space is for.

    Same (planes, seed) MUST be used on both sides of any comparison
    (query + corpus) — a projection is only meaningful within one
    matrix. Sign-bucket LSH (``lsh_topk``) composes downstream of the
    projected column exactly as it does over raw embeddings."""
    if out_dim < 1 or dim < 1:
        raise ValueError(f"dim/out_dim must be >= 1, "
                         f"got {dim}/{out_dim}")
    planes = _planes(dim, out_dim, seed)
    # ONE parsed SQL expression instead of out_dim×dim Column-object
    # literals: the Column form cost ~1,100 py4j round-trips per call
    # (~0.15 ms each — pure driver latency inside every query build;
    # guide §1.2 step 2). repr() doubles round-trip exactly through the
    # SQL parser, so the parsed tree carries the identical literals and
    # the identical round(aggregate(zip_with(...)), 6) arithmetic.
    dv = f"transform(`{vec_col}`, x -> CAST(x AS DOUBLE))"
    comps = ", ".join(
        "round(aggregate(zip_with({v}, array({lits}), (x, y) -> x * y), "
        "0.0D, (acc, x) -> acc + x), 6)".format(
            v=dv, lits=", ".join(repr(x) + "D" for x in p))
        for p in planes)
    return df.withColumn(out_col, F.expr(f"array({comps})"))


def rp_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
            dim: int = 64, out_dim: int = 16, seed: int = 42,
            oversample: int = 10, id_col: str = "vec_id",
            vec_col: str = "embedding", query_id_col: str = "query_id",
            query_vec_col: str = "query_vec") -> DataFrame:
    """Two-stage JL search: rank in the ``out_dim``-d PROJECTED space,
    keep ``k·oversample`` candidates per query, exact-cosine rerank on
    the ORIGINAL vectors — the faiss refine shape over a random
    projection instead of PQ codes. The full-corpus scan touches
    ``out_dim/dim`` as many floats per row; original floats are read
    per CANDIDATE only (the k·oversample equi-join), never per corpus
    row. Recall grows with ``oversample`` and ``out_dim`` — the knob
    trade every two-stage ANN shares; exact rerank means any true
    neighbor that survives stage 1 lands in the final top-k."""
    pc = random_projection(corpus, vec_col, dim, out_dim, seed,
                           out_col="__pv")
    pq = random_projection(queries, query_vec_col, dim, out_dim, seed,
                           out_col="__pq")
    return _refine_topk(
        pc.select(F.col(id_col), F.col("__pv").alias(vec_col)),
        pq.select(F.col(query_id_col), F.col("__pq").alias(query_vec_col)),
        corpus, queries, k, oversample, id_col, vec_col, query_id_col,
        query_vec_col)


def sq8_encode(df: DataFrame, vec_col: str = "embedding",
               code_col: str = "sq_code",
               scale_col: str = "sq_scale") -> DataFrame:
    """Scalar int8 quantization: per-vector symmetric max-abs scaling —
    ``scale = max(|x_i|)/127``, ``code_i = round(x_i/scale)`` ∈
    [-127, 127] — the storage-side compression every vector store ships
    (4× smaller than float32, 8× smaller than the double arrays Spark
    materializes) with none of PQ's codebook training. Dequantization
    is ``code_i · scale``; cosine over dequantized vectors is within
    ~1/254 per component of the original (max-abs symmetric
    quantization error bound), which ``sq8_topk`` erases anyway with
    its exact rerank.

    Pure codegen arithmetic (one aggregate for the max-abs, one
    transform for the codes; ``F.round`` half-up on the 1e0 grid), so
    an oracle replays every code and scale exactly. All-zero vectors
    get scale 0 and all-zero codes (dequantize back to exact zeros).
    """
    v = _dbl(F.col(vec_col))
    mx = F.aggregate(F.transform(v, lambda x: F.abs(x)), F.lit(0.0),
                     lambda acc, x: F.greatest(acc, x))
    staged = df.withColumn("__mx", mx)
    scale = F.when(F.col("__mx") > 0, F.col("__mx") / F.lit(127.0)) \
        .otherwise(F.lit(0.0))
    staged = staged.withColumn(scale_col, scale)
    codes = F.when(
        F.col(scale_col) > 0,
        F.transform(v, lambda x: F.round(x / F.col(scale_col))
                    .cast("int"))
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return staged.withColumn(code_col, codes).drop("__mx")


def sq8_dequantize(code_col: str = "sq_code",
                   scale_col: str = "sq_scale") -> Column:
    """Column expr reconstructing the float vector from its int8 codes."""
    return F.transform(F.col(code_col),
                       lambda c: c.cast("double") * F.col(scale_col))


def sq8_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
             oversample: int = 3, id_col: str = "vec_id",
             vec_col: str = "embedding", query_id_col: str = "query_id",
             query_vec_col: str = "query_vec") -> DataFrame:
    """Two-stage search over int8-quantized vectors: candidates ranked
    by cosine over the DEQUANTIZED codes (the 4× cheaper scan — byte
    reads instead of floats), ``k·oversample`` survivors, exact-cosine
    rerank on the originals. Same shape as ``rp_topk``/``pq_topk`` —
    SQ8's per-component error is tiny (~0.4%), so a small oversample
    (3× default, vs 10× for the 4×-lossier RP) already recovers
    near-exact rankings."""
    deq = sq8_encode(corpus, vec_col).select(
        F.col(id_col), sq8_dequantize().alias(vec_col))
    return _refine_topk(deq, queries, corpus, queries, k, oversample,
                        id_col, vec_col, query_id_col, query_vec_col)


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit sketch: bit i = 1 iff dot(vec, plane_i) > 0."""
    v = _dbl(vec)
    bits = [
        F.when(dot(v, F.array(*[F.lit(x) for x in p])) > 0,
               F.shiftleft(F.lit(1).cast("long"), i)).otherwise(F.lit(0).cast("long"))
        for i, p in enumerate(planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def _probe_masks(bucket: Column, n_planes: int,
                 multiprobe: int) -> list[Column]:
    """The probe set for multi-probe LSH: the bucket itself, every
    bucket one sign-bit away (``multiprobe >= 1``), and every bucket
    two bits away (``multiprobe >= 2``). Bounded at 2: the probe count
    grows C(n, h) per extra bit, and past hamming-2 rebuilding with
    fewer planes beats probing wider."""
    if multiprobe not in (0, 1, 2):
        raise ValueError(f"multiprobe must be 0, 1 or 2, "
                         f"got {multiprobe}")
    probes = [bucket]
    if multiprobe >= 1:
        probes += [bucket.bitwiseXOR(F.lit(1 << i))
                   for i in range(n_planes)]
    if multiprobe >= 2:
        probes += [bucket.bitwiseXOR(F.lit((1 << i) | (1 << j)))
                   for i in range(n_planes) for j in range(i + 1, n_planes)]
    return probes


def lsh_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
             n_planes: int = 8, dim: int = 64, seed: int = 42,
             multiprobe: int = 1,
             id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id",
             query_vec_col: str = "query_vec") -> DataFrame:
    """Approximate top-k: only vectors in the query's LSH bucket(s) are
    scored. ``multiprobe=h`` additionally probes every bucket within
    hamming distance ``h`` (0, 1 or 2 sign bits) of the query's —
    standard multi-probe LSH, the recall knob that avoids re-hashing
    the corpus: probing 1 + C(n,1) + C(n,2) buckets costs only extra
    QUERY-side explode rows (the query side is broadcast; the corpus is
    hashed and shuffled once regardless). Recall < 1 by design."""
    planes = _planes(dim, n_planes, seed)
    c = corpus.withColumn("__bucket", lsh_bucket(F.col(vec_col), planes))
    qb = queries.withColumn("__qb", lsh_bucket(F.col(query_vec_col), planes))
    q = (qb.withColumn("__bucket",
                       F.explode(F.array(*_probe_masks(F.col("__qb"),
                                                       n_planes,
                                                       multiprobe))))
         .drop("__qb"))
    return _topk(c.join(F.broadcast(q), "__bucket", "inner"), k,
                 query_id_col, id_col, vec_col, query_vec_col)


def kmeans_centroids(corpus: DataFrame, n_centroids: int = 16,
                     max_iter: int = 5, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     seed: int = 42,
                     checkpoint: str = "local",
                     on_empty: str = "reseed") -> DataFrame:
    """Deterministic Lloyd's k-means in pure DataFrames →
    ``(centroid_id, centroid_vec)``.

    Spherical flavor to match the cosine search metric: the corpus is
    unit-normalized ONCE up front and centroids are re-normalized each
    round, so the per-iteration hot path (n×k pairs) is a plain dot
    product — no per-pair norm recomputation, ~3× less arithmetic than
    evaluating full cosine against raw vectors every round. Returned
    centroids are unit vectors (cosine is scale-invariant, so every
    consumer is unaffected). Initial centroids are a deterministic
    hash-ordered sample (seeded murmur3 of the id — spread like a random
    sample, reproducible across runs, no ``Math.random``) taken with a
    distributed ``orderBy().limit()`` (TakeOrdered — each partition
    contributes its local top-k, the driver merges k rows; no global
    single-task window over the corpus).

    Scale shape per iteration: assignment is a broadcast crossJoin (k
    centroid rows) reduced by a ``max(struct)`` aggregate keyed on the
    vector id — map-side partial agg, one shuffle on id (the vector rides
    along via ``first``; it is constant within its group), no window over
    the pair set; the update is a posexplode → (centroid, dim)-mean —
    partial aggregation shrinks the shuffle to k×dim slots. Norms are
    staged in their own projection (higher-order-function lambdas are
    excluded from codegen CSE — an inline norm would re-sum per element).
    Centroids are materialized each round (k rows) so the loop's lineage
    stays flat; ``checkpoint='reliable'`` (with ``sc.setCheckpointDir``)
    makes the loop durable on preemptible clusters.

    Empty clusters (the standard Lloyd's degeneracy — a centroid that
    wins no vectors, e.g. a duplicated init sample losing every tie to
    its lower-id twin): ``on_empty='reseed'`` (default) refills each
    vacated centroid id from a deterministic reserve sample (the next
    corpus vectors in the seeded hash order after the k init picks), so
    exactly ``n_centroids`` rows always come back; ``on_empty='drop'``
    keeps the classic behavior where k silently shrinks. The refill is
    free at the job level: the vacancy anti-join and reserve pairing run
    on ≤k-row frames inside each round's existing materialize — no extra
    action, no driver round-trip, nothing touches the corpus. (A corpus
    smaller than 2·n_centroids can exhaust the reserve, in which case
    uncovered vacancies degrade to 'drop'.)"""
    from ..session import materialize

    if on_empty not in ("reseed", "drop"):
        raise ValueError(f"unknown on_empty mode {on_empty!r}: "
                         "use 'reseed' or 'drop'")
    # The loop reads the normalized corpus max_iter+2 times (init, reserve,
    # one assignment per round). Persist it ONCE: MEMORY_AND_DISK caches
    # what fits and spills the rest — at cluster scale partitions that
    # miss the cache are recomputed from the scan, so this is never worse
    # than the uncached re-scan it replaces. Unpersisted before return
    # (the returned centroids are checkpointed, so nothing downstream
    # holds a lineage reference into the cache).
    from pyspark import StorageLevel

    vecs = _unit(corpus.select(F.col(id_col).alias("__vid"),
                              _dbl(F.col(vec_col)).alias("__v")), "__v")
    vecs = vecs.persist(StorageLevel.MEMORY_AND_DISK)
    sample_key = F.hash(F.col("__vid"), F.lit(seed))
    # distributed take-ordered over the corpus; the n_centroids-row window
    # that numbers the sample runs on k rows, not the corpus
    init = vecs.orderBy(sample_key.asc(), F.col("__vid").asc()) \
               .limit(n_centroids)
    init_win = Window.orderBy(sample_key.asc(), F.col("__vid").asc())
    cents = materialize(
        init.withColumn("centroid_id", F.row_number().over(init_win))
            .select("centroid_id", F.col("__v").alias("centroid_vec")),
        checkpoint)
    reserve = None
    reserve_full = False
    if on_empty == "reseed":
        # reserve picks k+1..2k of the same hash order: tiny (≤k rows
        # after the limit), computed once, numbered 1..k for pairing
        # with vacated slots in refill order
        pool = vecs.orderBy(sample_key.asc(), F.col("__vid").asc()) \
                   .limit(2 * n_centroids)
        pool_win = Window.orderBy(sample_key.asc(), F.col("__vid").asc())
        reserve = materialize(
            pool.withColumn("__pn", F.row_number().over(pool_win))
                .filter(F.col("__pn") > n_centroids)
                .select((F.col("__pn") - n_centroids).alias("__rn"),
                        F.col("__v").alias("centroid_vec")),
            checkpoint)
        # one cheap action on a ≤k-row materialized frame, once per call
        reserve_full = reserve.count() >= n_centroids
    for _ in range(max_iter):
        best = _best_centroid(dot(F.col("__v"), F.col("centroid_vec")))
        assigned = (vecs.crossJoin(F.broadcast(cents))
                    .groupBy("__vid")
                    .agg(best, F.first("__v").alias("__v"))
                    .select(F.col("b.cid").alias("centroid_id"), "__v"))
        updated = _unit(
            assigned
            .select("centroid_id", F.posexplode("__v").alias("pos", "x"))
            .groupBy("centroid_id", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("centroid_id")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"]).alias("centroid_vec")),
            "centroid_vec")
        if reserve is not None:
            # refill vacated ids INSIDE this round's materialize: the
            # anti-join/inner-join run on ≤k-row frames within the same
            # job — no per-round count() action, a no-op when no
            # cluster emptied. With a full reserve, pairing is vacated
            # id i ↔ reserve slot i (FIXED, not per-round rank:
            # re-ranking from 1 each round would hand the same reserve
            # vector to different ids across rounds, silently
            # duplicating centroids). A SHORT reserve (corpus < 2k)
            # falls back to rank pairing so the few slots still refill
            # the lowest vacated ids — the documented degraded regime,
            # where cross-round slot reuse is the lesser evil vs
            # permanently dropping refillable centroids.
            spark = updated.sparkSession
            expected = spark.range(1, n_centroids + 1).select(
                F.col("id").cast("int").alias("centroid_id"))
            vacated = expected.join(updated.select("centroid_id"),
                                    "centroid_id", "left_anti")
            if reserve_full:
                vacated = vacated.withColumn("__rn", F.col("centroid_id"))
            else:
                vacated = vacated.withColumn(
                    "__rn", F.row_number().over(
                        Window.orderBy(F.col("centroid_id").asc())))
            refill = (vacated.join(reserve, "__rn", "inner")
                      .select("centroid_id", "centroid_vec"))
            updated = updated.unionByName(refill)
        cents = materialize(updated, checkpoint)
    vecs.unpersist()
    return cents


def _nearest_centroids(queries: DataFrame, centroids: DataFrame,
                       query_id_col: str, query_vec_col: str,
                       n_probe: int) -> DataFrame:
    """The in-plan IVF probe ranking: every query row once per its
    ``n_probe`` nearest centroids (cosine desc, centroid_id asc) with a
    ``centroid_id`` column. crossJoin + window — fine for the QUERY
    side, which is small by definition."""
    win = Window.partitionBy(query_id_col).orderBy(
        F.desc("__csim"), F.asc("centroid_id"))
    return (queries.crossJoin(F.broadcast(centroids))
            .withColumn("__csim", cosine(F.col(query_vec_col),
                                         F.col("centroid_vec")))
            .withColumn("__cr", F.row_number().over(win))
            .filter(F.col("__cr") <= n_probe)
            .drop("__csim", "__cr", "centroid_vec"))


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
             n_centroids: int = 16, n_probe: int = 4,
             kmeans_iter: int = 5, seed: int = 42,
             id_col: str = "vec_id", vec_col: str = "embedding",
             query_id_col: str = "query_id",
             query_vec_col: str = "query_vec",
             checkpoint: str = "local") -> DataFrame:
    """IVF-Flat: k-means centroids (deterministic Lloyd's, see
    ``kmeans_centroids``), nearest-centroid inverted lists, probe the
    ``n_probe`` closest lists per query."""
    centroids = kmeans_centroids(corpus, n_centroids, kmeans_iter,
                                 id_col, vec_col, seed, checkpoint)
    # CORPUS side: nearest-list assignment via max(struct) partial agg —
    # map-side combine shrinks the shuffle to one row per vector, where
    # a row_number window would shuffle and sort all n×k scored pairs
    # (same shape as the Lloyd's loop; same argmax + lowest-id tie-break)
    best = _best_centroid(cosine(F.col(vec_col), F.col("centroid_vec")))
    c = (corpus.crossJoin(F.broadcast(centroids))
         .groupBy(id_col)
         .agg(best, F.first(vec_col).alias(vec_col))
         .select(F.col("b.cid").alias("centroid_id"),
                 F.col(id_col), F.col(vec_col)))
    q = _nearest_centroids(queries, centroids, query_id_col,
                           query_vec_col, n_probe)
    return _topk(c.join(F.broadcast(q), "centroid_id", "inner"), k,
                 query_id_col, id_col, vec_col, query_vec_col)


def semdedup(corpus: DataFrame, threshold: float = 0.95,
             n_clusters: int = 16, kmeans_iter: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding",
             seed: int = 42, keep: str = "far",
             checkpoint: str = "local",
             centroids: DataFrame | None = None,
             centroids_dim: int | None = None) -> DataFrame:
    """Semantic deduplication à la SemDeDup (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embedding space, find
    near-identical pairs only WITHIN each cluster, and keep one
    representative per semantic-duplicate group.

    Pipeline (all existing primitives, no new shuffle shapes):

    1. ``kmeans_centroids`` — deterministic spherical Lloyd's (same
       centroids the IVF index uses, so an IVF deployment gets SemDeDup
       for one extra within-list pass). Pass ``centroids`` (a
       ``(centroid_id, centroid_vec)`` frame of UNIT vectors — e.g.
       ``spark.read.parquet(f"{index}/centroids")`` from a persisted
       IVF index) to skip the training entirely: the partition of the
       space needs to be reasonable, not retrained per run, and reusing
       the index's centroids makes SemDeDup one assignment + one
       within-cluster pass on a corpus that is already IVF-indexed.
    2. Nearest-centroid assignment via the ``max(struct)`` partial-agg
       argmax (one shuffle on the vector id, map-side combined).
    3. Within-cluster candidate pairs: self-equi-join on ``centroid_id``
       (id_a < id_b), exact cosine ≥ ``threshold``. Vectors are
       unit-normalized ONCE before the join so the per-pair score is a
       plain dot product. Cost is Σ|cluster|² — the SemDeDup bargain:
       ``n_clusters`` is the knob that keeps clusters small (the paper
       runs 50k clusters on 8B embeddings); it trades recall across
       cluster boundaries for never touching the O(n²) pair space.
    4. ``connected_components`` over the pair graph (every corpus id a
       node, so singletons keep their own cluster) → transitive dup
       groups.
    5. Keeper election with ``cluster_keepers``: ``keep='far'`` (paper
       rule — keep the member with the LOWEST cosine to its centroid,
       preserving the diversity extreme), ``keep='near'`` (most central
       member — the "cleanest exemplar" variant), or ``keep='min_id'``
       (cheapest, order-free).

    Returns one row per corpus id:
    ``(id_col, centroid_id, centroid_sim, group_id, is_canonical)`` —
    ``group_id`` is the semantic-dup component (min member id),
    ``centroid_sim`` the cosine to the assigned centroid (rounded 1e-6),
    and filtering ``is_canonical`` is the dedup. Vectors with a
    non-finite norm (NaN/inf components) are quarantined: canonical in
    their own singleton group with NULL centroid columns — never
    clustered, never able to poison a cluster through Spark's
    NaN-comparison semantics. Deterministic at any partitioning: seeded
    k-means, explicit tie-breaks, min-id labels.
    """
    from ..session import materialize
    from .dedup import cluster_keepers, connected_components

    if keep not in ("far", "near", "min_id"):
        raise ValueError(f"unknown keep mode {keep!r}: "
                         "use 'far', 'near' or 'min_id'")
    # Quarantine non-finite vectors FIRST: a single NaN component makes
    # the norm NaN, and Spark evaluates both NaN > 0 and NaN >= threshold
    # as TRUE — one corrupt embedding would pair with (and delete) its
    # whole k-means cluster. Corrupt vectors bypass every stage and come
    # back canonical in their own singleton group (can't judge → keep),
    # with NULL centroid columns marking them for upstream triage.
    staged = corpus.select(F.col(id_col),
                           _dbl(F.col(vec_col)).alias("__v")) \
                   .withColumn("__n", norm(F.col("__v")))
    # coalesce(False): a NULL vector (or NULL after the double cast)
    # yields a NULL norm, and a NULL predicate is not-TRUE in BOTH
    # filter(finite) and filter(~finite) — without the coalesce such
    # rows vanish from the output entirely, breaking the one-row-per-id
    # contract. NULL-vector rows belong in the quarantine branch.
    finite = F.coalesce(~F.isnan(F.col("__n"))
                        & (F.col("__n") != float("inf")), F.lit(False))
    clean = staged.filter(finite).drop("__n")
    dirty = (staged.filter(~finite)
             .select(F.col(id_col),
                     F.lit(None).cast("int").alias("centroid_id"),
                     F.lit(None).cast("double").alias("centroid_sim"),
                     F.col(id_col).alias("group_id"),
                     F.lit(True).alias("is_canonical")))
    if centroids is not None:
        cents = centroids.select("centroid_id",
                                 _dbl(F.col("centroid_vec"))
                                 .alias("centroid_vec"))
        # centroids_dim (r11): a caller that knows the supplied
        # centroids' dim (e.g. from the index meta/params that built
        # them) skips the centroid-sample job; the corpus-side sample
        # check below still runs either way
        d = centroids_dim
        if d is None:
            crow = cents.select(F.size("centroid_vec").alias("d")) \
                .limit(1).collect()
            d = crow[0]["d"] if crow else None
        if d is not None:
            _check_dim(d, clean, "__v",
                       "corpus embedding (vs supplied centroids)",
                       full=False)  # corpus-sized: sample, don't rescan
    else:
        cents = kmeans_centroids(clean, n_clusters, kmeans_iter, id_col,
                                 "__v", seed, checkpoint)
    # unit-normalize once; downstream centroid_sim AND pair cosine are
    # then plain dots (centroids come back unit-length already)
    unit = _unit(clean, "__v")
    # assign feeds FIVE consumers (both pair-join sides, the CC node
    # frame, meta, the election) — stage it once or each replays the
    # corpus×centroids crossJoin + shuffle. A LAZY staged persist
    # (r11, was an eager localCheckpoint): no lineage truncation is
    # needed here (the plan above is two narrow steps + one shuffle),
    # and the eager checkpoint cost a dedicated driver job round —
    # under AQE several scheduled jobs — per call before any consumer
    # ran; the cache now fills inside the first consuming job.
    from .staging import stage

    assign = stage(
        unit.crossJoin(F.broadcast(cents))
        .groupBy(id_col)
        .agg(_best_centroid(dot(F.col("__v"), F.col("centroid_vec"))),
             F.first("__v").alias("__v"))
        .select(F.col(id_col), F.col("__v"),
                F.col("b.cid").alias("centroid_id"),
                F.col("b.sim").alias("centroid_sim")))
    a = assign.select(F.col(id_col).alias("id_a"),
                      F.col("__v").alias("__va"), "centroid_id")
    b = assign.select(F.col(id_col).alias("id_b"),
                      F.col("__v").alias("__vb"), "centroid_id")
    pairs = (a.join(b, "centroid_id")
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b",
                     F.round(dot(F.col("__va"), F.col("__vb")), 6)
                     .alias("cosine_sim"))
             .filter(F.col("cosine_sim") >= threshold))
    comps = connected_components(
        pairs, "id_a", "id_b",
        nodes=assign.select(F.col(id_col).alias("id")),
        checkpoint=checkpoint)
    comps = comps.select(F.col("id").alias(id_col),
                         F.col("cluster_id").alias("group_id"))
    meta = assign.select(
        F.col(id_col), "centroid_id",
        F.round("centroid_sim", 6).alias("centroid_sim"))
    if keep == "min_id":
        # the CC label IS the component's min id — no aggregate needed
        elected = comps.withColumn(
            "is_canonical", F.col(id_col) == F.col("group_id"))
    else:
        elected = cluster_keepers(
            comps.withColumnRenamed("group_id", "cluster_id"),
            meta.select(id_col, "centroid_sim"), id_col,
            order_col="centroid_sim",
            descending=(keep == "near")) \
            .withColumnRenamed("cluster_id", "group_id")
    out = meta.join(elected, id_col).select(
        id_col, "centroid_id", "centroid_sim", "group_id", "is_canonical")
    return out.unionByName(dirty)


def build_ivf_index(corpus: DataFrame, path: str, n_centroids: int = 16,
                    kmeans_iter: int = 5, seed: int = 42,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    checkpoint: str = "local") -> None:
    """Persist an IVF-Flat index: build once, probe many.

    Layout under ``path``:
    - ``centroids/``  — ``(centroid_id, centroid_vec)`` parquet (k rows);
    - ``lists/``      — the corpus ``(id, vec)`` written
      ``partitionBy('centroid_id')`` — each inverted list IS a parquet
      partition directory, so a probe becomes hive-style partition
      pruning: the scan for a query touching 4 of 1024 lists reads 4
      directories and never opens the rest. This is the Spark-native
      analogue of an ANN index seek — the "index" is the table layout.

    ``ivf_index_topk`` is the query side; building is one k-means run +
    one assignment shuffle + one partitioned write.

    A REBUILD over an existing index is crash-safe: both tables are
    written into a sibling ``<path>.__build_tmp`` directory and the
    whole index swaps in with ONE atomic rename
    (``session.replace_dir``). Overwriting the two tables in place
    would open a window where retrained centroids sit beside the OLD
    inverted lists (or vice versa) — list membership is
    centroid-dependent, so ``ivf_index_topk`` would silently return
    wrong neighbors; with the swap, a crash never leaves a mixed or
    truncated index on disk. The swap carries ``replace_dir``'s
    single-writer contract: a probe job ALREADY RUNNING over the old
    lists when a rebuild swaps under it fails (and retries against the
    new index); probes started after the swap see the new index only.
    """
    import os

    from ..session import replace_dir

    # pid-suffixed build dir: two concurrent build-if-missing callers
    # (e.g. parallel queries racing to warm a shared index cache) never
    # write into each other's half-built tree; the deterministic build
    # makes the last-landed swap content-identical. NOTE this does NOT
    # make the swap itself reader-safe — the loser's swap can still
    # break a probe the winner already started (replace_dir contract);
    # serialize builders per path when probes may overlap builds.
    tmp = f"{path}.__build_tmp.{os.getpid()}"
    centroids = kmeans_centroids(corpus, n_centroids, kmeans_iter,
                                 id_col, vec_col, seed, checkpoint)
    best = _best_centroid(cosine(F.col(vec_col), F.col("centroid_vec")))
    assigned = (corpus.crossJoin(F.broadcast(centroids))
                .groupBy(id_col)
                .agg(best, F.first(vec_col).alias(vec_col))
                .select(F.col("b.cid").alias("centroid_id"),
                        F.col(id_col), F.col(vec_col)))
    centroids.write.mode("overwrite").parquet(f"{tmp}/centroids")
    (assigned.write.mode("overwrite").partitionBy("centroid_id")
     .parquet(f"{tmp}/lists"))
    replace_dir(corpus.sparkSession, tmp, path)


def append_to_ivf_index(new_vectors: DataFrame, path: str,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> None:
    """Grow a persisted IVF index without retraining: assign the new
    vectors against the index's EXISTING centroids (they must stay
    fixed — list membership is centroid-dependent) and append to the
    partitioned list directories; only the touched partitions gain
    files. As the data distribution drifts the lists skew away from the
    trained centroids — monitor with ``profile.partition_stats`` over
    ``lists/`` and rebuild (``build_ivf_index``) when recall or balance
    degrades.

    The append is made RETRY-IDEMPOTENT by anti-joining the batch's ids
    against the stored lists first: an orchestrator re-running a failed
    append job (the common at-least-once retry) would otherwise write
    the same vectors twice, and ``ivf_index_topk`` would surface them
    as duplicate (query_id, vec_id) result rows. Cost: one scan of the
    id column of ``lists/`` (column-pruned) per append — the price of
    idempotence without a transactional table format. The anti-join
    also makes re-appending a vector id with a CHANGED embedding a
    no-op (the stored vector wins); delete-then-append (or rebuild) to
    update vectors."""
    spark = new_vectors.sparkSession
    centroids = spark.read.parquet(f"{path}/centroids")
    crow = centroids.select(F.size("centroid_vec").alias("d")) \
        .limit(1).collect()
    if crow:
        _check_dim(crow[0]["d"], new_vectors, vec_col,
                   "appended vector (vs stored index)")
    existing = spark.read.parquet(f"{path}/lists").select(id_col)
    fresh = new_vectors.join(existing, id_col, "left_anti")
    best = _best_centroid(cosine(F.col(vec_col), F.col("centroid_vec")))
    assigned = (fresh.crossJoin(F.broadcast(centroids))
                .groupBy(id_col)
                .agg(best, F.first(vec_col).alias(vec_col))
                .select(F.col("b.cid").alias("centroid_id"),
                        F.col(id_col), F.col(vec_col)))
    (assigned.write.mode("append").partitionBy("centroid_id")
     .parquet(f"{path}/lists"))


def _check_dim(expected_dim: int, df: DataFrame, vec: str,
               what: str, full: bool = True) -> None:
    """Fail loudly on a vector-dimension mismatch. Without this,
    ``zip_with`` pads the shorter side with NULLs, the dot/cosine comes
    back NULL, and mismatched vectors silently score 0.0 against
    everything — wrong neighbors, not an error.

    ``full=True`` (for BOUNDED frames — query batches, append batches)
    aggregates min/max of ``size(vec)`` so a heterogeneous batch (rows
    of mixed dimensions — e.g. a union of two embedding configs) cannot
    sneak past a first-row sample. ``full=False`` samples one row
    (``limit(1)``) — for corpus-sized frames where a dedicated full
    scan just for the guard is too expensive; a mixed-dimension CORPUS
    still fails its own internal math loudly downstream. Empty frames
    skip the check."""
    if full:
        row = df.agg(F.min(F.size(F.col(vec))).alias("lo"),
                     F.max(F.size(F.col(vec))).alias("hi")).collect()[0]
        lo, hi = row["lo"], row["hi"]
    else:
        sample = df.select(F.size(F.col(vec)).alias("d")).limit(1) \
                   .collect()
        lo = hi = sample[0]["d"] if sample else None
    if lo is None:
        return
    _raise_on_dim(expected_dim, lo, hi, what)


def _raise_on_dim(expected_dim: int, lo: int, hi: int, what: str) -> None:
    """The dim-mismatch raise shared by ``_check_dim`` and the probe
    functions that fold the same min/max-size guard into an existing
    driver collect (one job instead of two — r11)."""
    if lo != expected_dim or hi != expected_dim:
        got = str(lo) if lo == hi else f"{lo}..{hi}"
        raise ValueError(f"{what} dimension {got} != expected "
                         f"{expected_dim} — zip_with would NULL-pad and "
                         "silently zero every similarity")


def _local_dir_bytes(path: str) -> int | None:
    """Total bytes of the LOCAL files under ``path`` — None when the
    path is non-local/unstattable (remote FS: size unknown, stay on the
    in-plan path)."""
    import os

    p = path[len("file:"):] if path.startswith("file:") else path
    if not os.path.isdir(p):
        return None
    total = 0
    try:
        for root, _dirs, files in os.walk(p):
            for f in files:
                total += os.path.getsize(os.path.join(root, f))
    except OSError:
        return None
    return total


# Centroid tables at or under this on-disk size are inlined into the
# probe expression as literals (driver-cached rows, shuffle-free probe
# ranking). Production-scale IVF centroid sets (10^4-10^5 × high dim)
# exceed it and keep the in-plan broadcast path.
_CENTROID_INLINE_MAX = 256 * 1024


def _centroid_array_sql(rows) -> str | None:
    """Render a bounded centroid table as ONE SQL array literal —
    ``array(named_struct('cid', …, 'cv', array(CAST('…' AS DOUBLE), …)))``
    — so the probe ranking becomes a shuffle-free projection built in a
    single parse round trip (guide §5: the driver's build latency is
    part of every query). ``repr(float)`` is the shortest round-trip
    decimal and ``CAST(string AS DOUBLE)`` parses correctly-rounded, so
    the literal vectors are bit-identical to the parquet values.
    Returns None (caller falls back to the in-plan path) on empty
    tables or any non-finite component."""
    import math

    if not rows:
        return None
    parts = []
    for r in rows:
        vec = r["centroid_vec"]
        if (r["centroid_id"] is None or vec is None
                or any(v is None or not math.isfinite(v) for v in vec)):
            return None
        comps = ", ".join(f"CAST('{v!r}' AS DOUBLE)" for v in vec)
        parts.append(f"named_struct('cid', {int(r['centroid_id'])}, "
                     f"'cv', array({comps}))")
    return "array(" + ", ".join(parts) + ")"


# Probe-collect transfer bound (r12, closing the r11 advice): the
# single-stage projection collect is the fast path for interactive
# query batches, but its Python-side row transfer grows with
# n_queries × n_probe where the old aggregate's didn't. Above this many
# rows the helpers below abandon the limited collect and fall back to
# one bounded collect_set/min/max aggregate row (an extra exchange —
# negligible exactly when the batch is that large).
_PROBE_COLLECT_MAX = 4096


def _bounded_probe_collect(probes: DataFrame, key_col: str,
                           qsize: Column) -> tuple[list, int | None,
                                                   int | None]:
    """Driver-side (probed keys, min qsize, max qsize) with a transfer
    bounded INDEPENDENT of the query-batch size: a single-stage
    ``limit(max+1)`` projection collect when the probe frame is small
    (1 driver job round — the interactive fast path), else one
    aggregate row (set/min/max fold on the JVM side). Both paths drop
    NULL keys, as ``collect_set`` does."""
    rows = (probes.select(F.col(key_col).alias("__k"),
                          qsize.alias("__qs"))
            .limit(_PROBE_COLLECT_MAX + 1).collect())
    if len(rows) <= _PROBE_COLLECT_MAX:
        keys = list({r["__k"] for r in rows if r["__k"] is not None})
        sizes = [r["__qs"] for r in rows if r["__qs"] is not None]
        return (keys, min(sizes) if sizes else None,
                max(sizes) if sizes else None)
    row = (probes.agg(F.collect_set(F.col(key_col)).alias("ks"),
                      F.min(qsize).alias("lo"),
                      F.max(qsize).alias("hi")).collect()[0])
    return list(row["ks"] or []), row["lo"], row["hi"]


def _index_probe_topk(spark, table_path: str, key_col: str,
                      probes: DataFrame, k: int, expected_dim: int | None,
                      what: str, id_col: str, vec_col: str,
                      query_id_col: str,
                      query_vec_col: str) -> DataFrame:
    """The probe tail shared by ``ivf_index_topk`` and
    ``lsh_index_topk``: ONE bounded collect of the probed partition
    keys plus the query batch's min/max vector size (the dim guard
    rides it — one driver job, not two), then a scan of the
    ``partitionBy(key_col)`` table filtered with ``isin(probed)`` so
    Catalyst prunes every unprobed partition directory at planning
    time, a broadcast join to the probe rows, and the exact top-k."""
    from ..catalog import read_parquet

    probed, lo, hi = _bounded_probe_collect(
        probes, key_col, F.size(F.col(query_vec_col)))
    if lo is not None and expected_dim is not None:
        _raise_on_dim(expected_dim, lo, hi, what)
    table = (read_parquet(spark, table_path)
             .filter(F.col(key_col).isin(probed)))
    return _topk(table.join(F.broadcast(probes), key_col, "inner"), k,
                 query_id_col, id_col, vec_col, query_vec_col)


def ivf_index_topk(spark, path: str, queries: DataFrame, k: int = 10,
                   n_probe: int = 4,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   query_id_col: str = "query_id",
                   query_vec_col: str = "query_vec",
                   expected_dim: int | None = None) -> DataFrame:
    """Top-k over a persisted ``build_ivf_index`` layout.

    The query batch is assigned to its ``n_probe`` nearest centroids,
    the distinct probed list ids are collected driver-side (bounded by
    min(n_queries × n_probe, n_centroids) values — the same sanctioned
    K-value collect as the partitioned-MERGE sink), and the list scan is
    filtered with ``isin(probed)`` so Catalyst prunes every unprobed
    partition directory at planning time. Everything after the pruned
    scan is the plain broadcast-join + exact-cosine + top-k kernel.

    Probe ranking (r11, guide §2.4/§5): a bounded LOCAL centroid table
    (≤ ``_CENTROID_INLINE_MAX`` bytes on disk) is collected once through
    the catalog's metadata row cache — index PARAMETERS, the same class
    as ``meta/`` — and the n_probe-nearest selection becomes a
    shuffle-free ``array_sort`` projection over a centroid literal:
    ``sort by (-cosine asc, centroid_id asc)`` is exactly the previous
    window's ``(cosine desc, centroid_id asc)`` (``cosine`` is total —
    zero-denominator scores 0.0, never NULL), and the probe collect
    drops from a crossJoin+window+agg (4 AQE job rounds per call) to
    ONE single-stage projection job. Collecting the probe frame is
    bounded by construction: the same frame is broadcast to the list
    join below, so anything collectable here was already required to be
    broadcast-sized. Large / non-local centroid tables keep the in-plan
    crossJoin+window path unchanged.

    Query vectors are dimension-checked against the stored index; the
    check's min/max sizes ride the probe collect (one driver job, not
    two — r11). ``expected_dim`` (when the caller already knows the
    index dim, e.g. from a ``meta/`` block or the keyed-cache params
    that built it) skips the centroid-dim probe; leave it None to read
    the dim from the stored centroids."""
    from ..catalog import read_meta_rows, read_parquet

    cpath = f"{path}/centroids"
    inline_sql = None
    if (_local_dir_bytes(cpath) or (_CENTROID_INLINE_MAX + 1)) \
            <= _CENTROID_INLINE_MAX:
        crows = read_meta_rows(spark, cpath)
        inline_sql = _centroid_array_sql(crows)
    if inline_sql is not None:
        if expected_dim is None:
            expected_dim = len(crows[0]["centroid_vec"])
        qv = F.col(query_vec_col)
        ranked = F.slice(F.array_sort(F.transform(
            F.expr(inline_sql),
            lambda c: F.struct((-cosine(qv, c["cv"])).alias("ns"),
                               c["cid"].alias("cid")))), 1, n_probe)
        probes = (queries
                  .select("*", F.explode(F.transform(
                      ranked, lambda s: s["cid"])).alias("centroid_id")))
    else:
        centroids = read_parquet(spark, cpath)
        if expected_dim is None:
            crow = centroids.select(F.size("centroid_vec").alias("d")) \
                .limit(1).collect()
            expected_dim = crow[0]["d"] if crow else None
        probes = _nearest_centroids(queries, centroids, query_id_col,
                                    query_vec_col, n_probe)
    return _index_probe_topk(spark, f"{path}/lists", "centroid_id",
                             probes, k, expected_dim, "query vector",
                             id_col, vec_col, query_id_col, query_vec_col)


def build_lsh_index(corpus: DataFrame, path: str, n_planes: int = 4,
                    dim: int = 64, seed: int = 42,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> None:
    """Persist the LSH bucket table: build once, probe many — the same
    table-layout-as-index discipline as ``build_ivf_index``, applied to
    the random-hyperplane sketch (the last recomputed-per-query ANN
    structure).  Layout under ``path``:

    - ``meta/``    — ONE row ``(n_planes, dim, seed)``: the plane
      family is fully derived from these (``_planes`` is a portable
      LCG), so probes regenerate identical planes instead of trusting
      the caller to repeat them; a mismatched probe fails loudly.
    - ``buckets/`` — the corpus ``(id, vec)`` written
      ``partitionBy('bucket')`` — each sign bucket IS a parquet
      partition directory (2^n_planes of them), so a probe is
      hive-style partition pruning: a multiprobe-2 query over 4 planes
      reads at most 11 of 16 directories and never opens the rest.

    Rebuilds swap atomically via ``replace_dir`` (same single-writer
    contract as the IVF index).  Unlike IVF there is nothing to train —
    the build is ONE projection + one partitioned write, and appends
    need no drift monitoring (plane signs are position-independent) —
    but the same build-once economics apply: at corpus scale the bucket
    pass is a full scan + hash that every query would otherwise repeat.
    """
    import os

    from ..session import replace_dir

    spark = corpus.sparkSession
    tmp = f"{path}.__build_tmp.{os.getpid()}"
    planes = _planes(dim, n_planes, seed)
    bucketed = corpus.select(
        F.col(id_col), F.col(vec_col),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"))
    spark.createDataFrame([(n_planes, dim, seed)],
                          "n_planes int, dim int, seed int") \
        .write.mode("overwrite").parquet(f"{tmp}/meta")
    (bucketed.write.mode("overwrite").partitionBy("bucket")
     .parquet(f"{tmp}/buckets"))
    replace_dir(spark, tmp, path)


def lsh_index_topk(spark, path: str, queries: DataFrame, k: int = 10,
                   multiprobe: int = 2,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   query_id_col: str = "query_id",
                   query_vec_col: str = "query_vec") -> DataFrame:
    """Top-k over a persisted ``build_lsh_index`` layout — the probe
    side of the build-once discipline: query buckets come from the SAME
    plane family the index stored (regenerated from ``meta/``), the
    probe set (bucket + every bucket within ``multiprobe`` sign bits)
    is collected driver-side (bounded by n_queries × (1 + C(n,1) +
    C(n,2)) values — the sanctioned K-value collect), and the bucket
    scan is filtered with ``isin(probed)`` so Catalyst prunes every
    unprobed partition directory at planning time.  Identical results
    to ``lsh_topk`` over the same corpus/params (pinned in tests);
    query vectors are dimension-checked against the stored planes —
    the check rides the probe collect (one driver job, not two), and
    the one-row ``meta/`` parameter read is served from the metadata
    cache (r11)."""
    from ..catalog import read_meta_rows

    meta = read_meta_rows(spark, f"{path}/meta")[0]
    n_planes, dim, seed = meta["n_planes"], meta["dim"], meta["seed"]
    planes = _planes(dim, n_planes, seed)
    qb = queries.withColumn("__qb",
                            lsh_bucket(F.col(query_vec_col), planes))
    probes = (qb.withColumn(
        "bucket", F.explode(F.array(*_probe_masks(F.col("__qb"),
                                                  n_planes, multiprobe))))
        .drop("__qb"))
    return _index_probe_topk(
        spark, f"{path}/buckets", "bucket", probes, k, dim,
        "query vector (vs stored LSH plane family)",
        id_col, vec_col, query_id_col, query_vec_col)


def embedding_dup_pairs_lsh(corpus: DataFrame, threshold: float = 0.99,
                            n_planes: int = 8, dim: int = 64,
                            seed: int = 42, multiprobe: int = 1,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-dup pairs via LSH bucketing — the scale path
    beside the exact all-pairs baseline (the ``embedding_dup_pairs``
    registry query, which the oracle gate needs exact and which is O(n²)
    by construction).

    Candidates are pairs sharing a random-hyperplane sign bucket
    (``multiprobe`` additionally joins buckets one sign-bit apart —
    near-identical vectors that straddle a single hyperplane still
    collide); every candidate is then scored with exact cosine, so
    precision is exact and only recall depends on the sketch. Shape:
    bucket-explode + equi-join — shuffle-bound, no cross join. Output:
    (id_a, id_b, cosine_sim) with id_a < id_b, deduped across probes.
    """
    planes = _planes(dim, n_planes, seed)
    sk = corpus.select(F.col(id_col), F.col(vec_col),
                       lsh_bucket(F.col(vec_col), planes).alias("__b"))
    left = sk.select(F.col(id_col), F.col(vec_col),
                     F.explode(F.array(*_probe_masks(
                         F.col("__b"), n_planes, multiprobe)))
                     .alias("__bucket"))
    right = sk.select(F.col(id_col), F.col(vec_col),
                      F.col("__b").alias("__bucket"))
    a, b = left.alias("a"), right.alias("b")
    cands = (a.join(b, (F.col("a.__bucket") == F.col("b.__bucket"))
                    & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
                    "inner")
             .select(F.col(f"a.{id_col}").alias("id_a"),
                     F.col(f"b.{id_col}").alias("id_b"),
                     F.col(f"a.{vec_col}").alias("__va"),
                     F.col(f"b.{vec_col}").alias("__vb"))
             .dropDuplicates(["id_a", "id_b"]))
    return (cands
            .select("id_a", "id_b",
                    F.round(cosine(F.col("__va"), F.col("__vb")), 6)
                    .alias("cosine_sim"))
            .filter(F.col("cosine_sim") >= threshold))


def semantic_cross_pairs(corpus_emb: DataFrame, benchmark_emb: DataFrame,
                         threshold: float = 0.9, n_planes: int = 8,
                         dim: int = 64, seed: int = 42,
                         multiprobe: int = 2,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """Semantic decontamination pairs: corpus docs whose EMBEDDING is
    within ``threshold`` cosine of an eval doc's →
    ``(corpus_id, benchmark_id, cosine_sim)``.

    The leak class the lexical decontaminators structurally miss: a
    PARAPHRASED eval answer shares almost no n-grams with the eval doc
    (containment ≈ 0, Jaccard ≈ 0, MinHash never collides) but sits on
    top of it in embedding space. The published recipes stack this on
    top of n-gram decontamination for exactly that reason.

    Shape mirrors ``cross_corpus_dup_pairs``: candidates pair only
    ACROSS the two sides — the corpus buckets ONCE (one sign bucket
    per row, never exploded), the benchmark side (orders of magnitude
    smaller) explodes the multiprobe bucket set and BROADCASTS, so the
    join is a broadcast equi-join on bucket, never a cross join; every
    candidate is verified with exact cosine, so precision is exact and
    only recall rides the sketch (pinned in tests)."""
    planes = _planes(dim, n_planes, seed)
    c = corpus_emb.select(F.col(id_col).alias("corpus_id"),
                          F.col(vec_col).alias("__vc"),
                          lsh_bucket(F.col(vec_col), planes)
                          .alias("__bucket"))
    bsk = benchmark_emb.select(F.col(id_col).alias("benchmark_id"),
                               F.col(vec_col).alias("__vb"),
                               lsh_bucket(F.col(vec_col), planes)
                               .alias("__b"))
    b = (bsk.select("benchmark_id", "__vb",
                    F.explode(F.array(*_probe_masks(
                        F.col("__b"), n_planes, multiprobe)))
                    .alias("__bucket")))
    return (c.join(F.broadcast(b), "__bucket")
            .dropDuplicates(["corpus_id", "benchmark_id"])
            .select("corpus_id", "benchmark_id",
                    F.round(cosine(F.col("__vc"), F.col("__vb")), 6)
                    .alias("cosine_sim"))
            .filter(F.col("cosine_sim") >= threshold))


def semantic_decontaminate(corpus: DataFrame, corpus_emb: DataFrame,
                           benchmark_emb: DataFrame, id_col: str,
                           threshold: float = 0.9,
                           **lsh_kwargs) -> DataFrame:
    """Drop every corpus row whose embedding near-matches an eval
    embedding (``semantic_cross_pairs`` hits → left_anti). Corpus rows
    WITHOUT an embedding row pass through unexamined — a missing
    vector must not silently delete the doc (the semdedup contract)."""
    hits = (semantic_cross_pairs(corpus_emb, benchmark_emb, threshold,
                                 id_col=id_col, **lsh_kwargs)
            .select(F.col("corpus_id").alias(id_col)).distinct())
    return corpus.join(hits, id_col, "left_anti")


def ivf_recall_probe(spark, path: str, k: int = 10, n_probe: int = 4,
                     sample: int = 32,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Measure a persisted IVF index's recall@k against ground truth —
    the monitoring half of the ``append_to_ivf_index`` contract: as
    appended data drifts away from the frozen centroids, list
    membership skews and probe recall decays, and the operator that
    detects it must be cheaper than the rebuild it recommends.

    Samples the ``sample`` lowest-id stored vectors as queries
    (deterministic — consecutive probes are comparable; appended drift
    batches usually carry HIGHER ids, so pass a larger ``sample`` or
    re-probe after appends to cover them), answers them twice —
    ``ivf_index_topk`` at ``n_probe`` vs exact brute force over the
    full stored corpus — and returns ONE row:
    ``(n_queries, k, n_probe, n_lists, recall)`` where recall is the
    mean fraction of true top-k ids the probe recovered.

    Cost: brute force is corpus × ``sample`` — bounded by the sample
    knob, one scan of ``lists/`` (the probe side reads only probed
    partitions as usual). Wire the output into ``quality.dq_check``-
    style gates: rebuild when recall drops below the SLA."""
    corpus = (spark.read.parquet(f"{path}/lists")
              .select(id_col, vec_col))
    queries = (corpus.orderBy(F.col(id_col).asc()).limit(sample)
               .select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("query_vec")))
    truth = brute_force_topk(corpus, queries, k=k, id_col=id_col,
                             vec_col=vec_col)
    got = ivf_index_topk(spark, path, queries, k=k, n_probe=n_probe,
                         id_col=id_col, vec_col=vec_col)
    hits = (truth.select("query_id", id_col)
            .join(got.select("query_id", id_col), ["query_id", id_col],
                  "left_semi"))
    per_q = (truth.groupBy("query_id").agg(F.count(F.lit(1)).alias("nt"))
             .join(hits.groupBy("query_id")
                   .agg(F.count(F.lit(1)).alias("nh")),
                   "query_id", "left"))
    n_lists = spark.read.parquet(f"{path}/centroids").count()
    return per_q.agg(
        F.count(F.lit(1)).cast("int").alias("n_queries"),
        F.lit(k).alias("k"),
        F.lit(n_probe).alias("n_probe"),
        F.lit(n_lists).cast("int").alias("n_lists"),
        F.round(F.avg(F.coalesce(F.col("nh"), F.lit(0))
                      / F.col("nt")), 6).alias("recall"))
