"""Product quantization (PQ) for embedding compression + ADC search.

Jégou et al. 2011 ("Product quantization for nearest neighbor
search") — the standard way embeddings get searchable at 100 TB:

- **train**: split each ``dim``-d vector into ``m`` subspaces of
  ``dim/m`` dims; run plain-L2 k-means with ``n_codes`` centroids in
  each subspace (``m`` small distributed jobs). The codebook is
  ``m × n_codes × dim/m`` floats — a few KB, a driver-side literal.
- **encode**: each vector becomes ``m`` small code ids (nearest
  sub-centroid per subspace) — 64 float32 dims (256 B) compress to 8
  one-byte codes, a 32× scan-size cut before any pruning.
- **search (ADC)**: per query, precompute the ``m × n_codes`` lookup
  table of sub-dot-products; a document's approximate dot product is
  ``Σ_j LUT[j][code_j]`` — ``m`` array lookups per doc instead of
  ``dim`` multiplies, over 1/32nd the bytes.

Spark shape: training is ``m`` bounded Lloyd's loops (same
crossJoin(broadcast(centroids)) → ``max(struct)`` argmin →
posexplode-mean update as ``ann.kmeans_centroids``, minus the
unit-normalization — subspace magnitudes carry the dot product, so
spherical k-means would be WRONG here). Encode is a pure shuffle-free
codegen projection with the codebook inlined as literals (the
BPE-dict / LSH-plane discipline — its argmin needs expression-level
candidates); the per-query LUT is computed DATA-SIDE from a tiny
codebook frame instead (see ``pq_topk`` — the literal form cost ~6 s
of plan construction per probe). ADC scoring is one broadcast
query×codes join + a per-query top-k window — the ``lsh_topk`` shape
over 1/32nd the bytes. Compose with the IVF index for list pruning;
flat ADC is already the right scan for mid-size corpora.

The codebook collect is bounded by construction: ``m · n_codes`` rows
(e.g. 8·16 = 128), never the corpus.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .ann import _best_centroid, _dbl, _topk, dot


def _l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance between two double arrays."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                       F.lit(0.0), lambda acc, d: acc + d)


def _lloyd_l2(sub: DataFrame, vec_col: str, id_col: str, n_codes: int,
              max_iter: int, seed: int) -> DataFrame:
    """Plain-L2 Lloyd's over one subspace → ``(centroid_id,
    centroid_vec)`` with ids 1..n_codes. Deterministic init (hash-order
    sample, same discipline as ``ann.kmeans_centroids``); an emptied
    cluster keeps its previous centroid (subspace codebooks tolerate a
    rarely-used code; the IVF kernel's reseed machinery buys nothing
    here because ADC never partitions by code)."""
    from pyspark import StorageLevel

    from ..session import materialize

    vecs = sub.select(F.col(id_col).alias("__vid"),
                      _dbl(F.col(vec_col)).alias("__v"))
    vecs = vecs.persist(StorageLevel.MEMORY_AND_DISK)
    sample_key = F.hash(F.col("__vid"), F.lit(seed))
    init_win = Window.orderBy(sample_key.asc(), F.col("__vid").asc())
    cents = materialize(
        vecs.orderBy(sample_key.asc(), F.col("__vid").asc())
            .limit(n_codes)
            .withColumn("centroid_id", F.row_number().over(init_win))
            .select("centroid_id", F.col("__v").alias("centroid_vec")))
    for _ in range(max_iter):
        # argmin over L2² == argmax over (dot − ||c||²/2); reuse the
        # max(struct) partial-agg argmax with that affine score
        score = (dot(F.col("__v"), F.col("centroid_vec"))
                 - dot(F.col("centroid_vec"), F.col("centroid_vec")) / 2)
        assigned = (vecs.crossJoin(F.broadcast(cents))
                    .groupBy("__vid")
                    .agg(_best_centroid(score), F.first("__v").alias("__v"))
                    .select(F.col("b.cid").alias("centroid_id"), "__v"))
        updated = (assigned
                   .select("centroid_id", F.posexplode("__v")
                           .alias("pos", "x"))
                   .groupBy("centroid_id", "pos")
                   .agg(F.avg("x").alias("m"))
                   .groupBy("centroid_id")
                   .agg(F.transform(
                       F.array_sort(F.collect_list(F.struct("pos", "m"))),
                       lambda s: s["m"]).alias("centroid_vec")))
        # emptied codes keep last round's centroid (anti-join on ≤k rows)
        kept = cents.join(updated.select("centroid_id"), "centroid_id",
                          "left_anti")
        cents = materialize(updated.unionByName(kept))
    vecs.unpersist()
    return cents


def train_pq(corpus: DataFrame, vec_col: str = "embedding",
             id_col: str = "vec_id", dim: int = 64, m: int = 8,
             n_codes: int = 16, kmeans_iter: int = 5,
             seed: int = 42) -> list[list[list[float]]]:
    """Train the PQ codebook → ``codebooks[j][c]`` = sub-centroid ``c``
    of subspace ``j`` (code ids are the 0-based list positions).
    ``dim`` must divide by ``m``. Driver-side result is ``m·n_codes``
    rows — bounded by construction."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    ds = dim // m
    books: list[list[list[float]]] = []
    for j in range(m):
        sub = corpus.select(F.col(id_col),
                            F.slice(_dbl(F.col(vec_col)), j * ds + 1, ds)
                            .alias("__sv"))
        cents = _lloyd_l2(sub, "__sv", id_col, n_codes, kmeans_iter,
                          seed + j)
        rows = {r["centroid_id"]: list(r["centroid_vec"])
                for r in cents.collect()}  # ≤ n_codes rows
        if len(rows) < n_codes:
            # fewer vectors than codes: the init sample came up short.
            # Fail loudly — a silently smaller codebook would shift
            # every later code id and mis-decode existing indexes.
            raise ValueError(
                f"subspace {j}: corpus has only {len(rows)} init "
                f"vectors for n_codes={n_codes}; shrink n_codes or "
                "grow the corpus")
        books.append([rows[i + 1] for i in range(n_codes)])
    return books


def _code_expr(v: Column, books: list[list[list[float]]],
               j: int) -> Column:
    """Nearest-sub-centroid code for subspace ``j`` as a pure
    expression: the candidate (distance, code) structs are built from
    codebook LITERALS and ``array_min`` picks the argmin (ties → the
    lowest code id, deterministically)."""
    ds = len(books[j][0])
    subv = F.slice(v, j * ds + 1, ds)
    cands = F.array(*[
        F.struct(
            _l2sq(subv, F.array(*[F.lit(x) for x in cv])).alias("d"),
            F.lit(c).alias("c"))
        for c, cv in enumerate(books[j])])
    return F.array_min(cands)["c"]


def pq_encode(df: DataFrame, books: list[list[list[float]]],
              vec_col: str = "embedding") -> DataFrame:
    """Encode → input columns plus ``pq_codes`` (array<int>, length m,
    values in [0, n_codes)) and ``pq_norm`` (the L2 norm of the
    reconstruction, so ADC dot products rescale to cosine without
    touching the original floats again). One shuffle-free projection;
    the original vector column can be dropped by the caller — the 32×
    storage win is the point."""
    v = _dbl(F.col(vec_col))
    m = len(books)
    codes = F.array(*[_code_expr(v, books, j) for j in range(m)])
    # ||recon||² = Σ_j ||codebook[j][code_j]||² (subspaces are disjoint
    # coordinate blocks) — inlined per-code norm literals
    normsq = [[sum(x * x for x in cv) for cv in books[j]]
              for j in range(m)]
    out = df.withColumn("pq_codes", codes)
    nsum = None
    for j in range(m):
        lut = F.array(*[F.lit(x) for x in normsq[j]])
        term = F.element_at(lut, F.element_at("pq_codes", j + 1) + 1)
        nsum = term if nsum is None else nsum + term
    return out.withColumn("pq_norm", F.sqrt(nsum))


def reconstruct(books: list[list[list[float]]],
                codes: list[int]) -> list[float]:
    """Driver-side reconstruction (tests / spot checks)."""
    out: list[float] = []
    for j, c in enumerate(codes):
        out.extend(books[j][c])
    return out


def build_pq_index(corpus: DataFrame, path: str,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   dim: int = 64, m: int = 16, n_codes: int = 16,
                   kmeans_iter: int = 5, seed: int = 42) -> None:
    """Persist a PQ index: train once, encode once, probe many.

    Layout under ``path``:
    - ``codebook/`` — ``(subspace, code, centroid_vec)`` parquet
      (m·n_codes rows — the whole learned state);
    - ``codes/``    — ``(id, pq_codes, pq_norm)`` parquet: the corpus
      at 16-32× smaller than the float vectors; ADC probes scan THIS,
      never the embeddings table.

    Same crash discipline as ``ann.build_ivf_index``: both tables land
    in a pid-suffixed sibling tmp and swap in with ONE atomic rename —
    codes are codebook-dependent, so a partial overwrite would pair
    new codes with an old codebook and silently mis-rank."""
    import os

    from ..session import replace_dir

    tmp = f"{path}.__build_tmp.{os.getpid()}"
    books = train_pq(corpus, vec_col, id_col, dim, m, n_codes,
                     kmeans_iter, seed)
    spark = corpus.sparkSession
    rows = [(j, c, cv) for j, sub in enumerate(books)
            for c, cv in enumerate(sub)]
    (spark.createDataFrame(
        rows, "subspace int, code int, centroid_vec array<double>")
     .coalesce(1).write.mode("errorifexists")
     .parquet(f"{tmp}/codebook"))
    (pq_encode(corpus, books, vec_col)
     .select(F.col(id_col), "pq_codes", "pq_norm")
     .write.mode("errorifexists").parquet(f"{tmp}/codes"))
    replace_dir(spark, tmp, path)


def load_pq_codebook(spark, path: str) -> list[list[list[float]]]:
    """Read the persisted codebook back to the driver-side literal form
    (m·n_codes rows — bounded by construction; served from the
    metadata-row cache on repeat reads of the same artifact
    generation)."""
    from ..catalog import read_meta_rows

    rows = read_meta_rows(spark, f"{path}/codebook")
    m = 1 + max(r.subspace for r in rows)
    k = 1 + max(r.code for r in rows)
    books: list[list[list[float]] | None] = [[None] * k for _ in range(m)]
    for r in rows:
        books[r.subspace][r.code] = list(r.centroid_vec)
    return books


def pq_index_topk(spark, path: str, queries: DataFrame, k: int = 10,
                  id_col: str = "vec_id",
                  query_id_col: str = "query_id",
                  query_vec_col: str = "query_vec",
                  rerank_df: DataFrame | None = None,
                  oversample: int = 5) -> DataFrame:
    """Probe a persisted PQ index: the scan reads the compact codes
    table only. The codebook feeds ``pq_topk``'s data-side LUT join
    DIRECTLY as the persisted ``codebook/`` parquet frame (r11) — the
    pre-r11 path collected it and re-created a DataFrame from the
    rows, a pure driver round trip (~1 s of createDataFrame chatter
    per probe); only the three shape scalars (m, n_codes, ds) come
    from the collected rows, which the metadata-row cache serves for
    free on repeat probes of the same artifact generation."""
    from ..catalog import read_parquet

    books = load_pq_codebook(spark, path)
    codes = read_parquet(spark, f"{path}/codes")
    return pq_topk(codes, queries, books, k, id_col, query_id_col,
                   query_vec_col, rerank_df, oversample,
                   codebook_df=read_parquet(spark, f"{path}/codebook"))


def pq_topk(codes_df: DataFrame, queries: DataFrame,
            books: list[list[list[float]]], k: int = 10,
            id_col: str = "vec_id",
            query_id_col: str = "query_id",
            query_vec_col: str = "query_vec",
            rerank_df: DataFrame | None = None,
            oversample: int = 5,
            codebook_df: DataFrame | None = None) -> DataFrame:
    """ADC top-k → ``(query_id, vec_id, cosine_sim, rank)``.

    ``cosine_sim`` is the ADC estimate ``dot(q, recon(x)) / (||q||
    ||recon(x)||)`` — exact w.r.t. the reconstruction (pinned in
    tests), approximate w.r.t. the original vector (recall floor
    pinned). Per query the LUT is built ONCE as a literal-driven
    projection on the broadcast side; the corpus side reads only
    ``pq_codes``/``pq_norm``. Ties break to the lowest id, as every
    top-k in this package.

    ``rerank_df`` (``(id_col, vec_col)`` with the ORIGINAL vectors)
    switches on the faiss-style refine stage: ADC prunes to the top
    ``k·oversample`` per query, the exact cosine runs on THOSE rows
    only (an equi-join on id — ``k·oversample·n_queries`` exact
    computations, never the corpus), and the final top-k ranks by the
    exact score. The scan stays 16-32× smaller; the float vectors are
    touched per candidate, which is how PQ recall gets bought back at
    100 TB without scanning floats.

    The LUT is computed DATA-SIDE — the codebook becomes an m·n_codes
    row frame, one broadcast cross join against the (tiny) query set
    computes every sub-dot-product, and a per-query aggregate folds
    them into one flat array ordered by (subspace, code). Inlining the
    codebook as per-cell literal expressions instead (the
    ``pq_encode`` style) measured ~6 s of pure plan construction per
    probe — thousands of driver-side Column objects — vs milliseconds
    for this join; encode keeps the literal form because it builds
    once and its argmin needs expression-level candidates."""
    m = len(books)
    n_codes = len(books[0])
    ds = len(books[0][0])
    spark = codes_df.sparkSession
    # codebook_df (r11): callers holding the codebook as a persisted
    # table (pq_index_topk) pass its frame straight in — skipping the
    # rows -> createDataFrame driver round trip; only m/n_codes/ds
    # scalars are taken from ``books``
    cb = codebook_df if codebook_df is not None else spark.createDataFrame(
        [(j, c, cv) for j, sub in enumerate(books)
         for c, cv in enumerate(sub)],
        "subspace int, code int, centroid_vec array<double>")
    qv = _dbl(F.col(query_vec_col))
    qpre = queries.select(F.col(query_id_col), qv.alias("__qv"),
                          F.sqrt(dot(qv, qv)).alias("__qn"))
    # LUT[j*n_codes + c] = dot(q_sub_j, books[j][c]); flat array keeps
    # the per-row lookup a single element_at
    cell = dot(F.slice(F.col("__qv"),
                       F.col("subspace") * ds + 1, ds),
               F.col("centroid_vec"))
    q = (qpre.crossJoin(F.broadcast(cb))
         .select(query_id_col, "__qn", "subspace", "code",
                 cell.alias("__v"))
         .groupBy(query_id_col)
         .agg(F.first("__qn").alias("__qn"),
              F.transform(
                  F.array_sort(F.collect_list(
                      F.struct("subspace", "code", "__v"))),
                  lambda s: s["__v"]).alias("__lut")))
    adc = F.aggregate(
        F.zip_with(F.col("pq_codes"),
                   F.sequence(F.lit(0), F.lit(m - 1)),
                   lambda c, j: F.element_at(
                       F.col("__lut"),
                       (j * n_codes + c + 1).cast("int"))),
        F.lit(0.0), lambda acc, x: acc + x)
    scored = (codes_df.crossJoin(F.broadcast(q))
              .select(F.col(query_id_col), F.col(id_col),
                      F.round(adc / (F.col("__qn") * F.col("pq_norm")), 6)
                      .alias("cosine_sim")))
    first_k = k * oversample if rerank_df is not None else k
    top = _topk(scored, first_k, query_id_col, id_col)
    if rerank_df is None:
        return top
    from .ann import cosine

    vec_col = [c for c in rerank_df.columns if c != id_col][0]
    qfull = queries.select(F.col(query_id_col),
                           _dbl(F.col(query_vec_col)).alias("__qv"))
    # LEFT join: a candidate id missing from rerank_df (a filtered or
    # partial embeddings table) keeps its ADC score instead of being
    # silently dropped — an inner join could return fewer than k rows
    # or lose true top hits with no warning (ADVICE r7)
    exact = (top.drop("rank")
             .withColumnRenamed("cosine_sim", "__adc")
             .join(rerank_df.select(F.col(id_col),
                                    _dbl(F.col(vec_col)).alias("__cv")),
                   id_col, "left")
             .join(F.broadcast(qfull), query_id_col)
             .select(query_id_col, id_col,
                     F.coalesce(
                         F.round(cosine(F.col("__cv"), F.col("__qv")), 6),
                         F.col("__adc")).alias("cosine_sim")))
    return _topk(exact, k, query_id_col, id_col)
