"""DSIR-style data selection: hashed n-gram importance resampling.

Implements the published Data Selection via Importance Resampling
recipe (Xie et al. 2023, "Data Selection for Language Models via
Importance Resampling"): every document in a raw pool is scored with
the log importance ratio ``ln p_target(x) − ln p_raw(x)`` under two
bag-of-hashed-n-grams multinomial models (unigrams + bigrams hashed
into ``n_buckets`` feature buckets, add-α smoothed), and the top-k by
that weight are selected — "pick raw data that looks like the trusted
target slice", the standard way a pretraining pipeline tilts a crawl
toward a quality domain without a learned classifier.

Scale shape (100 TB lens):
- Distribution fits are each ONE exploded partial-agg groupBy on the
  bucket id; only ``n_buckets`` rows survive, so the model is a tiny
  broadcastable table no matter the corpus size.
- Scoring is a map-side broadcast join of the per-(doc, bucket) counts
  against the dense ``n_buckets``-row log-ratio table plus one
  partial-agg sum per doc — linear in total tokens, no pair space.
- Selection is a global top-k ``(weight DESC, id ASC)`` — Spark plans
  ``TakeOrderedAndProject`` (per-partition heaps + driver merge of k
  rows), never a full sort, for k ≪ n.

Determinism and portability (the oracle story):
- Feature bucket = first 8 hex digits of md5(n-gram) mod ``n_buckets``
  — the engine-portable ``sample_bucket`` discipline
  (operators/textstats.py:305), replayable in DuckDB as
  ``CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % B``.
- Per-bucket log-ratio is rounded to the 1e-6 grid and accumulated
  ``×count`` in exact decimal — the bigram-LM discipline
  (operators/lm.py:42) — so per-doc weights are bit-stable under any
  parallelism and the whole selection replays in DuckDB.

Reference parity note: the reference pipeline has no data-selection
stage; this extends its corpus-curation surface with the published
method (core part of the LLM-pipeline operator set, SURVEY.md §2.10).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .textstats import tokens

__all__ = [
    "hashed_ngram_buckets",
    "bucket_counts",
    "log_ratio_table",
    "importance_weights",
    "dsir_select",
]


def hashed_ngram_buckets_t(toks: Column, n_buckets: int = 4096) -> Column:
    """Array of hashed feature-bucket ids from a STAGED token array: one
    entry per unigram and per bigram OCCURRENCE (repeats kept — the
    features are multinomial counts, unlike the distinct-set shingles
    dedup uses). Bucket = md5-prefix mod ``n_buckets``
    (engine-portable). Pure codegen: transform + concat, no UDF, no
    shuffle.

    ``toks`` MUST be a staged column (``withColumn('__toks',
    tokens(text))``), not an inline ``tokens(text)`` expression:
    lambda-bearing expressions sit outside codegen subexpression
    elimination, so an inline split would RE-RUN per ``element_at``
    inside the bigram transform — O(tokens²) re-splits per document
    (staging measured the whole dsir_select probe 15.7s → 3.0s, ~5×,
    at sf0.1)."""
    # bigrams as ONE zip_with over two shifted slices (the
    # textstats.ngram_counts r11 form): 3 array allocations per ROW
    # instead of an index array + per-element lambda work; a <2-token
    # doc yields m == 0 → two empty slices → an empty (typed) array,
    # so no explicit size guard is needed
    m = F.greatest(F.size(toks) - 1, F.lit(0))
    bigrams = F.zip_with(F.slice(toks, 1, m), F.slice(toks, 2, m),
                         lambda a, b: F.concat_ws(" ", a, b))
    grams = F.concat(toks, bigrams)
    return F.transform(
        grams,
        lambda g: (F.conv(F.substring(F.md5(g), 1, 8), 16, 10)
                   .cast("long") % n_buckets),
    )


def hashed_ngram_buckets(text: Column, n_buckets: int = 4096) -> Column:
    """From-text convenience wrapper of ``hashed_ngram_buckets_t`` —
    fine for one-off expressions; the operators below stage the token
    array first (see the ``_t`` form's staging note)."""
    return hashed_ngram_buckets_t(tokens(text), n_buckets)


def _exploded_buckets(df: DataFrame, text_col: str, id_col: str | None,
                      n_buckets: int) -> DataFrame:
    """One row per feature occurrence ``([id_col,] bucket)`` with the
    token split STAGED once per document (the `_t` discipline)."""
    keep = [F.col(id_col)] if id_col else []
    return (df.withColumn("__toks", tokens(F.col(text_col)))
            .select(*keep, F.explode(
                hashed_ngram_buckets_t(F.col("__toks"), n_buckets))
                .alias("bucket")))


def bucket_counts(df: DataFrame, text_col: str,
                  n_buckets: int = 4096) -> DataFrame:
    """Fit one multinomial: ``(bucket, cnt)`` occurrence counts over the
    hashed unigram+bigram features of ``df`` — ONE explode + partial-agg
    groupBy; at most ``n_buckets`` rows survive."""
    return (_exploded_buckets(df, text_col, None, n_buckets)
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("cnt")))


def log_ratio_table(spark: SparkSession, target_counts: DataFrame,
                    raw_counts: DataFrame, n_buckets: int = 4096,
                    alpha: float = 1.0) -> DataFrame:
    """Dense ``n_buckets``-row ``(bucket, term)`` table with
    ``term = round(ln p_target(b) − ln p_raw(b), 6)`` as decimal(30,6),
    ``p(b) = (cnt_b + α) / (total + α·n_buckets)`` (add-α smoothing —
    unseen buckets score the floor instead of −∞). Dense so the scoring
    join is total: every bucket a document can hash to has a row.

    The totals come from a global window over the DENSE table (bounded:
    ``n_buckets`` rows in one task) instead of separate ``agg`` jobs —
    standalone totals would re-execute the corpus-sized explode behind
    each count frame a second time just to sum ≤n_buckets numbers."""
    from pyspark.sql import Window

    buckets = spark.range(n_buckets).select(F.col("id").alias("bucket"))
    joined = (buckets
              .join(F.broadcast(target_counts
                                .withColumnRenamed("cnt", "__tc")),
                    "bucket", "left")
              .join(F.broadcast(raw_counts
                                .withColumnRenamed("cnt", "__rc")),
                    "bucket", "left"))
    w = Window.partitionBy(F.lit(1))
    joined = joined.select(
        "bucket", "__tc", "__rc",
        F.sum(F.coalesce(F.col("__tc"), F.lit(0))).over(w).alias("__tt"),
        F.sum(F.coalesce(F.col("__rc"), F.lit(0))).over(w).alias("__rt"))
    ab = float(alpha) * n_buckets
    p_t = ((F.coalesce(F.col("__tc"), F.lit(0)).cast("double")
            + F.lit(float(alpha)))
           / (F.col("__tt").cast("double") + F.lit(ab)))
    p_r = ((F.coalesce(F.col("__rc"), F.lit(0)).cast("double")
            + F.lit(float(alpha)))
           / (F.col("__rt").cast("double") + F.lit(ab)))
    return joined.select(
        "bucket",
        F.round(F.log(p_t) - F.log(p_r), 6)
        .cast("decimal(30,6)").alias("term"))


def importance_weights(df: DataFrame, text_col: str, id_col: str,
                       ratio: DataFrame,
                       n_buckets: int = 4096) -> DataFrame:
    """Per-document log importance weight: ``(id_col, logw)`` with
    ``logw = round(Σ_b c_b · term_b, 6)`` accumulated in exact decimal
    (order-independent — same value at any parallelism). Documents with
    zero tokens carry no features and are ABSENT from the result (they
    have no evidence under either model; filter them upstream with
    ``corpus_filter`` if they must be scored). ONE shuffle total: the
    per-occurrence rows broadcast-join the ratio table map-side and the
    per-id decimal sum partial-aggregates before the exchange (a
    pre-grouping on (id, bucket) would ADD a shuffle to save probe rows
    the map-side combine collapses anyway)."""
    feats = _exploded_buckets(df, text_col, id_col, n_buckets)
    return (feats.join(F.broadcast(ratio), "bucket")
            .groupBy(id_col)
            .agg(F.round(F.sum("term").cast("double"), 6).alias("logw")))


def gumbel_noise(id_col: Column, seed: int = 42) -> Column:
    """Deterministic standard-Gumbel draw per id: ``−ln(−ln(u))`` with
    ``u ∈ (0, 1)`` from the md5-prefix hash of (id, seed) — the
    ``sample_bucket`` portability discipline, so the draw is identical
    at any parallelism, on reruns, and in any engine with md5. The +0.5
    offset keeps u strictly inside (0, 1): no ±inf at the lattice
    edges."""
    u = ((F.conv(F.substring(F.md5(F.concat_ws(
            "\x1f", id_col.cast("string"), F.lit(str(seed)))), 1, 8),
            16, 10).cast("double") + F.lit(0.5))
         / F.lit(float(16 ** 8)))
    return -F.log(-F.log(u))


def dsir_select(spark: SparkSession, pool: DataFrame, target: DataFrame,
                text_col: str, id_col: str, k: int,
                n_buckets: int = 4096, alpha: float = 1.0,
                sample: bool = False, seed: int = 42) -> DataFrame:
    """End-to-end DSIR selection: fit target and raw (=pool) hashed
    n-gram models, score every pool document with the decimal-exact log
    importance ratio, return the top-``k`` rows of ``pool`` (all input
    columns + ``logw``), deterministically tie-broken by ``id_col``.

    ``target`` is the trusted reference slice (typically small: a
    quality domain, a wiki dump, a curated eval-adjacent corpus);
    ``pool`` is the raw crawl being tilted toward it.

    ``sample=False`` (default) is deterministic top-k by weight;
    ``sample=True`` is the paper's Gumbel-top-k resampling (sampling
    without replacement ∝ exp(logw) — Xie et al. 2023 §2 select docs
    by perturbed weights for diversity instead of a hard argmax): rank
    on ``logw + Gumbel(id, seed)``. The noise is a seeded hash draw,
    so even the sampled form is reproducible and partition-invariant —
    a rerun of the same (pool, target, seed) ships the same corpus."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    from .staging import stage

    # Stage the pool's per-occurrence (id, bucket) features ONCE: the
    # raw-model fit and the scoring pass both consume them, and each
    # previously re-tokenized + re-hashed the whole pool (two corpus
    # passes → one; md5 over every unigram+bigram occurrence is the
    # dominant per-row cost here). Released with the caller's staging
    # scope; at 100 TB the frame is corpus-token-sized — the DISK_ONLY
    # process default (operators/staging.py) applies to it.
    feats = stage(
        _exploded_buckets(pool, text_col, id_col, n_buckets))
    t_counts = bucket_counts(target, text_col, n_buckets)
    r_counts = feats.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
    ratio = log_ratio_table(spark, t_counts, r_counts, n_buckets, alpha)
    # inline importance_weights over the staged features (identical
    # arithmetic — the decimal grid makes the per-occurrence sum exact)
    w = (feats.join(F.broadcast(ratio), "bucket")
         .groupBy(id_col)
         .agg(F.round(F.sum("term").cast("double"), 6).alias("logw")))
    key = (F.col("logw") + gumbel_noise(F.col(id_col), seed)
           if sample else F.col("logw"))
    return (pool.join(w, id_col)
            .orderBy(key.desc(), F.asc(id_col))
            .limit(k))
