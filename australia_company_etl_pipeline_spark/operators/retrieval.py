"""Term-based ranked retrieval over a document corpus: TF-IDF and Okapi
BM25 — the relevance-scoring layer of a training-data pipeline (targeted
subset extraction "give me the top-N docs about X", keyword profiling of
a crawl slice, quality-proxy ranking before an expensive classifier).

Complements the embedding side (`operators/ann.py`): ANN answers "near
this vector", retrieval answers "relevant to these terms" — a curation
pipeline uses both.

Scale shape (the 100 TB lens):

- The postings list is ``explode → groupBy(id, term)`` — ONE shuffle with
  map-side partial counts; the shuffle carries (id, term) pairs, never
  document text. Both consumers (per-term document frequencies AND the
  score assembly) read the SAME postings frame, which ``postings_frame``
  persists — without it Catalyst forks the DAG and tokenizes the corpus
  once per consumer (measured: the registered query dropped from four
  corpus scans to one). Mirrors the ``shingle_frame`` pattern in
  ``operators/dedup.py``; released with the caller's staging scope
  (``operators/staging.py``).
- Document frequencies are a ``groupBy(term)`` partial-aggregated count —
  map-side combine collapses hot terms, so a corpus-universal term is NOT
  a skewed-shuffle hot key (a window over a term partition would be).
- For a search the postings are filtered to the query's terms with an
  IN-predicate that Catalyst pushes BELOW the postings aggregate
  (plan-pinned in tests/test_retrieval.py), so the (id, term) shuffle
  carries only matching terms and the full-vocabulary DF table is never
  built on the query path.
- Corpus-level constants (N, avgdl) are one map-side-combined scalar
  aggregate, crossed in as a broadcast single row.
- Per-document score assembly is an order-independent decimal
  accumulation (per-term contributions pre-rounded to the 1e-6 grid),
  so results are bit-stable at any parallelism and reproducible in any
  engine — the DuckDB oracle for ``doc_search_bm25`` value-checks them.
- Top-N is ``orderBy(...).limit(n)`` → TakeOrdered (per-partition heaps +
  driver merge of N·P candidates), never a global sort.

No reference counterpart (the reference pipeline has no retrieval
operator); the Okapi BM25 formula follows Robertson et al.'s published
form (k1 tf saturation, b length normalization).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from .staging import stage
from .textstats import tokens

# Only an alias: the benchmark harness (perfbench/harness.py) imports it.
from .staging import release as unpersist_postings  # noqa: F401


def term_postings(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Postings list ``(id_col, term, tf, dl)``: per-document term
    frequency plus the document's whitespace-token length.

    One explode + ONE partial-aggregated shuffle on (id, term); ``dl``
    rides the groupBy as ``min()`` (constant within a document, and min
    is deterministic under partial aggregation where first() is not).
    Unpersisted plan-only form — multi-consumer callers want
    ``postings_frame``.
    """
    tok = df.select(F.col(id_col),
                    tokens(F.col(text_col)).alias("__toks"))
    exploded = tok.select(id_col, F.size("__toks").alias("dl"),
                          F.explode("__toks").alias("term"))
    return (exploded.groupBy(id_col, "term")
            .agg(F.count(F.lit(1)).alias("tf"), F.min("dl").alias("dl")))


def postings_frame(df: DataFrame, text_col: str, id_col: str,
                   persist: bool = True, storage_level=None) -> DataFrame:
    """``term_postings`` staged (``staging.stage``) — build ONCE per
    corpus and share across searches / keyterm profiling, exactly like
    ``dedup.shingle_frame``.
    ``storage_level`` defaults to MEMORY_AND_DISK; a postings frame is
    corpus-sized, so at 100 TB pass ``"DISK_ONLY"``
    (``operators/staging.py``)."""
    post = term_postings(df, text_col, id_col)
    if persist:
        post = stage(post, storage_level)
    return post


def corpus_stats(df: DataFrame, text_col: str) -> DataFrame:
    """Single-row ``(n_docs, avgdl)`` — one map-side-combined aggregate.

    Computed over the base corpus, not the postings, so empty documents
    still count toward N (and toward the average length, as zeros) — the
    one extra text-column pass this costs is a shuffle-free scalar scan.
    """
    return df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum(F.size(tokens(F.col(text_col)))) /
         F.count(F.lit(1))).alias("avgdl"))


def corpus_stats_frame(df: DataFrame, text_col: str,
                       persist: bool = True) -> DataFrame:
    """``corpus_stats`` staged (``staging.stage``). The aggregate is one
    row, but every UNcached reference replans a full corpus scan under
    it — a query that crosses (N, avgdl) into several branches (the
    ``doc_search_bm25`` fold references it through bm25 + keyterms +
    each bm25 consumer) should pay that scan once. (One row — the
    storage-level knob is irrelevant here; MEMORY_AND_DISK always.)"""
    from pyspark import StorageLevel

    stats = corpus_stats(df, text_col)
    if persist:
        stats = stage(stats, StorageLevel.MEMORY_AND_DISK)
    return stats


def _bm25_term_score(tf: Column, df_t: Column, n_docs: Column, dl: Column,
                     avgdl: Column, k1: float, b: float) -> Column:
    """Okapi BM25 contribution of one (doc, term): idf · saturated tf.

    idf = ln(1 + (N − df + 0.5)/(df + 0.5)) — always positive, so a term
    matching every document still contributes (degenerates toward 0).
    Rounded to the 1e-6 grid so the cross-document sum can accumulate in
    exact decimal (order-independent, engine-portable).
    """
    idf = F.log(F.lit(1.0) + (n_docs.cast("double") - df_t + 0.5)
                / (df_t + 0.5))
    sat = (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))
    return F.round(idf * sat, 6)


def bm25_search_from_postings(post: DataFrame, stats: DataFrame,
                              id_col: str, query_terms: list[str],
                              k1: float = 1.2, b: float = 0.75,
                              top_n: int = 10) -> DataFrame:
    """Top-``top_n`` documents under Okapi BM25 from a prebuilt postings
    frame (``postings_frame``) + corpus stats:
    ``(id_col, n_terms_matched, score, rank)``.

    Query terms are lowercased and collapsed to a set (a repeated query
    term is one term, per Robertson's bag-of-terms form). Ties rank by
    ascending id. Terms absent from the corpus contribute nothing.
    """
    terms = sorted({t.lower() for t in query_terms})
    if not terms:
        raise ValueError("bm25_search needs at least one query term")
    fpost = post.filter(F.col("term").isin(terms))
    # per-term document frequency over the filtered slice: (id, term) is
    # unique post-groupBy, so count(*) == countDistinct(id)
    df_t = fpost.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    scored = (fpost.join(F.broadcast(df_t), "term")
              .crossJoin(F.broadcast(stats))
              .select(F.col(id_col),
                      _bm25_term_score(
                          F.col("tf").cast("double"), F.col("df_t"),
                          F.col("n_docs"), F.col("dl").cast("double"),
                          F.col("avgdl"), k1, b).alias("__s")))
    agg = (scored.groupBy(id_col)
           .agg(F.count(F.lit(1)).cast("int").alias("n_terms_matched"),
                F.sum(F.col("__s").cast("decimal(30,6)"))
                .cast("double").alias("score")))
    # limit() first so the rank window sees only top_n rows — the window
    # is a single-partition sort of top_n rows, not of the corpus
    return (agg.orderBy(F.col("score").desc(), F.col(id_col).asc())
            .limit(top_n)
            .select(id_col, "n_terms_matched", "score",
                    F.row_number().over(
                        Window.orderBy(F.col("score").desc(),
                                       F.col(id_col).asc())).alias("rank")))


def bm25_search(df: DataFrame, text_col: str, id_col: str,
                query_terms: list[str], k1: float = 1.2, b: float = 0.75,
                top_n: int = 10) -> DataFrame:
    """One-shot convenience form: builds (unpersisted) postings + stats.
    Running several searches, or a search plus ``tfidf_keyterms``, over
    one corpus? Build ``postings_frame`` once and use the
    ``_from_postings`` forms — otherwise each consumer re-tokenizes."""
    return bm25_search_from_postings(
        term_postings(df, text_col, id_col), corpus_stats(df, text_col),
        id_col, query_terms, k1, b, top_n)


def tfidf_keyterms_from_postings(post: DataFrame, stats: DataFrame,
                                 id_col: str,
                                 top_k: int = 3) -> DataFrame:
    """Top-``top_k`` characteristic terms per document by TF-IDF from a
    prebuilt postings frame: ``(id_col, term, score, rank)`` — the
    keyword-profile operator (what is this document about,
    corpus-relatively?).

    tfidf = tf · ln((N+1)/(df+1)); the +1 smoothing keeps a
    corpus-universal term at exactly 0 in every engine (no negative
    drift). This path DOES build the full-vocabulary DF table — it is a
    corpus-profiling operator, so that cost is the point; DF is
    (term, count) only, partial-aggregated (hot terms collapse map-side —
    no skewed shuffle), and joined back on the term key. Per-doc top-k is
    one window over the (id) partition — scales with documents, not
    vocabulary. Ties rank by ascending term.
    """
    df_t = post.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    scored = (post.join(df_t, "term")
              .crossJoin(F.broadcast(stats))
              .select(F.col(id_col), "term",
                      F.round(F.col("tf") *
                              F.log((F.col("n_docs") + F.lit(1.0)) /
                                    (F.col("df_t") + F.lit(1.0))), 6)
                      .alias("score")))
    w = (Window.partitionBy(id_col)
         .orderBy(F.col("score").desc(), F.col("term").asc()))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= top_k)
            .select(id_col, "term", "score", "rank"))


def tfidf_keyterms(df: DataFrame, text_col: str, id_col: str,
                   top_k: int = 3) -> DataFrame:
    """One-shot convenience form — see ``bm25_search`` for when to prefer
    the ``_from_postings`` form."""
    return tfidf_keyterms_from_postings(
        term_postings(df, text_col, id_col), corpus_stats(df, text_col),
        id_col, top_k)


def retrieval_eval(run: DataFrame, qrels: DataFrame, id_col: str,
                   k: int = 10, rel_col: str = "rel",
                   rank_col: str = "rank") -> DataFrame:
    """Standard ranked-retrieval quality metrics of one run against a
    relevance-judgment frame (qrels) — the feedback loop every
    retrieval stack needs before it feeds a RAG pipeline or a
    targeted-subset extraction: did the index/fusion change actually
    help?

    ``run``: ``(id_col, rank_col)`` — a ranked candidate list (e.g.
    ``bm25_search`` or ``rrf_fuse`` output; ranks are 1-based, lower =
    better). ``qrels``: ``(id_col, rel_col)`` — graded relevance
    (0 = not relevant; ids absent from qrels count as 0). Returns one
    long frame ``(metric, k, value)`` with the four standard metrics
    cut at ``k``:

    - ``precision``: relevant hits in the top-k / k;
    - ``recall``: relevant hits in the top-k / total relevant in qrels
      (NULL when qrels has no relevant ids — undefined, not 0);
    - ``mrr``: 1 / rank of the first relevant hit (0 when none);
    - ``ndcg``: DCG@k / IDCG@k with the Burges gain ``(2^rel − 1) /
      log2(rank + 1)``; IDCG ranks qrels by relevance descending
      (0 when IDCG is 0, i.e. no positive relevance anywhere).

    Scale shape: the run side is one broadcast-joinable top-k slice
    (k rows), qrels one partial-aggregated scan plus a single
    bounded-input window for the ideal ordering — an eval set is
    thousands of rows, never the corpus. Per-rank DCG contributions
    are pre-rounded to the 1e-6 grid and accumulated in exact decimal,
    so every metric is order-independent and value-checked in DuckDB
    (``doc_search_bm25`` kind='releval')."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    rel = F.coalesce(F.col(rel_col), F.lit(0)).cast("double")
    gain = F.pow(F.lit(2.0), rel) - F.lit(1.0)
    topk = (run.filter(F.col(rank_col) <= k)
            .join(qrels.select(F.col(id_col), F.col(rel_col)),
                  id_col, "left"))
    dcg_c = F.round(gain / F.log2(F.col(rank_col).cast("double")
                                  + F.lit(1.0)), 6)
    run_agg = topk.agg(
        F.count(F.lit(1)).alias("__n_ret"),
        F.sum(F.when(rel > 0, 1).otherwise(0)).alias("__hits"),
        F.min(F.when(rel > 0, F.col(rank_col))).alias("__first"),
        F.sum(dcg_c.cast("decimal(30,6)")).alias("__dcg"))
    # ideal ordering: qrels by relevance desc (ties by id — equal rel,
    # equal gain, so the tie order cannot change the IDCG value); the
    # window input is the positive-relevance slice of the eval set
    w = Window.orderBy(F.coalesce(F.col(rel_col), F.lit(0)).desc(),
                       F.col(id_col).asc())
    ideal = (qrels.filter(F.coalesce(F.col(rel_col), F.lit(0)) > 0)
             .withColumn("__irank", F.row_number().over(w))
             .filter(F.col("__irank") <= k))
    igain = (F.pow(F.lit(2.0),
                   F.coalesce(F.col(rel_col), F.lit(0)).cast("double"))
             - F.lit(1.0))
    q_agg = ideal.agg(
        F.count(F.lit(1)).alias("__n_rel_k"),
        F.sum(F.round(igain / F.log2(F.col("__irank").cast("double")
                                     + F.lit(1.0)), 6)
              .cast("decimal(30,6)")).alias("__idcg"))
    n_rel = qrels.agg(
        F.sum(F.when(F.coalesce(F.col(rel_col), F.lit(0)) > 0, 1)
              .otherwise(0)).alias("__n_rel"))
    joined = run_agg.crossJoin(F.broadcast(q_agg)) \
                    .crossJoin(F.broadcast(n_rel))
    hits = F.coalesce(F.col("__hits"), F.lit(0)).cast("double")
    metrics = [
        ("precision", F.round(hits / F.lit(float(k)), 6)),
        ("recall", F.when(F.col("__n_rel") > 0,
                          F.round(hits / F.col("__n_rel").cast("double"),
                                  6))),
        ("mrr", F.when(F.col("__first").isNotNull(),
                       F.round(F.lit(1.0) /
                               F.col("__first").cast("double"), 6))
                .otherwise(F.lit(0.0))),
        ("ndcg", F.when(
            F.coalesce(F.col("__idcg"), F.lit(0).cast("decimal(30,6)"))
            > 0,
            F.round(F.coalesce(F.col("__dcg"),
                               F.lit(0).cast("decimal(30,6)"))
                    .cast("double") / F.col("__idcg").cast("double"), 6))
         .otherwise(F.lit(0.0))),
    ]
    # ONE explode over a metric-struct array, not four unioned selects:
    # a union of N selects over `joined` replans the whole run/qrels
    # subtree N times (the r8 fold planned 17 corpus scans through this
    # function); the explode keeps the long (metric, k, value) shape
    # while the aggregates compute exactly once
    entries = F.array(*[
        F.struct(F.lit(name).alias("metric"),
                 expr.cast("double").alias("value"))
        for name, expr in metrics])
    return (joined.select(F.explode(entries).alias("__m"))
            .select(F.col("__m.metric").alias("metric"),
                    F.lit(k).cast("int").alias("k"),
                    F.col("__m.value").alias("value")))


def retrieval_eval_grouped(run: DataFrame, qrels: DataFrame, id_col: str,
                           query_col: str, k: int = 10,
                           rel_col: str = "rel",
                           rank_col: str = "rank") -> DataFrame:
    """Multi-query form of ``retrieval_eval``: both frames carry a
    ``query_col``; metrics compute per query, plus MACRO averages
    (query = NULL rows) — the standard eval-set headline (each query
    weighs equally regardless of how many documents it retrieves).
    The per-query universe is the UNION of queries in the run and in
    qrels: a judged query the run retrieved nothing for still emits
    precision/mrr/ndcg = 0 rows (and weighs into the macro — omitting
    it would inflate the headline). Undefined per-query values (recall
    with no relevant docs) stay NULL and drop out of the macro mean,
    the TREC convention.

    Returns ``(query, metric, k, value)``. Scale shape: everything is
    partial-aggregated groupBys keyed on the query plus one
    bounded-input window over the positive-qrels slice — an eval set
    is thousands of queries × tens of judgments, never corpus-sized;
    no window ever touches the run×corpus join."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    q = F.col(query_col)
    rel = F.coalesce(F.col(rel_col), F.lit(0)).cast("double")
    gain = F.pow(F.lit(2.0), rel) - F.lit(1.0)
    qr = qrels.select(q.alias("__q"), F.col(id_col).alias("__i"),
                      F.col(rel_col))
    topk = (run.filter(F.col(rank_col) <= k)
            .join(qr, (F.col(query_col) == F.col("__q"))
                  & (F.col(id_col) == F.col("__i")), "left")
            .select(F.col(query_col).alias("query"), F.col(rank_col),
                    F.col(rel_col)))
    dcg_c = F.round(gain / F.log2(F.col(rank_col).cast("double")
                                  + F.lit(1.0)), 6)
    run_agg = topk.groupBy("query").agg(
        F.sum(F.when(rel > 0, 1).otherwise(0)).alias("__hits"),
        F.min(F.when(rel > 0, F.col(rank_col))).alias("__first"),
        F.sum(dcg_c.cast("decimal(30,6)")).alias("__dcg"))
    w = (Window.partitionBy(query_col)
         .orderBy(F.coalesce(F.col(rel_col), F.lit(0)).desc(),
                  F.col(id_col).asc()))
    ideal = (qrels.filter(F.coalesce(F.col(rel_col), F.lit(0)) > 0)
             .withColumn("__irank", F.row_number().over(w))
             .filter(F.col("__irank") <= k))
    igain = (F.pow(F.lit(2.0),
                   F.coalesce(F.col(rel_col), F.lit(0)).cast("double"))
             - F.lit(1.0))
    q_agg = (ideal.groupBy(F.col(query_col).alias("query"))
             .agg(F.sum(F.round(igain /
                                F.log2(F.col("__irank").cast("double")
                                       + F.lit(1.0)), 6)
                        .cast("decimal(30,6)")).alias("__idcg")))
    n_rel = (qrels.groupBy(F.col(query_col).alias("query"))
             .agg(F.sum(F.when(F.coalesce(F.col(rel_col), F.lit(0)) > 0,
                               1).otherwise(0)).alias("__n_rel")))
    # full outer universe: a query present only in qrels (judged but
    # retrieved nothing at rank<=k) must still emit rows; a query
    # present only in the run scores against zero judgments
    universe = (run.select(q.alias("query"))
                .unionByName(qrels.select(q.alias("query")))
                .distinct())
    joined = (universe.join(run_agg, "query", "left")
              .join(q_agg, "query", "left")
              .join(n_rel, "query", "left"))
    hits = F.coalesce(F.col("__hits"), F.lit(0)).cast("double")
    zero_dec = F.lit(0).cast("decimal(30,6)")
    metrics = [
        ("precision", F.round(hits / F.lit(float(k)), 6)),
        ("recall", F.when(F.col("__n_rel") > 0,
                          F.round(hits / F.col("__n_rel").cast("double"),
                                  6))),
        ("mrr", F.when(F.col("__first").isNotNull(),
                       F.round(F.lit(1.0) /
                               F.col("__first").cast("double"), 6))
                .otherwise(F.lit(0.0))),
        ("ndcg", F.when(
            F.coalesce(F.col("__idcg"), zero_dec) > 0,
            F.round(F.coalesce(F.col("__dcg"), zero_dec).cast("double")
                    / F.col("__idcg").cast("double"), 6))
         .otherwise(F.lit(0.0))),
    ]
    # single-plan explode — see the retrieval_eval note on why unions
    # over `joined` fan out scans
    entries = F.array(*[
        F.struct(F.lit(name).alias("metric"),
                 expr.cast("double").alias("value"))
        for name, expr in metrics])
    per_query = (joined.select("query", F.explode(entries).alias("__m"))
                 .select("query", F.col("__m.metric").alias("metric"),
                         F.lit(k).cast("int").alias("k"),
                         F.col("__m.value").alias("value")))
    macro = (per_query.groupBy("metric")
             .agg(F.round(F.avg("value"), 6).alias("value"))
             .select(F.lit(None).cast(run.schema[query_col].dataType)
                     .alias("query"), "metric",
                     F.lit(k).cast("int").alias("k"), "value"))
    return per_query.unionByName(macro)


def rrf_fuse(rankings: list[DataFrame], id_col: str,
             k: int = 60, rank_col: str = "rank") -> DataFrame:
    """Reciprocal-rank fusion (Cormack & Clarke 2009) — the standard
    hybrid-retrieval combiner: given N ranked candidate lists over one
    id space (e.g. a BM25 term list and an embedding-cosine list, the
    classic RAG hybrid), score every candidate
    ``sum over lists of 1 / (k + rank)`` and re-rank. Rank position is
    all that crosses lists, so incomparable score scales (BM25 logs vs
    cosine) fuse without calibration; ``k=60`` is the paper's constant.

    → ``(id, n_lists, rrf_score, rank)``: candidates absent from a
    list simply contribute nothing (union + partial-agg sum, no outer
    join); ``n_lists`` = how many lists proposed the candidate. The
    contribution sum accumulates in exact decimal (this package's
    order-independent-sum discipline), so the fused ranking is
    bit-stable under any partitioning and DuckDB-replayable. The final
    row_number window is global but runs over the union of top-N
    lists — bounded by N·len(rankings) rows, never the corpus."""
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    contrib = (F.lit(1.0) / (F.lit(k) + F.col(rank_col))) \
        .cast("decimal(28,12)")
    parts = [r.select(F.col(id_col), contrib.alias("__c"))
             for r in rankings]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = (u.groupBy(id_col)
             .agg(F.count(F.lit(1)).cast("int").alias("n_lists"),
                  F.round(F.sum("__c").cast("double"), 6)
                  .alias("rrf_score")))
    w = Window.orderBy(F.desc("rrf_score"), F.asc(id_col))
    return fused.withColumn("rank", F.row_number().over(w))
