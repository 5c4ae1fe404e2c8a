"""Bigram language-model fluency scoring — the CCNet-style corpus
quality signal (Wenzek et al. 2020 rank corpora by LM perplexity; the
Gopher/RefinedWeb recipes keep it as a quality gate). A document whose
token transitions are improbable under a model trained on the corpus
itself (boilerplate, lorem-ipsum runs, mangled encodings, keyword
stuffing) scores a high negative-log-likelihood and can be filtered or
bucketed before expensive downstream stages.

This is the model-free analogue of a KenLM gate: the LM *is* the
corpus's own bigram table, so no external artifact ships with the
pipeline and training is one aggregation pass.

Scale shape (the 100 TB lens):

- Training is ``explode transitions → groupBy(w1, w2)`` — ONE
  partial-aggregated shuffle carrying (w1, w2) pairs, never document
  text; context totals derive from the bigram aggregate (``groupBy(w1)``
  over distinct bigrams — far smaller than the corpus), so within one
  scoring plan the transition aggregate's exchange is built once and
  reused (the probe join side and the vocabulary count are their own
  scans — three scan subtrees total, one transition shuffle).
- The tokenized projection feeds two consumers (transitions and the
  vocabulary count) but is NOT persisted by default: on a cheap local
  scan, serializing the token arrays through the cache measured 25%
  slower than letting each consumer re-split (the same
  recompute-vs-cache flip ``dedup.token_frame`` documents — it tracks
  SCAN cost, not corpus size). Pass ``persist_tokens=True`` when the
  scan is the expensive part (remote object store, wide rows); the
  frame is staged and released with the caller's staging scope
  (``operators/staging.py``).
- Scoring is two shuffle equi-joins (doc transitions ⋈ bigram table on
  (w1, w2), ⋈ context totals on w1) plus one per-document aggregate.
  Raw transitions join directly — pre-aggregating per-document
  transition counts first measured 1.7× SLOWER at sf0.1 (natural text
  has tf≈1, so the extra (id, w1, w2) shuffle deduplicates nothing);
  for a pathologically repetitive corpus, pre-aggregate before calling
  (``transition_frame`` + ``groupBy`` — the decimal grid makes
  sum-of-repeats equal count×value, so results are identical). With
  ``min_count`` pruning the bigram table shrinks enough to broadcast —
  AQE picks that up from sizes.
- The vocabulary size is one scalar aggregate crossed in as a broadcast
  single row (the ``doc_search_bm25`` (N, avgdl) pattern).
- Per-document NLL assembly is order-independent decimal accumulation:
  each transition's −ln p is rounded to the 1e-6 grid and summed in
  exact decimal — bit-stable at any parallelism and reproducible in any
  engine (the DuckDB oracle for the ``doc_search_bm25`` kind='lm' fold
  value-checks it).

Smoothing is add-k over an open vocabulary: p(w2|w1) =
(c(w1,w2) + k) / (c(w1·) + k·(V+1)) — the +1 reserves one unseen-token
slot, so out-of-vocabulary transitions in held-out text get a finite
probability instead of −∞. Published add-k (Lidstone) form; no
reference counterpart (the reference pipeline has no LM stage).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .staging import stage
from .textstats import tokens

# Only an alias: the benchmark harness (perfbench/harness.py) imports it.
from .staging import release as unpersist_lm  # noqa: F401


def token_frame(df: DataFrame, text_col: str, id_col: str,
                persist: bool = False, storage_level=None) -> DataFrame:
    """The ``(id_col, __toks)`` tokenized projection every LM scorer in
    this module derives from. With ``persist=True`` the frame is staged
    (``staging.stage``, released with the caller's scope) — stage it
    ONCE when several scorers (or one scorer's many self-join
    consumers: ``stupid_backoff_score`` references its position frame
    six times) run over the same corpus in one plan, so the corpus is
    scanned once instead of once per consumer. At 100 TB that is the
    difference between one I/O pass and seven (the r8
    ``doc_search_bm25`` fold planned 35 distinct corpus scans before
    this staging landed). For a SINGLE consumer on a cheap local scan,
    recompute still wins — the module-note recompute-vs-cache rule
    tracks scan cost × consumer count, not corpus size.

    ``storage_level``: default MEMORY_AND_DISK; the token frame is the
    same order as the corpus, so at 100 TB pass ``"DISK_ONLY"`` (or
    flip the process default — ``operators/staging.py``) rather than
    let it evict the executors' working set."""
    tok = df.select(F.col(id_col), tokens(F.col(text_col))
                    .alias("__toks"))
    if persist:
        tok = stage(tok, storage_level)
    return tok


def transition_frame(tok: DataFrame, id_col: str) -> DataFrame:
    """``(id_col, w1, w2)`` — one row per bigram transition (position
    order discarded, multiplicity kept) from a tokenized
    ``(id_col, __toks)`` projection. Documents with fewer than two
    tokens contribute no rows. Pure map-side explode — no shuffle."""
    pairs = F.expr(
        "transform(slice(__toks, 1, greatest(size(__toks) - 1, 0)), "
        "(w, i) -> struct(w AS w1, element_at(__toks, i + 2) AS w2))")
    return (tok.select(F.col(id_col), F.explode(pairs).alias("__p"))
            .select(id_col, "__p.w1", "__p.w2"))


def bigram_lm_score(df: DataFrame, text_col: str, id_col: str,
                    add_k: float = 1.0,
                    min_count: int = 1,
                    persist_tokens: bool = False,
                    tok: DataFrame | None = None) -> DataFrame:
    """Train a bigram LM on ``df`` and score every document against it
    (the CCNet self-scoring shape — rank a crawl slice by its own
    statistics). Returns ``(id_col, n_transitions, avg_nll)`` — one row
    per document with ≥1 transition; ``avg_nll`` is the mean
    per-transition negative log likelihood (lower = more fluent;
    perplexity = exp(avg_nll)), rounded to 6 decimals.

    Threshold calibration caveat: the OOV floor ``-ln(1/(V+1))`` is
    NOT an upper bound for fluent text — under add-k with a large
    vocabulary, a rare-but-real transition after a frequent context
    (``cb`` small, ``cctx`` large) scores WORSE than pure OOV. Gate
    thresholds should come from a scored reference percentile (score
    the curated snapshot, take e.g. its p95 ``avg_nll``), not from the
    floor.

    ``min_count`` prunes bigrams below that corpus count from the table
    (bounds the LM at scale); pruned transitions score as unseen
    (c=0 + smoothing). Context totals and vocabulary stay unpruned so
    pruning only coarsens, never inflates, probabilities. To score NEW
    documents against a frozen LM, persist ``bg``/``ctx``/``v`` from
    this function's internals as parquet and replay the join — the
    score side touches only those three tables plus the batch.

    With ``persist_tokens=True`` the token frame is staged in the
    caller's staging scope (see the module note for when that wins). Pass a
    pre-staged ``tok`` (from ``token_frame``) to share ONE tokenized
    projection with other scorers in the same plan — ``text_col`` and
    ``persist_tokens`` are then ignored."""
    if tok is None:
        tok = token_frame(df, text_col, id_col,
                          persist=persist_tokens)

    tr = transition_frame(tok, id_col)
    # ctx derives from the bigram AGGREGATE, not the raw transitions:
    # same totals (Σ_w2 c(w1,w2) = c(w1·)), but the groupBy(w1) then
    # rides the already-shuffled (w1,w2) counts — Catalyst reuses that
    # exchange — instead of paying a second full explode+shuffle
    bg_all = tr.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    ctx = bg_all.groupBy("w1").agg(F.sum("cb").alias("cctx"))
    bg = bg_all.filter(F.col("cb") >= min_count)
    v = (tok.select(F.explode("__toks").alias("__t"))
         .agg(F.countDistinct("__t").alias("v")))

    # p = (cb + k) / (cctx + k·(V+1)) — every operand double-cast in
    # this exact tree shape so the DuckDB oracle can mirror it; cb
    # coalesces to 0 for min_count-pruned (unseen) transitions. cctx
    # can't be NULL when scoring the training corpus, but coalesce
    # keeps held-out scoring (frozen-LM replay) total.
    k = float(add_k)
    p = ((F.coalesce(F.col("cb").cast("double"), F.lit(0.0)) + F.lit(k))
         / (F.coalesce(F.col("cctx").cast("double"), F.lit(0.0))
            + F.lit(k) * (F.col("v").cast("double") + F.lit(1.0))))
    nll = F.round(-F.log(p), 6).cast("decimal(30,6)")
    return (tr
            .join(bg, ["w1", "w2"], "left")
            .join(ctx, ["w1"], "left")
            .crossJoin(F.broadcast(v))
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("int").alias("n_transitions"),
                 F.sum(nll).alias("__s"))
            .select(id_col, "n_transitions",
                    F.round(F.col("__s").cast("double")
                            / F.col("n_transitions"), 6)
                    .alias("avg_nll")))


def save_bigram_lm(df: DataFrame, text_col: str, path: str,
                   add_k: float = 1.0, min_count: int = 1) -> None:
    """Persist the bigram LM as a queryable artifact — train ONCE on the
    reference corpus, score every future batch against it
    (``score_with_bigram_lm``), the shape a production gate actually
    runs: the LM freezes on a curated snapshot while daily crawl
    arrivals stream through it (the KenLM-artifact deployment, kept
    in-engine). Mirrors ``ann.build_ivf_index``'s layout discipline:

    - ``bigrams/``  — (w1, w2, cb) parquet, ``min_count``-pruned;
    - ``contexts/`` — (w1, cctx) parquet (UNpruned — pruning only
      coarsens probabilities, never inflates them);
    - ``meta/``     — one row (v, add_k, min_count).

    A rebuild over an existing path writes into a pid-suffixed sibling
    and swaps with ONE atomic rename (``session.replace_dir``) — a
    crash never pairs new bigram counts with old context totals, which
    would silently skew every probability. Scoring jobs running across
    a swap fail and retry against the new artifact (replace_dir's
    single-writer contract)."""
    import os

    from ..session import replace_dir

    from pyspark import StorageLevel

    tmp = f"{path}.__build_tmp.{os.getpid()}"
    tok = df.select(tokens(F.col(text_col)).alias("__toks"))
    tr = (tok.select(F.explode(F.expr(
        "transform(slice(__toks, 1, greatest(size(__toks) - 1, 0)), "
        "(w, i) -> struct(w AS w1, element_at(__toks, i + 2) AS w2))"))
        .alias("__p"))
        .select("__p.w1", "__p.w2"))
    # the bigram/context writes are SEPARATE jobs (no in-plan exchange
    # reuse across actions), so the shared bigram aggregate is staged:
    # the corpus is tokenized+exploded once for transitions and once
    # for the vocabulary, never per output table
    bg_all = (tr.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
              .persist(StorageLevel.MEMORY_AND_DISK))
    try:
        bg = bg_all.filter(F.col("cb") >= min_count)
        ctx = bg_all.groupBy("w1").agg(F.sum("cb").alias("cctx"))
        meta = (tok.select(F.explode("__toks").alias("__t"))
                .agg(F.countDistinct("__t").alias("v"))
                .select("v", F.lit(float(add_k)).alias("add_k"),
                        F.lit(int(min_count)).alias("min_count")))
        bg.write.mode("overwrite").parquet(f"{tmp}/bigrams")
        ctx.write.mode("overwrite").parquet(f"{tmp}/contexts")
        meta.write.mode("overwrite").parquet(f"{tmp}/meta")
        replace_dir(df.sparkSession, tmp, path)
    finally:
        bg_all.unpersist()


def score_with_bigram_lm(docs: DataFrame, text_col: str, id_col: str,
                         path: str) -> DataFrame:
    """Score a batch against a FROZEN persisted LM
    (``save_bigram_lm``) — identical math to ``bigram_lm_score``
    (scoring the training corpus through its own frozen artifact
    returns bit-identical rows, pinned in tests), but the corpus-wide
    aggregation is gone: the batch pays its own tokenize + two
    equi-joins against the stored tables. Out-of-vocabulary transitions
    take the smoothed floor — an unseen (w1, w2) under an unseen
    context scores p = 1/(V+1) whatever ``add_k`` was. Returns
    ``(id_col, n_transitions, avg_nll)``."""
    spark = docs.sparkSession
    bg = spark.read.parquet(f"{path}/bigrams")
    ctx = spark.read.parquet(f"{path}/contexts")
    meta = spark.read.parquet(f"{path}/meta")
    tok = docs.select(F.col(id_col), tokens(F.col(text_col))
                      .alias("__toks"))
    tr = transition_frame(tok, id_col)
    p = ((F.coalesce(F.col("cb").cast("double"), F.lit(0.0))
          + F.col("add_k"))
         / (F.coalesce(F.col("cctx").cast("double"), F.lit(0.0))
            + F.col("add_k") * (F.col("v").cast("double") + F.lit(1.0))))
    nll = F.round(-F.log(p), 6).cast("decimal(30,6)")
    return (tr
            .join(bg, ["w1", "w2"], "left")
            .join(ctx, ["w1"], "left")
            .crossJoin(F.broadcast(meta))
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("int").alias("n_transitions"),
                 F.sum(nll).alias("__s"))
            .select(id_col, "n_transitions",
                    F.round(F.col("__s").cast("double")
                            / F.col("n_transitions"), 6)
                    .alias("avg_nll")))


def lm_threshold_from_reference(reference: DataFrame, text_col: str,
                                id_col: str, path: str,
                                pct: float = 0.95,
                                accuracy: int = 10000) -> float:
    """The calibrated gate ceiling the scoring docstring prescribes:
    score a curated reference slice against the frozen LM at ``path``
    and return its ``pct`` percentile ``avg_nll`` — "drop what reads
    worse than 95% of text we trust". This sidesteps the add-k floor
    trap (fluent-but-rare text can out-score pure OOV, so no closed
    form works); one distributed approx-percentile aggregate, no
    collect beyond the scalar."""
    if not 0.0 < pct <= 1.0:
        raise ValueError(f"pct must be in (0, 1], got {pct}")
    scored = score_with_bigram_lm(reference, text_col, id_col, path)
    row = scored.agg(F.percentile_approx(
        "avg_nll", F.lit(pct), F.lit(accuracy)).alias("t")).collect()[0]
    if row["t"] is None:
        raise ValueError("reference slice produced no scored documents "
                         "(all <2 tokens?) — cannot calibrate")
    return float(row["t"])


def exact_order_stat(df: DataFrame, val_col: str, id_col: str, k: int,
                     coarse_grid: int = 1000):
    """Exact k-th smallest ``(val, id)`` pair (1-based) WITHOUT a global
    sort or a driver-sized limit funnel — the order-statistic primitive
    the perplexity tiers below need at corpus scale.

    Two phases: (1) one partial-aggregated histogram shuffle over
    ``floor(val * coarse_grid)`` bins locates the bin containing rank k
    (driver receives the histogram — bounded by distinct bins, not
    rows); (2) the in-bin offset is resolved with a sort+limit over
    ONLY that bin's rows. The phase-2 limit funnels at most one bin —
    a 1/grid-wide value slice; if one such slice holds a macroscopic
    share of the corpus, raise ``coarse_grid`` (the knob trades
    histogram width for funnel depth).

    Returns a ``Row(v, i)`` or ``None`` when k is out of range.
    ``val_col`` must be non-NULL; ``(val, id)`` pairs must be distinct
    (unique ids suffice).
    """
    if k < 1:
        return None
    bin_col = F.floor(F.col(val_col) * coarse_grid)
    hist = (df.groupBy(bin_col.alias("__bin"))
            .agg(F.count(F.lit(1)).alias("__c"))
            .orderBy("__bin").collect())
    run = 0
    target_bin, offset = None, 0
    for r in hist:
        if run + r["__c"] >= k:
            target_bin, offset = r["__bin"], k - run
            break
        run += r["__c"]
    if target_bin is None:
        return None
    sub = df.filter(bin_col == target_bin)
    return (sub.select(F.col(val_col).alias("v"), F.col(id_col).alias("i"))
            .orderBy("v", "i").limit(offset)
            .agg(F.max(F.struct("v", "i")).alias("m"))
            .collect()[0]["m"])


def ccnet_buckets(scored: DataFrame, nll_col: str = "avg_nll",
                  id_col: str = "doc_id", parts: int = 3,
                  labels: tuple[str, ...] = ("head", "middle", "tail"),
                  coarse_grid: int = 1000) -> DataFrame:
    """CCNet-style perplexity tiers (Wenzek et al. 2020): split the
    scored corpus into ``parts`` equal tiers by LM score — 'head' is
    the most fluent third, 'tail' the least; downstream recipes keep
    head+middle or reweight by tier. Published CCNet cuts on
    percentiles of the Kneser-Ney perplexity; this is the same rule
    over ``bigram_lm_score``'s ``avg_nll`` (monotone in perplexity, so
    the tiers are identical).

    Tier boundaries are the ``floor(n·i/parts)``-th smallest
    ``(nll, id)`` pairs — EXACT order statistics, so the assignment is
    deterministic and engine-reproducible: a doc is in tier i iff its
    (nll, id) pair ≤ the i-th boundary pair, which equals the rank rule
    ``row_number() OVER (ORDER BY nll, id) ≤ floor(n·i/parts)`` an
    oracle can replay. Ties in nll are split by id, so equal-score docs
    land deterministically.

    The boundaries are computed IN-PLAN (r11 — the pre-r11 form ran
    ``count`` plus two ``exact_order_stat`` driver probes, five eager
    jobs per call; guide §1.2 "don't compute things you throw away" /
    §5 "the driver should do almost no data work"): ONE aggregation
    over ``floor(nll·coarse_grid)`` bins collects the coarse histogram
    into a sorted one-row array (bounded by the distinct-bin count,
    never rows); higher-order functions over that array locate, for
    every boundary rank k_i = n·i div parts, the bin whose running sum
    reaches k_i and the in-bin offset — no window, no re-aggregation,
    no driver round-trip; one window over ONLY the (≤ parts−1) target
    bins' rows resolves the exact pairs; and a one-row pivot is
    broadcast into the bucket projection. The persisted ``scored``
    frame is scanned exactly three times (histogram, in-bin probe,
    final projection — pinned in tests/test_plan_shapes.py), vs five
    eager jobs before; every stage is bounded exactly as before (no
    global sort, no corpus-sized window).

    Input rows must have non-NULL ``nll_col`` and unique ``id_col``
    (``bigram_lm_score`` guarantees both). ``scored`` is staged (it
    feeds the histogram, the in-bin probe and the final projection) —
    release it with the staging scope around the terminal action. Adds
    column ``ppl_bucket``.
    """
    if len(labels) != parts:
        raise ValueError(f"need {parts} labels, got {len(labels)}")
    from pyspark.sql.window import Window

    scored = stage(scored)
    bin_col = F.floor(F.col(nll_col) * coarse_grid)
    hist = (scored.groupBy(bin_col.alias("__bin"))
            .agg(F.count(F.lit(1)).alias("__c")))
    # the whole histogram as ONE sorted array row (struct arrays sort
    # by leading field, i.e. by bin) + the corpus count derived from it
    harr = (hist.agg(F.sort_array(F.collect_list(
                F.struct("__bin", "__c"))).alias("__h"))
            .withColumn("__n",
                        F.expr("aggregate(__h, CAST(0 AS BIGINT), "
                               "(a, x) -> a + x.__c)")))
    # per boundary i: rank k_i = n·i div parts; fold over the bin array
    # finds the first bin whose running sum reaches k_i and the in-bin
    # offset. k_i < 1 (empty/tiny input) leaves tbin NULL → filtered.
    null_acc = ("named_struct('cum', acc.cum + x.__c, "
                "'tbin', CAST(NULL AS BIGINT), "
                "'off', CAST(NULL AS BIGINT))")
    tgt = (harr.select(F.explode(F.expr(f"""
        filter(
          transform(sequence(1, {parts - 1}), i -> named_struct(
            '__i', i,
            '__loc', aggregate(
              __h,
              named_struct('cum', CAST(0 AS BIGINT),
                           'tbin', CAST(NULL AS BIGINT),
                           'off', CAST(NULL AS BIGINT)),
              (acc, x) -> CASE
                  WHEN acc.tbin IS NOT NULL THEN acc
                  WHEN (__n * i) div {parts} < 1 THEN {null_acc}
                  WHEN acc.cum + x.__c >= (__n * i) div {parts}
                    THEN named_struct('cum', acc.cum + x.__c,
                                      'tbin', x.__bin,
                                      'off', (__n * i) div {parts}
                                             - acc.cum)
                  ELSE {null_acc}
                END))),
          s -> s.__loc.tbin IS NOT NULL)""")).alias("__s"))
           .select(F.col("__s.__i").alias("__i"),
                   F.col("__s.__loc.tbin").alias("__tbin"),
                   F.col("__s.__loc.off").alias("__off")))
    # resolve the exact (nll, id) boundary pair inside each target bin:
    # a window over only those bins' rows (≤ parts−1 value slices of
    # width 1/coarse_grid each — the same funnel bound as before)
    inb = (scored.select(F.col(nll_col).alias("__v"),
                         F.col(id_col).alias("__id"))
           .join(F.broadcast(tgt),
                 F.floor(F.col("__v") * coarse_grid) == F.col("__tbin")))
    bw = Window.partitionBy("__i").orderBy(F.col("__v").asc(),
                                           F.col("__id").asc())
    bounds = (inb.withColumn("__rn", F.row_number().over(bw))
              .filter(F.col("__rn") == F.col("__off"))
              .select("__i", "__v", "__id"))
    aggs = []
    for i in range(1, parts):
        aggs.append(F.max(F.when(F.col("__i") == i, F.col("__v")))
                    .alias(f"__bv{i}"))
        aggs.append(F.max(F.when(F.col("__i") == i, F.col("__id")))
                    .alias(f"__bi{i}"))
    piv = bounds.agg(*aggs)  # exactly one row; missing boundaries NULL
    expr = None
    for i, lbl in enumerate(labels[:-1], start=1):
        cond = (F.col(f"__bv{i}").isNotNull()
                & ((F.col(nll_col) < F.col(f"__bv{i}"))
                   | ((F.col(nll_col) == F.col(f"__bv{i}"))
                      & (F.col(id_col) <= F.col(f"__bi{i}")))))
        expr = F.when(cond, lbl) if expr is None else expr.when(cond, lbl)
    expr = (F.lit(labels[-1]) if expr is None
            else expr.otherwise(F.lit(labels[-1])))
    drop = [c for i in range(1, parts) for c in (f"__bv{i}", f"__bi{i}")]
    return (scored.crossJoin(F.broadcast(piv))
            .withColumn("ppl_bucket", expr).drop(*drop))


def position_frame(tok: DataFrame, id_col: str) -> DataFrame:
    """Per-token scoring positions with their (up to) two-word left
    context: ``(id_col, w, prev, prev2)`` — prev/prev2 NULL at the
    document start. One shuffle-free transform + explode over the
    token array; empty/NULL docs emit nothing."""
    toks = F.col("__toks")
    idx = F.sequence(F.lit(1), F.size(toks))
    pos = F.transform(idx, lambda i: F.struct(
        F.element_at(toks, i).alias("w"),
        F.when(i >= 2, F.element_at(toks, i - 1)).alias("prev"),
        F.when(i >= 3, F.element_at(toks, i - 2)).alias("prev2")))
    return (tok.filter(F.size(toks) >= 1)
            .select(F.col(id_col), F.explode(pos).alias("__p"))
            .select(id_col, "__p.w", "__p.prev", "__p.prev2"))


def stupid_backoff_score(df: DataFrame, text_col: str, id_col: str,
                         alpha: float = 0.4,
                         min_count: int = 1,
                         tok: DataFrame | None = None) -> DataFrame:
    """Stupid Backoff trigram scoring (Brants et al. 2007 — THE
    distributed n-gram LM: relative frequencies with a fixed backoff
    penalty instead of normalized discounting, chosen precisely
    because it needs only count tables that build as parallel
    aggregations). Trains on ``df`` and scores every document
    position with the LONGEST available matched context:

    - trigram seen:            c(w₋₂w₋₁w) / c(w₋₂w₋₁)
    - else bigram seen:    α · c(w₋₁w) / c(w₋₁)
    - else:               α² · c(w)/N   (fewer backoffs at the first
      two positions, which never had the longer context; an entirely
      unseen word floors at 1/(N+1) — only reachable when replaying a
      frozen table over new text)

    Scores are NOT probabilities (they don't normalize — the paper's
    point: at web scale the ranking power survives, the normalization
    cost doesn't), so the output is ``(id_col, n_scored, avg_nls)``:
    mean per-position negative log SCORE, 1e-6 grid, decimal
    accumulated — lower = more fluent, same gate shape as
    ``bigram_lm_score`` (calibrate thresholds from a scored reference
    percentile, never from the floor).

    Scale: three partial-agg count tables (uni/bi/tri — the bi and tri
    groupBys ride the position explode), a scalar N, then scoring =
    five equi-joins keyed on vocabulary-sized tables + one per-doc
    aggregate. ``min_count`` prunes the bi/tri tables (the paper ships
    count cutoffs for exactly this reason); pruned entries back off.

    The position frame is referenced six times in the scoring joins
    (main + tri + bi×2 + uni×2) — each reference replans the
    tokenization unless ``tok`` is a staged/persisted frame from
    ``token_frame(persist=True)``. ALWAYS stage ``tok`` for corpora
    where the scan is not free; the raw-``df`` path exists for small
    one-shot scoring only."""
    if not (0 < alpha <= 1):
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    if tok is None:
        tok = token_frame(df, text_col, id_col)
    p = position_frame(tok, id_col)
    uni = p.groupBy(F.col("w").alias("u_w")) \
        .agg(F.count(F.lit(1)).alias("cu"))
    n_tot = uni.agg(F.sum("cu").alias("n_tok"))
    bi = (p.filter(F.col("prev").isNotNull())
          .groupBy(F.col("prev").alias("b_p"), F.col("w").alias("b_w"))
          .agg(F.count(F.lit(1)).alias("cbi"))
          .filter(F.col("cbi") >= min_count))
    tri = (p.filter(F.col("prev2").isNotNull())
           .groupBy(F.col("prev2").alias("t_p2"),
                    F.col("prev").alias("t_p1"),
                    F.col("w").alias("t_w"))
           .agg(F.count(F.lit(1)).alias("ctri"))
           .filter(F.col("ctri") >= min_count))
    joined = (p
              .join(tri, (F.col("prev2") == F.col("t_p2"))
                    & (F.col("prev") == F.col("t_p1"))
                    & (F.col("w") == F.col("t_w")), "left")
              .join(bi.select(F.col("b_p"), F.col("b_w"),
                              F.col("cbi")),
                    (F.col("prev") == F.col("b_p"))
                    & (F.col("w") == F.col("b_w")), "left")
              .join(bi.select(F.col("b_p").alias("c_p"),
                              F.col("b_w").alias("c_w"),
                              F.col("cbi").alias("cbctx")),
                    (F.col("prev2") == F.col("c_p"))
                    & (F.col("prev") == F.col("c_w")), "left")
              .join(uni.select(F.col("u_w"), F.col("cu")),
                    F.col("w") == F.col("u_w"), "left")
              .join(uni.select(F.col("u_w").alias("u_p"),
                               F.col("cu").alias("cuprev")),
                    F.col("prev") == F.col("u_p"), "left")
              .crossJoin(F.broadcast(n_tot)))
    a = F.lit(float(alpha))
    nd = F.col("n_tok").cast("double")
    base = (F.when(F.col("cu").isNotNull(),
                   F.col("cu").cast("double") / nd)
            .otherwise(F.lit(1.0) / (nd + F.lit(1.0))))
    bi_s = F.col("cbi").cast("double") / F.col("cuprev").cast("double")
    tri_s = (F.col("ctri").cast("double")
             / F.col("cbctx").cast("double"))
    s = (F.when(F.col("prev2").isNotNull(),
                F.when(F.col("ctri").isNotNull()
                       & F.col("cbctx").isNotNull(), tri_s)
                .when(F.col("cbi").isNotNull()
                      & F.col("cuprev").isNotNull(), a * bi_s)
                .otherwise(a * a * base))
         .when(F.col("prev").isNotNull(),
               F.when(F.col("cbi").isNotNull()
                      & F.col("cuprev").isNotNull(), bi_s)
               .otherwise(a * base))
         .otherwise(base))
    nls = F.round(-F.log(s), 6).cast("decimal(30,6)")
    return (joined.groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("int").alias("n_scored"),
                 F.sum(nls).alias("__s"))
            .select(id_col, "n_scored",
                    F.round(F.col("__s").cast("double")
                            / F.col("n_scored"), 6).alias("avg_nls")))
