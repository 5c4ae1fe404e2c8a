"""Text-analysis operators for training-data pipelines.

Language-ID (n-gram/stopword heuristic), quality scoring, token counting,
and document fingerprinting over a text column — all native Catalyst
expressions (no Python in the hot path), each with an ANSI-SQL twin so the
driver's DuckDB gate can check them.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

FINGERPRINT_MOD = 1_000_000_007

# Tiny marker-word profiles for the lang-ID heuristic. Deliberately small
# and transparent — this is a cheap distributable heuristic, not a model.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "for", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein"],
    "es": ["el", "la", "los", "de", "que", "es", "por", "con"],
    "fr": ["le", "la", "les", "et", "est", "pour", "dans", "une"],
}


def tokens(text: Column) -> Column:
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")


# Each metric has a tokens-first `*_t(toks, ...)` form plus a text-based
# convenience wrapper. Callers combining several metrics over one scan
# (doc_profile, corpus_filter) STAGE the token array once —
# ``withColumn('__toks', tokens(text))`` — and use the `_t` forms:
# lambda-bearing expressions are excluded from codegen subexpression
# elimination, so the wrapper forms would re-split the text per metric
# (measured ~3× slower for the 13-column profile). CollapseProject keeps
# a multiply-referenced non-trivial alias staged, so the single split
# survives optimization.


def token_count_t(toks: Column) -> Column:
    return F.size(toks)


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return token_count_t(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish upper bound: count of word/punctuation units (\\w+ runs and
    single non-space symbols) — the standard pre-tokenization split."""
    return F.regexp_count(text, F.lit(r"(?U)\w+|[^\w\s]"))


def marker_hits_t(toks: Column, markers: list[str]) -> Column:
    """Number of tokens that are in the marker set."""
    return F.size(F.filter(toks, lambda t: t.isin(*markers)))


def marker_hits(text: Column, markers: list[str]) -> Column:
    return marker_hits_t(tokens(text), markers)


def lang_scores_t(toks: Column) -> dict[str, Column]:
    n = token_count_t(toks).cast("double")
    return {
        lang: F.round(F.when(n > 0, marker_hits_t(toks, m) / n)
                      .otherwise(F.lit(0.0)), 6)
        for lang, m in LANG_MARKERS.items()
    }


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language marker-hit ratios (hits / token count)."""
    return lang_scores_t(tokens(text))


def lang_id_t(toks: Column, min_ratio: float = 0.05,
              scores: dict[str, Column] | None = None) -> Column:
    """Argmax language over the marker ratios. Pass ``scores`` when the
    caller already built ``lang_scores_t(toks)`` in the same projection:
    the marker filters are lambda expressions, which codegen CSE does
    NOT deduplicate — without sharing, every ratio is computed twice
    per row (see the staging note in ``plans/text.py:doc_profile``)."""
    if scores is None:
        scores = lang_scores_t(toks)
    best_lang, best_score = F.lit("und"), F.lit(min_ratio - 1e-12)
    for lang in sorted(scores):  # later langs must beat strictly
        s = scores[lang]
        is_better = s > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, s).otherwise(best_score)
    return best_lang


def lang_id(text: Column, min_ratio: float = 0.05) -> Column:
    """Predicted language: highest marker ratio, 'und' if below min_ratio.

    Ties break by language-code order (deterministic).
    """
    return lang_id_t(tokens(text), min_ratio)


def punct_ratio(text: Column) -> Column:
    n = F.length(text).cast("double")
    p = F.length(F.regexp_replace(text, r"(?U)[\w\s]", "")).cast("double")
    return F.round(F.when(n > 0, p / n).otherwise(F.lit(0.0)), 6)


def stopword_ratio_t(toks: Column) -> Column:
    return F.round(
        F.when(token_count_t(toks) > 0,
               marker_hits_t(toks, LANG_MARKERS["en"])
               / token_count_t(toks).cast("double"))
        .otherwise(F.lit(0.0)), 6)


def stopword_ratio(text: Column) -> Column:
    return stopword_ratio_t(tokens(text))


def mean_token_len_t(toks: Column) -> Column:
    total = F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x))
    return F.round(F.when(F.size(toks) > 0,
                          total.cast("double") / F.size(toks))
                   .otherwise(F.lit(0.0)), 6)


def mean_token_len(text: Column) -> Column:
    return mean_token_len_t(tokens(text))


def quality_score_t(text: Column, toks: Column,
                    ideal_len: int = 500) -> Column:
    ls6 = F.round(F.least(F.length(text).cast("double") / ideal_len,
                          F.lit(1.0)) * 1e6, 0).cast("long")
    p6 = F.round(punct_ratio(text) * 1e6, 0).cast("long")
    pp6 = F.lit(1_000_000) - F.least(p6 * 4, F.lit(1_000_000))
    mtl = mean_token_len_t(toks)
    ws6 = (F.when((mtl >= 3.0) & (mtl <= 10.0), F.lit(1_000_000))
           .otherwise(F.lit(500_000)).cast("long"))
    s6 = F.round(stopword_ratio_t(toks) * 1e6, 0).cast("long")
    ss6 = F.least(s6 * 5, F.lit(1_000_000))
    q7 = 4 * ls6 + 3 * pp6 + 2 * ws6 + ss6
    return F.floor((q7 + 5) / 10) / 1e6


def quality_score(text: Column,
                  ideal_len: int = 500) -> Column:
    """Composite document quality ∈ [0,1]: length score (saturating at
    ideal_len chars), low punctuation, plausible mean word length,
    a dash of stopword signal. Weights are transparent heuristics.

    Computed in exact integer micro-units (components ×1e6, weighted sum
    on a 1e-7 grid, explicit half-up to 1e-6): every component is a
    multiple of 1e-6 and the weights are tenths, so a float weighted sum
    lands on exact .5 rounding ties where engines disagree by one ulp.
    Integer arithmetic makes the result bit-identical across engines.
    """
    return quality_score_t(text, tokens(text), ideal_len)


# PII patterns, applied in a FIXED order (email before ABN before phone:
# digit runs inside an already-redacted span can't re-match). Transparent
# regexes, not a model — the deterministic scrub a training corpus gets
# before anything else sees it.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"),
    # 11-digit ABN, optional standard 2-3-3-3 spacing (functions/abn.py
    # validates checksums; here any ABN-shaped number is sensitive)
    ("abn", r"\b\d{2}[ ]?\d{3}[ ]?\d{3}[ ]?\d{3}\b"),
    # AU-ish phone: +61/0 prefix then 8-9 digits with optional separators
    ("phone", r"(?:\+61[ ]?|\(0\d\)[ ]?|0)\d(?:[ \-]?\d){7,8}\b"),
)


def redact_pii(text: Column,
               kinds: tuple[str, ...] = ("email", "abn", "phone"),
               marker: str = "[PII-{kind}]") -> Column:
    """Scrub PII from a text column: each requested kind is replaced by
    its marker (default ``[PII-email]`` etc.) via a chain of native
    ``regexp_replace`` — JVM-side, codegen, no Python in the path.

    The chain applies in ``PII_PATTERNS`` order regardless of ``kinds``
    order, so overlapping matches resolve deterministically (an email's
    digits are consumed before the ABN/phone patterns see them).
    """
    unknown = set(kinds) - {k for k, _ in PII_PATTERNS}
    if unknown:
        raise ValueError(f"unknown PII kinds {sorted(unknown)}; "
                         f"supported: {[k for k, _ in PII_PATTERNS]}")
    out = text
    for kind, pattern in PII_PATTERNS:
        if kind in kinds:
            out = F.regexp_replace(out, pattern,
                                   marker.format(kind=kind))
    return out


def pii_stats(df, text_col: str):
    """(kind, n_docs, n_hits) per PII kind over a corpus — the audit
    companion to ``redact_pii`` (scrub coverage must be observable: a
    regex that silently stops matching is a compliance incident, not a
    clean corpus). One scan; counts via native regexp_count."""
    hit = df.select(*[
        F.regexp_count(F.col(text_col), F.lit(p)).alias(k)
        for k, p in PII_PATTERNS
    ])
    agg = hit.agg(*(
        [F.count(F.when(F.col(k) > 0, 1)).alias(f"{k}_d")
         for k, _ in PII_PATTERNS]
        + [F.coalesce(F.sum(k), F.lit(0)).cast("long").alias(f"{k}_h")
           for k, _ in PII_PATTERNS]))
    per_kind = F.array(*[
        F.struct(F.lit(k).alias("kind"),
                 F.col(f"{k}_d").alias("n_docs"),
                 F.col(f"{k}_h").alias("n_hits"))
        for k, _ in PII_PATTERNS
    ])
    return (agg.select(F.explode(per_kind).alias("s"))
            .select("s.kind", "s.n_docs", "s.n_hits"))


def token_dup_ratio_t(toks: Column) -> Column:
    return F.round(
        F.when(F.size(toks) > 0,
               1.0 - F.size(F.array_distinct(toks)).cast("double")
               / F.size(toks))
        .otherwise(F.lit(0.0)), 6)


def token_dup_ratio(text: Column) -> Column:
    """Repetition signal (Gopher-style): fraction of tokens that are
    repeats of an earlier token — ``1 - distinct/total``. 0 for empty
    text. High values flag boilerplate/spam (nav bars, keyword stuffing)
    that length/punctuation rules miss."""
    return token_dup_ratio_t(tokens(text))


def line_dup_ratio(text: Column) -> Column:
    """Repetition signal: fraction of non-blank lines that are exact
    repeats of an earlier line — the classic crawl-boilerplate detector
    (repeated headers/footers/menus)."""
    lines = F.filter(F.split(text, "\n"), lambda ln: F.trim(ln) != "")
    return F.round(
        F.when(F.size(lines) > 0,
               1.0 - F.size(F.array_distinct(lines)).cast("double")
               / F.size(lines))
        .otherwise(F.lit(0.0)), 6)


def fingerprint(text: Column) -> Column:
    """Polynomial rolling hash of the full text, mod 1e9+7 — a stable,
    engine-portable document fingerprint (same fold in any SQL engine
    with ascii(): h = (h*31 + code) % M)."""
    chars = F.split(text, "")
    return F.aggregate(
        chars, F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + F.ascii(c)) % FINGERPRINT_MOD)


def pack_sequences(df, token_count_col: str, id_col: str,
                   budget: int, partition_col=None):
    """Token-budget sequence packing plan →
    ``(id_col, [partition_col,] n_tokens, pack_id, pack_offset,
    spans_packs)``.

    The pretraining-data step that concatenates documents into a token
    stream chunked into fixed-``budget`` model sequences: doc d starts in
    pack ``floor(tokens_before_d / budget)`` at ``tokens_before_d %
    budget``; ``spans_packs`` marks docs crossing a chunk boundary (the
    consumer splits them — standard GPT-style packing, zero padding
    waste). Deterministic: the stream order is ``id_col`` ascending, so
    the layout is reproducible at any parallelism (greedy first-fit bin
    packing, by contrast, is inherently sequential AND layout-unstable).

    Scale: ONE running-total window pass. With ``partition_col`` (e.g. a
    shard/date key) the window partitions by it and pack ids are
    per-partition — the 100 TB shape, since a single global ordered
    window funnels every row through one task; the unpartitioned form is
    for corpus slices that fit a task's sort.
    """
    from pyspark.sql.window import Window

    n = F.col(token_count_col).cast("long")
    if partition_col is not None:
        win = (Window.partitionBy(partition_col)
               .orderBy(F.col(id_col).asc()))
        keep = [F.col(id_col), F.col(partition_col)]
    else:
        win = Window.orderBy(F.col(id_col).asc())
        keep = [F.col(id_col)]
    cum = F.sum(n).over(win.rowsBetween(Window.unboundedPreceding, -1))
    before = F.coalesce(cum, F.lit(0))
    offset = before % budget
    return df.select(
        *keep,
        n.alias("n_tokens"),
        F.floor(before / budget).cast("long").alias("pack_id"),
        offset.cast("long").alias("pack_offset"),
        (offset + n > budget).alias("spans_packs"))


def pack_samples_whole(df, length_col: str, id_col: str, budget: int,
                       partition_col=None):
    """WHOLE-sample packing → ``(id_col, [partition_col,] n_units,
    pack_id, pack_offset)`` — the SFT twin of ``pack_sequences``:
    a conversation split across two training sequences is broken data,
    so samples are never split; sequences accept whole samples until
    the budget would overflow.

    Distributed-exact via LENGTH BUCKETING (the 2-approx bin packing
    that parallelizes): each sample rounds up to its power-of-two
    length class; a class-``b`` pack holds ``floor(budget / b)``
    samples, so ``sum(actual) <= k*b <= budget`` holds by construction
    — no pack ever overflows, nothing straddles. Within a class,
    samples rank by ``id_col`` and fill packs in order; offsets are
    cumulative ACTUAL lengths within the pack (a bounded <=k-row
    window). Waste is the class round-up — <=50% worst case, ~25%
    typical — the price of an embarrassingly parallel exact layout
    (true first-fit-decreasing is inherently sequential AND
    layout-unstable).

    Samples LONGER than ``budget`` get ``pack_id`` NULL — flag, don't
    silently truncate; the caller decides (drop, or truncate upstream
    with its own span bookkeeping).

    ``pack_id`` is ``'<class>:<seq>'`` (unique across classes; with
    ``partition_col`` it is per-partition, same contract as
    ``pack_sequences``). Scale: the class-rank window partitions by
    [partition_col,] class — pass a shard/date ``partition_col`` at
    corpus scale for the same reason ``pack_sequences`` documents."""
    from pyspark.sql.window import Window

    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    parts = ([F.col(partition_col)] if partition_col is not None
             else [])
    keep = ([F.col(partition_col)] if partition_col is not None
            else []) + [F.col(id_col),
                        F.col(length_col).cast("long").alias("n_units")]
    staged = df.select(*keep)
    # over-budget (or NULL-length) samples must not consume rank
    # positions inside the class windows — split them out first, flag
    # with NULL pack ids, union back after
    fits = staged.filter(F.col("n_units").isNotNull()
                         & (F.col("n_units") <= budget))
    misfits = (staged.filter(F.col("n_units").isNull()
                             | (F.col("n_units") > budget))
               .withColumn("pack_id", F.lit(None).cast("string"))
               .withColumn("pack_offset", F.lit(None).cast("long")))
    n = F.greatest(F.col("n_units"), F.lit(1))
    # class = next power of two, CLAMPED to the budget: under a
    # non-power-of-two budget a sample can have class > budget while
    # still fitting (budget=1000, n=1000 -> class 1024) — the clamp
    # packs it alone (k=1; member n <= budget = class, so the
    # sum <= k*class <= budget invariant holds unchanged)
    cls = F.least(F.pow(F.lit(2.0), F.ceil(F.log2(n))).cast("long"),
                  F.lit(budget))
    k = F.floor(F.lit(budget) / cls).cast("long")  # >= 1 by the clamp
    rank_w = Window.partitionBy(*parts, cls).orderBy(
        F.col(id_col).asc())
    rn = F.row_number().over(rank_w) - 1
    packed = fits.withColumn(
        "pack_id", F.concat_ws(":", cls.cast("string"),
                               F.floor(rn / k).cast("string")))
    off_w = (Window.partitionBy(*parts, "pack_id")
             .orderBy(F.col(id_col).asc())
             .rowsBetween(Window.unboundedPreceding, -1))
    packed = packed.withColumn(
        "pack_offset",
        F.coalesce(F.sum("n_units").over(off_w), F.lit(0)))
    return packed.unionByName(misfits)


def sample_bucket(keys: list, hash_fn: str = "murmur3") -> Column:
    """Deterministic ``[0, 1e6)`` bucket for hash sampling.

    ``'murmur3'`` — ``F.hash`` (fastest; engine-specific values).
    ``'md5'`` — first 8 hex digits of md5 over the \\x1f-joined
    stringified keys (engine-portable; DuckDB twin:
    ``CAST(concat('0x', substr(md5(concat_ws(chr(31), …)), 1, 8)) AS
    BIGINT) % 1000000`` — how the driver oracle value-checks the
    sampling rule)."""
    if hash_fn == "murmur3":
        return F.pmod(F.hash(*keys), F.lit(1_000_000))
    if hash_fn == "md5":
        joined = F.concat_ws("\x1f", *[k.cast("string") for k in keys])
        return (F.conv(F.substring(F.md5(joined), 1, 8), 16, 10)
                .cast("long") % 1_000_000)
    raise ValueError(f"unknown hash_fn {hash_fn!r}: 'murmur3' or 'md5'")


def deterministic_sample(df, id_col: str, fraction: float,
                         seed: int = 42, strata_col=None,
                         hash_fn: str = "murmur3"):
    """Deterministic hash sampling: keep a row iff
    ``sample_bucket(id, [stratum,] seed) < fraction*1e6`` — reproducible
    across runs/partitionings (unlike ``df.sample``, whose output depends
    on partition layout), cheap (no shuffle, pushes past scans), and
    composable: the same (seed, fraction) always selects a superset of a
    smaller fraction, so train/holdout splits stay stable as the corpus
    grows. With ``strata_col``, the rate applies per stratum key by
    salting the hash with it (per-stratum rates stay ≈fraction
    regardless of skew). ``hash_fn='md5'`` trades hash speed for
    engine-portable bucket values (cross-system reproducibility — e.g.
    selecting the identical sample from a DuckDB/Trino mirror).
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    cols = [F.col(id_col), F.lit(seed)]
    if strata_col is not None:
        cols.insert(1, F.col(strata_col))
    bucket = sample_bucket(cols, hash_fn)
    return df.filter(bucket < int(fraction * 1_000_000))


def corpus_filter(df, text_col: str,
                  min_tokens: int = 10, max_tokens: int = 100_000,
                  max_punct_ratio: float = 0.3,
                  min_quality: float = 0.3,
                  allowed_langs: list[str] | None = None,
                  max_token_dup_ratio: float | None = None,
                  max_line_dup_ratio: float | None = None):
    """One-pass quality gate with drop-reason observability: adds
    ``drop_reason`` (NULL = kept; else the FIRST failing rule, checked in
    a fixed order) so rejected volume is attributable — a filter that
    silently deletes 40% of a crawl is undebuggable at 100 TB.

    ``max_token_dup_ratio`` / ``max_line_dup_ratio`` (off by default)
    add the Gopher-style repetition rules (Rae et al. 2021 §A1.1):
    docs whose token- or line-repetition fraction exceeds the ceiling
    drop as 'repetitive_tokens' / 'repetitive_lines' — the
    keyword-stuffing / repeated-boilerplate spam that length and
    punctuation rules miss and that intra-doc repetition is known to
    hurt LM training on.

    All rules evaluate over one scan with the token array STAGED once
    (`__toks` projection + the `_t` metric forms — lambda expressions
    are outside codegen CSE, so sharing the split is an explicit stage,
    not an optimizer freebie). ``corpus_filter_stats`` aggregates the
    reasons; ``.filter(drop_reason IS NULL)`` is the keep path.
    """
    t = F.col(text_col)
    toks = F.col("__toks")
    n_tok = token_count_t(toks)
    checks = [
        ("empty", t.isNull() | (F.trim(t) == "")),
        ("too_short", n_tok < min_tokens),
        ("too_long", n_tok > max_tokens),
        ("punct_heavy", punct_ratio(t) > max_punct_ratio),
        ("low_quality", quality_score_t(t, toks) < min_quality),
    ]
    if max_token_dup_ratio is not None:
        checks.append(("repetitive_tokens",
                       token_dup_ratio_t(toks) > max_token_dup_ratio))
    if max_line_dup_ratio is not None:
        checks.append(("repetitive_lines",
                       line_dup_ratio(t) > max_line_dup_ratio))
    if allowed_langs is not None:
        checks.append(("lang", ~lang_id_t(toks).isin(*allowed_langs)))
    reason = F.lit(None).cast("string")
    for name, cond in reversed(checks):
        reason = F.when(cond, name).otherwise(reason)
    return (df.withColumn("__toks", tokens(t))
            .withColumn("drop_reason", reason)
            .drop("__toks"))


def corpus_filter_stats(filtered) -> "DataFrame":
    """(drop_reason, n_docs) rollup of a ``corpus_filter`` output —
    NULL reason row = kept count. One groupBy on a low-cardinality key."""
    return (filtered.groupBy("drop_reason")
            .agg(F.count(F.lit(1)).alias("n_docs")))


def chunk_documents(df, text_col: str, id_col: str,
                    chunk_tokens: int = 512, overlap: int = 64):
    """Sliding-window chunking → ``(id_col, chunk_idx, chunk_text,
    n_chunk_tokens)`` — the embedding/RAG prep step that splits long
    documents into fixed-size token windows with ``overlap`` tokens of
    context carried across boundaries.

    Chunk i covers tokens ``[i·step, i·step + chunk_tokens)`` with
    ``step = chunk_tokens − overlap``; a doc yields
    ``ceil((n − overlap) / step)`` chunks (one when it fits, zero when
    empty). Deterministic and shuffle-free: one staged tokenization, one
    ``posexplode`` — output size scales with input tokens, not doc
    count², and chunks of one doc stay in its partition (downstream
    embedding UDFs see collocated batches).
    """
    if overlap >= chunk_tokens:
        raise ValueError(
            f"overlap ({overlap}) must be smaller than chunk_tokens "
            f"({chunk_tokens}) or the window never advances")
    step = chunk_tokens - overlap
    toks = F.col("__toks")
    n = F.size(toks)
    n_chunks = F.when(n <= 0, F.lit(0)).otherwise(
        F.ceil((n - F.lit(overlap)).cast("double") / step).cast("int"))
    n_chunks = F.greatest(n_chunks, F.when(n > 0, F.lit(1))
                          .otherwise(F.lit(0)))
    idx = F.when(n_chunks > 0,
                 F.sequence(F.lit(0), n_chunks - 1)).otherwise(F.array())
    chunk = F.slice(toks, F.col("chunk_idx") * step + 1, chunk_tokens)
    return (df
            .withColumn("__toks", tokens(F.col(text_col)))
            .select(F.col(id_col), F.explode(idx).alias("chunk_idx"),
                    F.col("__toks"))
            .select(F.col(id_col), "chunk_idx",
                    F.array_join(chunk, " ").alias("chunk_text"),
                    F.size(chunk).alias("n_chunk_tokens")))


def vocab_agg(df, text_col: str):
    """The UNfiltered, UNordered vocabulary aggregate
    ``(token, n_occurrences, n_docs)`` — one tokenize/explode pass +
    one partial-aggregated shuffle. Split out of ``vocab_counts`` so a
    fold with several vocabulary consumers (frequency table, Zipf fit,
    CMS build) can stage THIS frame once (it is vocabulary-sized, never
    corpus-sized) instead of each consumer re-tokenizing the corpus."""
    docs = df.select(F.monotonically_increasing_id().alias("__row"),
                     tokens(F.col(text_col)).alias("__t"))
    toks = docs.select("__row", F.explode("__t").alias("token"))
    return (toks.groupBy("token")
            .agg(F.count(F.lit(1)).alias("n_occurrences"),
                 F.countDistinct("__row").alias("n_docs")))


def vocab_counts(df, text_col: str, min_count: int = 1,
                 top_k: int | None = None, agg=None):
    """Corpus vocabulary: ``(token, n_occurrences, n_docs)`` ordered by
    frequency (ties: token asc). The tokenizer-training / frequency-prune
    staple. Scale: explode → partial-aggregated groupBy on the token (one
    shuffle; hot tokens like 'the' are ONE reducer row thanks to map-side
    combine, so no skew blowup); ``top_k`` cuts with orderBy().limit()
    (distributed TakeOrdered, no global sort materialized). ``agg``
    accepts a pre-built (possibly staged) ``vocab_agg`` frame so
    multi-consumer folds share one tokenization pass."""
    out = ((agg if agg is not None else vocab_agg(df, text_col))
           .filter(F.col("n_occurrences") >= min_count)
           .orderBy(F.desc("n_occurrences"), F.asc("token")))
    return out.limit(top_k) if top_k else out


def ngram_counts(df, text_col: str, n: int = 2, min_count: int = 1,
                 id_col: str | None = None):
    """Word n-gram occurrence counts — the n-gram-LM / collocation
    statistic. Unlike the dedup shingles (``word_ngrams``, which
    DISTINCTs per doc), every occurrence counts here. Same scale shape
    as ``vocab_counts``: explode + one partial-aggregated shuffle.
    With ``id_col`` the document frequency (``n_docs``) is aggregated
    alongside (countDistinct adds a partial-dedup pass on the same
    shuffle, no extra exchange).

    Gram construction is n−1 chained ``zip_with``s over shifted slices
    (gram i = toks[i] ⧺ ' ' ⧺ toks[i+1] ⧺ …) — n array allocations per
    ROW. The transform(sequence, slice+array_join) form it replaces
    allocated an index array plus a slice array and a join buffer per
    ELEMENT; measured at sf0.1 the bigram explode alone dropped
    5.5 s → 0.5 s (identical output, exceptAll-checked both ways)."""
    toks = tokens(F.col(text_col))
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    grams = F.slice(toks, 1, m)
    for j in range(1, n):
        grams = F.zip_with(grams, F.slice(toks, j + 1, m),
                           lambda a, b: F.concat_ws(" ", a, b))
    keep = [F.col(id_col)] if id_col else []
    aggs = [F.count(F.lit(1)).alias("n_occurrences")]
    if id_col:
        aggs.append(F.countDistinct(id_col).alias("n_docs"))
    return (df.select(*keep, F.explode(grams).alias("ngram"))
            .groupBy("ngram")
            .agg(*aggs)
            .filter(F.col("n_occurrences") >= min_count)
            .orderBy(F.desc("n_occurrences"), F.asc("ngram")))


def zipf_fit(vocab, count_col: str = "n_occurrences",
             token_col: str = "token", top_n: int = 200):
    """Zipf-law fit over a vocabulary frame (``vocab_counts`` output):
    least-squares slope of ln(frequency) against ln(rank) over the top
    ``top_n`` tokens → one row ``(n_ranks, alpha, r2)`` with
    ``alpha = −slope`` (natural language sits near 1; a distribution
    drifting toward 0 means the head is flattening — templated/spam
    text, a broken tokenizer, or synthetic filler — so this is the
    one-scalar corpus-health probe to watch per ingest batch).

    Deterministic: ranking is (count DESC, token ASC) — the
    ``vocab_counts`` tie rule — cut with orderBy().limit (TakeOrdered)
    BEFORE the rank window, so the window input is ``top_n`` rows,
    never the vocabulary. All five regression sums accumulate in exact
    decimal over 1e-12-grid terms; the closed-form slope/r² then
    compute in doubles from those sums (engine-replayable —
    ``vocab_ngram_counts`` kind='zipf'). alpha/r² are NULL when
    degenerate (fewer than 2 ranks — zero x-variance); a flat count
    distribution fits alpha 0 with r² ≈ 0 (FP residue keeps the
    y-variance from an exact zero, and 0 — "no relationship" — is the
    honest answer there anyway)."""
    if top_n < 2:
        raise ValueError(f"top_n must be >= 2, got {top_n}")
    from pyspark.sql.window import Window

    top = (vocab.orderBy(F.desc(count_col), F.asc(token_col))
           .limit(top_n))
    w = Window.orderBy(F.desc(count_col), F.asc(token_col))
    ranked = top.withColumn("__r", F.row_number().over(w))
    x = F.log(F.col("__r").cast("double"))
    y = F.log(F.col(count_col).cast("double"))

    def dsum(expr):
        return F.sum(F.round(expr, 12).cast("decimal(38,12)"))

    agg = ranked.agg(
        F.count(F.lit(1)).alias("n_ranks"),
        dsum(x).alias("sx"), dsum(y).alias("sy"),
        dsum(x * y).alias("sxy"), dsum(x * x).alias("sxx"),
        dsum(y * y).alias("syy"))
    n = F.col("n_ranks").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    num = n * F.col("sxy").cast("double") - sx * sy
    dx = n * F.col("sxx").cast("double") - sx * sx
    dy = n * F.col("syy").cast("double") - sy * sy
    return agg.select(
        "n_ranks",
        F.when(dx > 0, F.round(-(num / dx), 6)).alias("alpha"),
        F.when((dx > 0) & (dy > 0),
               F.round(num * num / (dx * dy), 6)).alias("r2"))


def unigram_kl(df, text_col: str, stratum_col: str, alpha: float = 1.0):
    """Per-stratum distribution shift: KL(stratum ‖ corpus) over the
    smoothed unigram token distributions — the audit that tells a
    mixture pipeline WHICH slice of a new crawl is most out of
    distribution relative to the blend it feeds (the quantity DSIR's
    importance ratios optimize per-document, here rolled up as one
    scalar per stratum: 0 ≈ indistinguishable, growing as the slice
    diverges). → ``(stratum, n_tokens, kl)``.

    Both distributions are add-``alpha`` smoothed over the CORPUS
    vocabulary V (every stratum's tokens are a subset, so support is
    shared and the divergence is finite and ≥ 0):
    ``p_t = (c_p + α)/(N_p + αV)``, ``q_t = (c_q + α)/(N_q + αV)``,
    ``KL = Σ_V p_t · ln(p_t/q_t)``. NULL-stratum rows are excluded
    (no distribution to attribute them to).

    Scale shape: ONE exploded token scan builds the finest aggregate —
    per-(stratum, token) counts, vocabulary × strata rows at most —
    which is staged (``staging.stage``, released with the caller's
    staging scope) and re-aggregated for the corpus term counts,
    stratum totals and grand totals; the corpus is tokenized exactly
    once however many of the four frames the grid consumes (the
    pre-r11 form re-derived the exploded scan for each aggregate —
    three corpus passes). The summation grid is vocabulary × strata —
    bounded by VOCABULARY size, never corpus size — with the tiny
    strata/totals frames broadcast. Per-term contributions are
    pre-rounded to the 1e-12 grid and accumulated in exact decimal, so
    the scalar is order-independent and DuckDB-replayable
    (``vocab_ngram_counts`` kind='kl')."""
    if alpha <= 0:
        raise ValueError(f"alpha must be > 0, got {alpha}")
    from .staging import stage

    tok = (df.filter(F.col(stratum_col).isNotNull())
           .select(F.col(stratum_col).alias("stratum"),
                   F.explode(tokens(F.col(text_col))).alias("token")))
    sc = stage(tok.groupBy("stratum", "token")
               .agg(F.count(F.lit(1)).alias("c_p")))
    corpus = sc.groupBy("token").agg(F.sum("c_p").alias("c_q"))
    totals = corpus.agg(F.sum("c_q").alias("n_q"),
                        F.count(F.lit(1)).alias("v"))
    strata = sc.groupBy("stratum").agg(F.sum("c_p").alias("n_p"))
    grid = (corpus.crossJoin(F.broadcast(strata))
            .join(sc, ["stratum", "token"], "left")
            .crossJoin(F.broadcast(totals)))
    a = F.lit(float(alpha))
    av = a * F.col("v").cast("double")
    p = (F.coalesce(F.col("c_p"), F.lit(0)).cast("double") + a) \
        / (F.col("n_p").cast("double") + av)
    q = (F.col("c_q").cast("double") + a) \
        / (F.col("n_q").cast("double") + av)
    contrib = F.round(p * F.log(p / q), 12).cast("decimal(38,12)")
    return (grid.groupBy("stratum", "n_p")
            .agg(F.round(F.sum(contrib).cast("double"), 9).alias("kl"))
            .select("stratum", F.col("n_p").alias("n_tokens"), "kl"))


def mixture_sample(df, stratum_col: str, weights: dict[str, float],
                   id_col: str, budget: int,
                   token_count_col: str | None = None, seed: int = 42,
                   hash_fn: str = "murmur3", unknown: str = "drop"):
    """Build a training-data MIXTURE: downsample each stratum (source,
    language, domain…) so the kept corpus approaches ``budget`` total
    tokens (or rows when ``token_count_col`` is None) in the target
    composition ``weights`` — the "X% web, Y% code, Z% books" recipe
    every pretraining run specifies.

    Per stratum ``s``: target = ``weights[s] * budget``; the keep
    fraction is ``min(1, target / available)`` applied as the same
    superset-stable hash rule as ``deterministic_sample`` (rows, not
    token-exact — the error is one doc per stratum boundary, negligible
    against a token budget). An UNDER-supplied stratum keeps everything
    (fraction capped at 1) and the realized mixture shifts — read the
    returned report. ``unknown``: strata present in the data but absent
    from ``weights`` are ``'drop'``-ed (default) or ``'error'`` the job.

    Returns ``(sampled, report)``: the filtered frame, and one report
    row per stratum — ``(stratum, available, target, fraction, kept)``
    — the observability layer (a mixture that silently misses its
    recipe is undebuggable).

    Scale: ONE partial-aggregated groupBy over the stratum key computes
    availability; the K per-stratum fractions (K = len(weights), tiny by
    construction) come to the driver and return as a broadcast-joined
    literal map — the sample filter itself is shuffle-free and prunes at
    the scan. Deterministic at any parallelism; same (seed, hash_fn)
    keeps nested budgets supersets of each other.
    """
    if unknown not in ("drop", "error"):
        raise ValueError(f"unknown must be 'drop' or 'error', "
                         f"got {unknown!r}")
    if not weights:
        raise ValueError("mixture_sample needs at least one stratum "
                         "weight; got an empty dict")
    bad = {s: w for s, w in weights.items() if w < 0}
    if bad:
        raise ValueError(f"negative weights: {bad}")
    tot_w = sum(weights.values())
    if tot_w <= 0:
        raise ValueError("weights must sum to a positive value")
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")

    unit = (F.col(token_count_col).cast("double") if token_count_col
            else F.lit(1.0))
    avail = {r["s"]: r["avail"] for r in
             (df.groupBy(F.col(stratum_col).alias("s"))
              .agg(F.sum(unit).alias("avail")).collect())}

    extra = set(avail) - set(weights)
    if extra and unknown == "error":
        # key=str: a NULL stratum (None) must land in the error message,
        # not blow up the sort that builds it
        raise ValueError("strata without a weight: "
                         f"{sorted(extra, key=str)}; "
                         "add weights or pass unknown='drop'")

    plan_rows = []
    fractions: dict = {}
    for s, w in weights.items():
        target = (w / tot_w) * budget
        a = avail.get(s, 0.0) or 0.0
        frac = 1.0 if a <= 0 else min(1.0, target / a)
        fractions[s] = frac
        plan_rows.append((s, float(a), float(target), float(frac)))

    bucket = sample_bucket([F.col(id_col), F.col(stratum_col),
                            F.lit(seed)], hash_fn)
    frac_map = F.create_map(*[x for s, f in fractions.items()
                              for x in (F.lit(s), F.lit(f))])
    keep = bucket < (F.element_at(frac_map, F.col(stratum_col))
                     * 1_000_000).cast("long")
    sampled = df.filter(keep.isNotNull() & keep)

    spark = df.sparkSession
    plan = spark.createDataFrame(
        plan_rows, "stratum string, available double, target double, "
                   "fraction double")
    kept = (sampled.groupBy(F.col(stratum_col).alias("stratum"))
            .agg(F.sum(unit).alias("kept")))
    report = plan.join(kept, "stratum", "left") \
        .withColumn("kept", F.coalesce("kept", F.lit(0.0)))
    return sampled, report


def weighted_sample(df, weight_col: str, k: int, id_col: str,
                    seed: int = 42, hash_fn: str = "murmur3"):
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis & Spirakis 2006): keep the ``k`` rows with the largest
    ``ln(u) / w`` where ``u ∈ (0, 1]`` derives from the seeded content
    hash and ``w`` is the row's weight — each row's inclusion
    probability scales with its weight (the quality-weighted
    subsample: keep 1M docs, prefer the well-scored ones, still give
    the tail a chance — where a hard top-k-by-score would take ONLY
    the head and a uniform sample ignores quality entirely).

    Deterministic by construction: ``u`` comes from
    ``sample_bucket(id, seed)`` (``hash_fn='md5'`` for the
    engine-portable form the driver oracle replays), so the selected
    SET is a pure function of (data, seed, k) — reproducible across
    runs, partitionings and engines, re-drawn by bumping ``seed``. The
    key is rounded to 1e-6 with an ``id_col`` tie-break (the DSIR ln
    discipline — cross-engine libm may differ in the last ulp; the
    grid + tie-break make the kept set exact anyway).

    Rows with NULL or non-positive weight are EXCLUDED (a weight of 0
    means "never sample"; negative weights have no E-S meaning —
    validate upstream if they indicate a bug).

    Scale: pure projection + ``orderBy().limit(k)`` — Spark lowers it
    to TakeOrderedAndProject (per-partition top-k, driver merge of k
    rows per partition), no global sort shuffle. For k large enough
    that k×partitions strains the driver, pre-thin with
    ``deterministic_sample`` first or raise partition size."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    w = F.col(weight_col)
    u = (sample_bucket([F.col(id_col), F.lit(seed)], hash_fn)
         + F.lit(1)) / F.lit(1_000_000.0)
    key = F.round(F.log(u) / w, 6)
    return (df.filter(w.isNotNull() & (w > 0))
            .withColumn("__es_key", key)
            .orderBy(F.desc("__es_key"), F.asc(id_col))
            .limit(k)
            .drop("__es_key"))


def weighted_sample_per_key(df, key_cols: list[str], weight_col: str,
                            n: int, id_col: str, seed: int = 42,
                            hash_fn: str = "murmur3",
                            salt_buckets: int = 64):
    """Per-key Efraimidis–Spirakis weighted sampling without
    replacement: keep the ``n`` rows per key with the largest
    ``ln(u)/w`` — the SOFT domain cap. ``cap_per_key`` keeps a hard
    deterministic top-n (content-hash random or strict keep-best);
    this keeps a quality-BIASED random ``n`` per domain/lang: a
    domain's best docs are likelier to survive, its tail keeps
    probability mass, and the kept set is still a pure function of
    (data, seed, n) — reproducible, re-drawn by seed bump
    (Efraimidis & Spirakis 2006, same key family as
    ``weighted_sample``; ``hash_fn='md5'`` for the engine-portable
    form the driver oracle replays).

    NULL / non-positive weights are EXCLUDED (w=0 = "never sample"),
    matching ``weighted_sample``. Ties on the 1e-6-rounded key break
    by ``id_col`` ascending — fully replayable cross-engine.

    Scale shape: rides ``cap_per_key``'s two-level salted top-n, so a
    10⁹-row hot domain fans out over ``salt_buckets`` tasks — the same
    skew-safety the hard cap has; the E-S order struct is unique per
    row (id tie-break inside), so the content-hash fallback never
    decides membership."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    w = F.col(weight_col)
    u = (sample_bucket([F.col(id_col), F.lit(seed)], hash_fn)
         + F.lit(1)) / F.lit(1_000_000.0)
    es = F.round(F.log(u) / w, 6)
    # ascending struct order == (es DESC, id ASC): E-S keeps LARGEST keys
    ordered = (df.filter(w.isNotNull() & (w > 0))
               .withColumn("__es_ord",
                           F.struct((-es).alias("nk"),
                                    F.col(id_col).alias("i"))))
    return cap_per_key(ordered, key_cols, n, order_col="__es_ord",
                       seed=seed,
                       salt_buckets=salt_buckets).drop("__es_ord")


def cap_per_key(df, key_cols: list[str], n: int,
                order_col: str | None = None, seed: int = 42,
                salt_buckets: int = 64):
    """Keep at most ``n`` rows per key — the "≤ N documents per domain"
    anti-over-representation guard (a handful of boilerplate-heavy hosts
    otherwise dominates a crawl corpus).

    Deterministic: rows rank within their key by ``order_col`` ascending
    when given (keep-the-best: pass a prepared column, e.g. a negated
    quality score), else by a seeded murmur3 hash over EVERY column —
    a stable pseudo-random choice that depends only on row content, not
    partition layout (full-duplicate rows tie, but they are
    interchangeable). The content hash also breaks ``order_col`` TIES,
    so equal scores don't make the kept set partition-layout-dependent.

    Skew-safe by construction (two-level salted top-n): the cap's
    primary target IS the pathological 10⁹-row host, so a single window
    partitioned on the raw key — one task per key — would serialize
    exactly the key the cap exists to tame. Instead:

    1. Every row gets a content-derived salt in ``[0, salt_buckets)``
       (seeded murmur3 — layout-independent, so the subgroup a row
       lands in is stable across runs/partitionings). Level 1 ranks
       within ``(key, salt)`` and keeps top ``n`` per subgroup: the hot
       key fans out over ``salt_buckets`` parallel tasks instead of 1.
    2. Level 2 ranks the ≤ ``salt_buckets·n`` survivors per key and
       keeps the true top ``n``.

    EXACT, not approximate: each of a key's true top-``n`` rows is top-n
    within its own subgroup (a subgroup is a subset of the key), so
    level 1 never drops a final keeper; keys with ≤ ``n`` rows pass
    level 1 whole and level 2 keeps them all — the kept SET is
    identical to a single global ranking (membership-checksum oracles
    pin this).

    Regime, stated honestly (measured in ``scripts/scale_probe.py``):
    Spark's WindowGroupLimit PARTIAL pruning already caps what each
    map task ships per group at ``n`` rows, so the raw-key window's
    single hot reducer receives ``min(hot_rows, n·M)`` (M = map-task
    count). Salting divides that by up to ``salt_buckets`` and it pays
    off when ``M >> salt_buckets`` — every real cluster (M ~ 10⁵–10⁶
    scan tasks over 100 TB vs S=64; probe at M=512 measures ~3×). When
    ``M <= salt_buckets`` (a local[32] micro-job) the second shuffle
    is pure overhead — pass ``salt_buckets=1`` there, or size it so
    the level-2 bound ``salt_buckets·n`` stays well under ``n·M``
    (64 default; 1024 at full-crawl scale).
    """
    if not key_cols:
        raise ValueError("cap_per_key needs at least one key column")
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if salt_buckets < 1:
        raise ValueError(f"salt_buckets must be >= 1, got {salt_buckets}")
    from pyspark.sql.window import Window

    from ..session import contains_map_type

    # maps are unhashable (F.hash raises on MapType at any nesting
    # depth); rows differing ONLY in map columns tie — interchangeable
    # enough for a pseudo-random keep choice
    hashable = [f.name for f in df.schema
                if not contains_map_type(f.dataType)]
    content = F.hash(*[F.col(c) for c in hashable], F.lit(seed)).asc()
    order = ([F.col(order_col).asc_nulls_last(), content] if order_col
             else [content])
    w2 = Window.partitionBy(*key_cols).orderBy(*order)
    if salt_buckets > 1:
        # independent seed so the salt doesn't alias the order hash
        salt = F.pmod(F.hash(*[F.col(c) for c in hashable],
                             F.lit(seed + 0x5a17)), F.lit(salt_buckets))
        w1 = Window.partitionBy(*key_cols, "__salt").orderBy(*order)
        df = (df.withColumn("__salt", salt)
              .withColumn("__rn1", F.row_number().over(w1))
              .filter(F.col("__rn1") <= n).drop("__rn1"))
    out = (df.withColumn("__rn", F.row_number().over(w2))
           .filter(F.col("__rn") <= n).drop("__rn"))
    return out.drop("__salt") if salt_buckets > 1 else out


def temperature_weights(counts: dict[str, float],
                        alpha: float = 0.3) -> dict[str, float]:
    """Temperature-scaled mixture weights (the mT5 rule, Xue et al.
    2021 §3.1): weight_s ∝ count_s^alpha, normalized to sum 1 — feeds
    ``mixture_sample``'s ``weights``.

    ``alpha=1`` reproduces the natural (size-proportional) mix;
    ``alpha→0`` flattens toward uniform; mT5 shipped 0.3. This is the
    knob that keeps a 100× bigger English slice from drowning the
    tails without hand-tuning per-language numbers. Counts usually
    come from one availability aggregate
    (``df.groupBy(stratum).count()`` collected — K rows, bounded) or
    the ``mixture_sample`` report of a previous run."""
    if not counts:
        raise ValueError("empty counts")
    if alpha < 0:
        raise ValueError(f"alpha must be >= 0, got {alpha}")
    if any(c <= 0 for c in counts.values()):
        raise ValueError("counts must be positive")
    raw = {k: float(c) ** alpha for k, c in counts.items()}
    total = sum(raw.values())
    return {k: v / total for k, v in raw.items()}
