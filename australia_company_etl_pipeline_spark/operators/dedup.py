"""Deduplication operators for training-data pipelines.

Beyond the reference's key-dedup (A4, ``dropDuplicates``), these are the
large-corpus near-dup operators a 100 TB text pipeline needs. Scale design:

- ``exact_dedup``        — hash-groupBy; one shuffle on a 128-bit digest.
- ``minhash_*``          — MinHash+LSH: shingle → signature → band-bucket
  join. The scale path: candidate generation is an equi-join on
  (band, band_hash), never an O(n²) comparison. This generalizes the
  reference's 4-char blocking key (M7) to similarity-preserving hashing.
- ``ngram_jaccard_pairs``— exact pairwise Jaccard; the correctness baseline
  for LSH recall, quadratic per block — keep blocked or small.
- ``simhash``            — 64-bit near-dup fingerprint; hamming-ball pairs.
- ``embedding_dup_pairs``— cosine near-dup over embedding columns.
- ``cross_corpus_dup_pairs`` / ``decontaminate`` — benchmark-leak removal
  (test-set contamination): MinHash candidates paired only ACROSS
  corpus×benchmark, exact-verified.

All pure DataFrame/Catalyst expressions — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .staging import scope, stage

# Only an alias: the benchmark harness (perfbench/harness.py) imports it.
from .staging import release as unpersist_shingles  # noqa: F401

HASH_PRIME = 1_000_000_007


def content_key(cols: list[Column]) -> Column:
    """128-bit content digest (md5 hex) over concatenated columns."""
    return F.md5(F.concat_ws("\x1f", *cols))


def exact_dedup(df: DataFrame, cols: list[str], id_col: str) -> DataFrame:
    """Exact dedup: keep the lowest-id row per content hash.

    One shuffle on the digest; survives any scale the groupBy does.
    """
    win = Window.partitionBy(content_key([F.col(c) for c in cols])).orderBy(
        F.col(id_col).asc())
    return (df.withColumn("__rn", F.row_number().over(win))
            .filter(F.col("__rn") == 1).drop("__rn"))


def duplicate_rate_estimate(df: DataFrame, cols: list[str],
                            rsd: float = 0.02) -> DataFrame:
    """One-scan exact-duplicate-rate ESTIMATE — the planning probe you
    run on 100 TB before committing to a dedup campaign: a full
    ``exact_dedup`` pays a corpus-wide shuffle to learn what this
    answers with a shuffle-free sketch aggregate (HLL++
    ``approx_count_distinct`` over the content digest, relative error
    ``rsd``).

    Returns one row ``(n_rows, approx_distinct, dup_rate_est)`` with
    ``dup_rate_est = 1 − distinct/rows`` clamped at 0 (the sketch can
    overcount slightly on dup-free data). Reading the estimate: ~0 →
    skip the exact pass entirely; high → size the dedup job's shuffle
    partitions to the DISTINCT count, not the row count, and expect
    the digest groupBy's map-side combine to collapse most input."""
    if not 0.0 < rsd < 1.0:
        raise ValueError(f"rsd must be in (0, 1), got {rsd}")
    key = content_key([F.col(c) for c in cols])
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.approx_count_distinct(key, rsd).alias("approx_distinct")
    ).select(
        "n_rows", "approx_distinct",
        # explicit empty-input NULL: greatest() IGNORES nulls, so the
        # clamp alone would turn 1 − x/NULL into a misleading 0.0
        F.when(F.col("n_rows") > 0, F.greatest(
            F.lit(0.0),
            F.round(F.lit(1.0) - F.col("approx_distinct").cast("double")
                    / F.col("n_rows").cast("double"), 6)))
        .alias("dup_rate_est"))


def tokens(text: Column) -> Column:
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")


def word_ngrams_t(toks: Column, n: int) -> Column:
    """Distinct word n-gram shingles from a pre-split token array —
    the form callers staging one tokenization across several sketch
    families use (``token_frame``); ``word_ngrams`` is the from-text
    convenience wrapper."""
    return F.array_distinct(F.when(
        F.size(toks) >= n,
        F.transform(F.sequence(F.lit(0), F.size(toks) - n),
                    lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
    ).otherwise(F.array(F.array_join(toks, " "))))


def word_ngrams(text: Column, n: int) -> Column:
    """Distinct word n-gram shingles of the lowercased text."""
    return word_ngrams_t(tokens(text), n)


def jaccard_arrays(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def ngram_jaccard_pairs(df: DataFrame, text_col: str, id_col: str,
                        n: int = 3, threshold: float = 0.8,
                        block_col: str | None = None,
                        max_unblocked_rows: int = 100_000) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (id_a < id_b, sim ≥ threshold).

    This is the quadratic correctness baseline. Unblocked it is O(n²)
    candidate pairs, so it refuses to run on more than
    ``max_unblocked_rows`` rows (one cheap count up front) — at corpus
    scale either pass ``block_col`` (pairs are generated only within
    equal block values, an equi-join like the LSH band join) or use
    ``minhash_dup_pairs``, whose LSH candidates this measure verifies.
    Pass ``max_unblocked_rows=None`` to explicitly waive the guard.
    """
    cols = [F.col(id_col), word_ngrams(F.col(text_col), n).alias("__sh")]
    if block_col is not None:
        sh = df.select(*cols, F.col(block_col).alias("__blk"))
        a, b = sh.alias("a"), sh.alias("b")
        cond = (F.col("a.__blk") == F.col("b.__blk")) & \
               (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    else:
        if max_unblocked_rows is not None:
            n_rows = df.count()
            if n_rows > max_unblocked_rows:
                raise ValueError(
                    f"ngram_jaccard_pairs without block_col is O(n²) and "
                    f"got {n_rows} rows (> {max_unblocked_rows}); pass "
                    f"block_col=, use minhash_dup_pairs, or waive with "
                    f"max_unblocked_rows=None")
        sh = df.select(*cols)
        a, b = sh.alias("a"), sh.alias("b")
        cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    pairs = a.join(b, cond, "inner")
    # one block value per row → a pair can appear at most once; no distinct
    return (pairs
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"),
                    F.round(jaccard_arrays(F.col("a.__sh"), F.col("b.__sh")),
                            6).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def jaccard_similarity_join(sh: DataFrame, id_col: str,
                            threshold: float = 0.8,
                            shingle_col: str = "__sh") -> DataFrame:
    """EXACT all-pairs Jaccard join via prefix filtering — the published
    exact set-similarity join (Bayardo et al. 2007 "Scaling Up All
    Pairs Similarity Search"; Xiao et al. 2008 PPJoin): identical
    output to the quadratic baseline (every pair with Jaccard >=
    ``threshold``, no recall loss), at candidate cost proportional to
    genuinely-similar pairs instead of n².

    The filter: under ANY global total order on shingles, two sets with
    J(A,B) >= t must share an element within each set's first
    ``|X| - ceil(t·|X|) + 1`` elements (if A's whole intersection sat
    past its prefix, the suffix would need more than (1-t)|A| >=
    |A∩B| elements — contradiction; the shared element then sits in
    both prefixes because a prefix is a downward-closed cut of the
    order).  Ordering by GLOBAL DOCUMENT FREQUENCY ascending (ties by
    shingle text) makes the prefixes the RAREST shingles — candidate
    generation joins on low-frequency keys by construction, so the hot
    boilerplate shingle that would skew a naive shared-shingle join
    never enters a prefix.

    Output parity is against the BASELINE'S ROUNDED rule (a pair ships
    iff ``round(J, 6) >= t`` — ``ngram_jaccard_pairs``'s emit rule), so
    every internal filter runs at the widened ``t − 1e-6``: a pair
    whose true J sits just under t but ROUNDS to t (true J >= t − 5e-7)
    must still produce candidates, and the slack can only LENGTHEN
    prefixes / admit more candidates, never lose a pair the baseline
    emits.  The final filter applies the identical rounded rule.

    Input is a pre-shingled ``(id_col, shingle_col)`` frame (see
    ``shingle_frame``); arrays must be distinct-element (``word_ngrams``
    output).  Returns ``(id_a, id_b, jaccard)`` with id_a < id_b,
    rounded to the 1e-6 grid — drop-in for ``ngram_jaccard_pairs``'s
    output at any scale.

    Scale shape: ONE O(total_shingles) frequency aggregate (partial-agg
    on the shingle), a join-back, one per-doc sort of its own shingle
    list (array_sort in a projection — no window), prefix explode
    (O(total_shingles·(1-t)) rows), a self-equi-join on the rare
    prefix shingles, and the exact verify join on the candidate set.
    Every shuffle is a partial-agg or equi-join; nothing quadratic,
    nothing hot-keyed."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    # every FILTER bound runs at the widened threshold (see docstring:
    # parity is with the baseline's round-to-1e-6 emit rule, so true J
    # down to t − 5e-7 must still generate candidates; 1e-6 covers it
    # and only admits extras the final rounded filter re-judges)
    t_eff = threshold - 1e-6
    ex = sh.select(F.col(id_col), F.explode(shingle_col).alias("__g"))
    freq = ex.groupBy("__g").agg(F.count(F.lit(1)).alias("__df"))
    # per-doc shingles sorted rarest-first: re-aggregate the joined
    # (id, shingle, df) rows — a struct array_sort in a projection, so
    # no per-doc window; the prefix is a slice of that sorted list
    ranked = (ex.join(freq, "__g")
              .groupBy(id_col)
              .agg(F.array_sort(F.collect_list(
                  F.struct(F.col("__df"), F.col("__g")))).alias("__o")))
    psize = (F.size("__o")
             - F.ceil(F.lit(t_eff) * F.size("__o") - F.lit(1e-9))
             .cast("int") + F.lit(1))
    prefix = ranked.select(
        F.col(id_col), F.size("__o").alias("__n"),
        F.posexplode(F.transform(F.slice("__o", 1, psize),
                                 lambda s: s["__g"]))
        .alias("__p", "__g"))
    # length filter (Bayardo et al. §3.1): J(A,B) >= t forces
    # |A| >= t·|B| and |B| >= t·|A| (|A| >= |A∩B| >= t·|A∪B| >= t·|B|)
    # — prunes prefix-collision pairs whose SIZES already rule them out
    # before the pair aggregate and the verify join; bounds run at the
    # widened t_eff (rounded-rule parity) so they only admit, never drop.
    a, b = prefix.alias("a"), prefix.alias("b")
    lo = F.lit(t_eff) - F.lit(1e-9)
    hits = (a.join(b, (F.col("a.__g") == F.col("b.__g"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
                   & (F.col("a.__n").cast("double")
                      >= lo * F.col("b.__n").cast("double"))
                   & (F.col("b.__n").cast("double")
                      >= lo * F.col("a.__n").cast("double")),
                   "inner")
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"),
                    F.col("a.__n").alias("__na"),
                    F.col("b.__n").alias("__nb"),
                    F.col("a.__p").alias("__pa"),
                    F.col("b.__p").alias("__pb")))
    # positional filter (Xiao et al. PPJoin §3): per pair, the FIRST
    # shared element in the global order (prefixes are downward-closed
    # cuts, so it IS a prefix collision; per-doc position order matches
    # the global order, so min(struct(pa, pb)) finds it) caps the
    # achievable overlap at 1 + min(|A|−1−pa, |B|−1−pb) (0-based: only
    # it and later elements can still match). J >= t needs overlap >=
    # t·(|A|+|B|)/(1+t); pairs whose cap falls short never reach the
    # verify join. Replaces the plain distinct — same one shuffle.
    alpha = (F.lit(t_eff) / F.lit(1.0 + t_eff)
             * (F.col("__na") + F.col("__nb")).cast("double")
             - F.lit(1e-9))
    cands = (hits.groupBy("id_a", "id_b")
             .agg(F.min(F.struct(F.col("__pa"), F.col("__pb")))
                  .alias("__mp"),
                  F.min("__na").alias("__na"),
                  F.min("__nb").alias("__nb"))
             .filter((F.lit(1)
                      + F.least(F.col("__na") - 1 - F.col("__mp.__pa"),
                                F.col("__nb") - 1 - F.col("__mp.__pb"))
                      ).cast("double") >= alpha)
             .select("id_a", "id_b"))
    va = sh.select(F.col(id_col).alias("id_a"),
                   F.col(shingle_col).alias("__sa"))
    vb = sh.select(F.col(id_col).alias("id_b"),
                   F.col(shingle_col).alias("__sb"))
    return (cands.join(va, "id_a").join(vb, "id_b")
            .select("id_a", "id_b",
                    F.round(jaccard_arrays(F.col("__sa"), F.col("__sb")),
                            6).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def shingle_hashes(text: Column, shingle: int = 3) -> Column:
    """64-bit base hash per distinct shingle — the ONE string-hash pass."""
    return F.transform(word_ngrams(text, shingle), lambda g: F.xxhash64(g))


def minhash_from_hashes(h: Column, num_hashes: int = 64) -> Column:
    """MinHash signature from pre-hashed shingles: per seed, the min of a
    cheap integer re-hash (murmur3 of the 8-byte base hash + seed).

    Column-level form for small inputs/tests. Two pitfalls it avoids /
    carries: string hashing is split from the per-seed pass (a signature
    built directly over the shingle expression re-tokenizes per seed —
    higher-order functions are excluded from codegen subexpression
    elimination; measured ~35× slower at sf0.1), but each seed still
    allocates a fresh array per row. The DataFrame-level scale path
    (``_minhash_buckets`` via ``minhash_candidates_from_shingles``)
    explodes shingles into flat per-seed ``min()`` aggregates instead —
    same values, whole-stage-codegen arithmetic.
    """
    return F.array(*[
        F.array_min(F.transform(h, lambda x: F.hash(x, F.lit(seed))))
        for seed in range(num_hashes)
    ])


def minhash_signature(text: Column, num_hashes: int = 64,
                      shingle: int = 3) -> Column:
    """One-shot Column form (small inputs/tests — inlines the shingle pass
    per seed; the staged form in ``minhash_candidates`` is the scale path)."""
    return minhash_from_hashes(shingle_hashes(text, shingle), num_hashes)


def minhash_candidates(df: DataFrame, text_col: str, id_col: str,
                       num_hashes: int = 64, shingle: int = 3,
                       bands: int = 16) -> DataFrame:
    """LSH candidate pairs: equal band-slice hash in ≥1 of ``bands`` bands.

    Thin wrapper over ``minhash_candidates_from_shingles`` that computes
    the shingle projection itself; callers that also need the shingles
    (e.g. for exact verification) should build them once and call the
    ``_from_shingles`` form — see ``minhash_dup_pairs``.
    """
    sh = df.select(F.col(id_col),
                   word_ngrams(F.col(text_col), shingle).alias("__sh"))
    return minhash_candidates_from_shingles(sh, id_col, num_hashes, bands)


#: Universal-hashing modulus for the portable MinHash backend — the
#: Mersenne prime 2^31-1 keeps a*x+b inside 63 bits for any a,b,x < P.
MINHASH_P = (1 << 31) - 1

#: Seed offsets for the portable SimHash backend's two 32-bit FNV folds
#: (low/high fingerprint halves). Arbitrary but FIXED — the oracle
#: inlines them.
SIMHASH_FNV_SEED_LO = 101
SIMHASH_FNV_SEED_HI = 202


def _minhash_lcg_params(num_hashes: int,
                        seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a_k, b_k) pairs for the h_k(x) = (a·x + b) mod P
    universal hash family — same portable LCG as ``ann._planes``, so an
    oracle engine regenerates identical constants from the seed (the
    registered query inlines them as SQL literals)."""
    state, out = seed, []
    for _ in range(num_hashes):
        state = (state * 6364136223846793005
                 + 1442695040888963407) % (1 << 64)
        a = (state >> 33) % (MINHASH_P - 1) + 1
        state = (state * 6364136223846793005
                 + 1442695040888963407) % (1 << 64)
        b = (state >> 33) % MINHASH_P
        out.append((a, b))
    return out


def minhash_candidates_from_shingles(sh: DataFrame, id_col: str,
                                     num_hashes: int = 64,
                                     bands: int = 16,
                                     hash_fn: str = "native") -> DataFrame:
    """LSH candidates from a pre-shingled frame ``(id_col, __sh)``.

    The scale path: explode to (band, band_hash) buckets, self-join buckets
    — shuffle-bound candidate generation, no quadratic comparison.

    Signature build: shingles are EXPLODED and the per-seed minima become
    ``num_hashes`` flat ``min()`` aggregate columns — whole-stage-codegen
    arithmetic with map-side partial aggregation, instead of per-seed
    array transforms (higher-order-function lambdas allocate a fresh
    array per seed per row and are excluded from codegen subexpression
    elimination; the flat form measured ~2× faster at sf0.1). The shuffle
    carries one row per (id, shingle), reduced to one row per id by the
    partial min.

    ``hash_fn``: ``'native'`` (default, xxhash64 + murmur3 — fastest)
    or ``'portable'`` (FNV-1a shingle hash + (a·x+b) mod P universal
    family + polynomial band fold, every constant regenerable from the
    seed in any SQL engine — how the driver oracle value-checks the
    whole signature→banding→bucket-join pipeline; see
    ``plans/dedup.py``). Same plan shape either way.
    """
    buckets = _minhash_buckets(sh, id_col, [], num_hashes, bands, hash_fn)
    a, b = buckets.alias("a"), buckets.alias("b")
    return (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bh") == F.col("b.bh"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")), "inner")
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"))
            .distinct())


def _band_fold(cols: list, p: int = MINHASH_P):
    """Polynomial fold of signature columns into one band hash —
    acc = (acc·31 + s) mod p from acc=17 — expressible identically in
    any SQL engine (the portable alternative to murmur3-of-concat)."""
    acc = F.lit(17).cast("long")
    for c in cols:
        acc = F.pmod(acc * F.lit(31) + c, F.lit(p))
    return acc


def _minhash_buckets(sh: DataFrame, id_col: str, extra_cols: list[str],
                     num_hashes: int, bands: int,
                     hash_fn: str = "native") -> DataFrame:
    """Pre-shingled ``(id_col, *extra_cols, __sh)`` → LSH band buckets
    ``(id_col, *extra_cols, band, bh)`` via the explode-aggregate
    signature build described in ``minhash_candidates_from_shingles``
    (which also documents the ``hash_fn`` backends — same plan shape,
    different hash expressions)."""
    rows_per_band = num_hashes // bands
    keep = [F.col(id_col), *[F.col(c) for c in extra_cols]]
    exploded = sh.select(*keep, F.explode("__sh").alias("__g"))
    # signature + band expressions rendered as SQL text, one parse each
    # (r11): the Column-object loops cost ~700 py4j round-trips per
    # call — pure driver build latency. Identical min/hash/pmod
    # arithmetic comes back from the parser.
    if hash_fn == "native":
        hashed = exploded.select(*keep, F.xxhash64("__g").alias("__h"))
        sigs = [F.expr(f"min(hash(__h, {s})) AS __m{s}")
                for s in range(num_hashes)]

        def band_hash(b):
            cols = ", ".join(
                f"CAST(__m{i} AS STRING)"
                for i in range(b * rows_per_band, (b + 1) * rows_per_band))
            return f"hash(concat_ws(',', {cols}))"
    elif hash_fn == "portable":
        from .embed import fnv1a32

        params = _minhash_lcg_params(num_hashes)
        hashed = exploded.select(
            *keep, F.pmod(fnv1a32(F.col("__g")),
                          F.lit(MINHASH_P)).alias("__h"))
        sigs = [F.expr(f"min(pmod(__h * {a} + {b}, {MINHASH_P})) "
                       f"AS __m{s}")
                for s, (a, b) in enumerate(params)]

        def band_hash(b):
            acc = "CAST(17 AS BIGINT)"
            for i in range(b * rows_per_band, (b + 1) * rows_per_band):
                acc = f"pmod({acc} * 31 + __m{i}, {MINHASH_P})"
            return acc
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}: "
                         "use 'native' or 'portable'")
    sig = hashed.groupBy(id_col, *extra_cols).agg(*sigs)
    structs = ", ".join(
        f"struct({b} AS band, {band_hash(b)} AS bh)"
        for b in range(bands))
    banded = sig.select(
        *keep,
        F.expr(f"explode(array({structs}))").alias("bucket"))
    return banded.select(*keep, "bucket.band", "bucket.bh")


def token_frame(df: DataFrame, text_col: str, id_col: str,
                persist: bool = True, storage_level=None) -> DataFrame:
    """``(id_col, __toks)`` token projection — the SPLIT is the shared
    prefix of every text sketch family (minhash shingles, simhash
    votes, n-gram verify), so callers running several families over one
    corpus stage it once and pass it to ``shingle_frame(tokens_df=)`` /
    ``simhash_table(tokens_df=)``: each family then reads the cached
    arrays instead of re-scanning the source and re-splitting the text.
    Staged (``staging.stage``, released with the caller's staging
    scope) unless ``persist=False``.

    Recompute-vs-cache: worth it when the SCAN is expensive (remote
    object store, wide rows you'd prune). On a cheap local scan the
    cache can LOSE — measured at sf0.1, serializing the token arrays
    cost more than the nearly-free codegen re-split it saved (the
    registered ``hashed_dup_pairs`` keeps per-family splits for exactly
    this reason). Measure on your storage before adopting.

    ``storage_level``: default MEMORY_AND_DISK; a token frame is the
    same order as the corpus itself, so at 100 TB pass ``"DISK_ONLY"``
    (policy in ``operators/staging.py``)."""
    tf = df.select(F.col(id_col),
                   tokens(F.col(text_col)).alias("__toks"))
    if persist:
        tf = stage(tf, storage_level)
    return tf


def shingle_frame(df: DataFrame, text_col: str, id_col: str,
                  shingle: int = 3, persist: bool = True,
                  tokens_df: DataFrame | None = None,
                  storage_level=None) -> DataFrame:
    """``(id_col, __sh)`` shingle projection — tokenize+shingle is the
    second-biggest near-dup cost, so callers running several sketch
    families over one corpus build this ONCE and pass it to each
    operator. Derives from a staged ``token_frame`` when ``tokens_df``
    is given (no re-scan, no re-split). Staged (released with the
    caller's staging scope) unless ``persist=False``; ``storage_level``
    defaults to MEMORY_AND_DISK — corpus-sized at any scale, so at
    100 TB pass ``"DISK_ONLY"`` (``operators/staging.py``)."""
    if tokens_df is not None:
        sh = tokens_df.select(
            F.col(id_col),
            word_ngrams_t(F.col("__toks"), shingle).alias("__sh"))
    else:
        sh = df.select(F.col(id_col),
                       word_ngrams(F.col(text_col), shingle).alias("__sh"))
    if persist:
        sh = stage(sh, storage_level)
    return sh


def minhash_dup_pairs(df: DataFrame, text_col: str, id_col: str,
                      threshold: float = 0.8, num_hashes: int = 64,
                      shingle: int = 3, bands: int = 16,
                      shingles: DataFrame | None = None,
                      hash_fn: str = "native") -> DataFrame:
    """MinHash+LSH near-dup pairs, verified with exact n-gram Jaccard.

    Candidates from LSH buckets; each candidate pair is then verified, so
    output precision is exact — only recall depends on the LSH parameters.
    Presets: (64, 16) is the high-recall default; (32, 8) keeps the same
    4-row bands (same per-band collision curve, recall ≥0.9 pinned in
    tests at threshold 0.8) at half the signature cost — the dominant
    term — and is what the registered ``hashed_dup_pairs`` query uses.

    The shingle projection feeds BOTH the signature build and the exact
    verify join, so it is persisted (memory-and-disk, evicted LRU) and
    computed once per corpus instead of twice — tokenize+shingle is the
    second-biggest cost after signatures. The cache must outlive this
    (lazy) result's actions, so it is staged: run the build and the
    terminal action inside ``staging.scope()`` (or call
    ``staging.release()`` once done) instead of waiting for LRU
    eviction. Pass a pre-built ``shingles`` frame (see
    ``shingle_frame``) to share the projection with other sketch
    families over the same corpus.
    """
    sh = (shingles if shingles is not None
          else shingle_frame(df, text_col, id_col, shingle))
    cands = minhash_candidates_from_shingles(sh, id_col, num_hashes,
                                             bands, hash_fn)
    return (cands
            .join(sh.withColumnRenamed(id_col, "id_a")
                  .withColumnRenamed("__sh", "__sh_a"), "id_a")
            .join(sh.withColumnRenamed(id_col, "id_b")
                  .withColumnRenamed("__sh", "__sh_b"), "id_b")
            .select("id_a", "id_b",
                    F.round(jaccard_arrays(F.col("__sh_a"), F.col("__sh_b")),
                            6).alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def minhash_dedup(df: DataFrame, text_col: str, id_col: str,
                  threshold: float = 0.8, **lsh_kwargs) -> DataFrame:
    """Greedy near-dup removal: drop the higher id of every verified pair.

    (Single-pass greedy, not transitive closure — a kept doc is one that is
    not a near-dup of any lower-id doc. For transitive cluster semantics
    use ``connected_components`` / ``dedup_clusters``.)
    """
    dups = (minhash_dup_pairs(df, text_col, id_col, threshold, **lsh_kwargs)
            .select(F.col("id_b").alias(id_col)).distinct())
    return df.join(dups, id_col, "left_anti")


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b",
                         nodes: DataFrame | None = None,
                         node_col: str = "id",
                         max_iter: int = 25,
                         checkpoint: str = "local",
                         check_every: int = 2) -> DataFrame:
    """Connected components of the undirected pair graph →
    ``(id, cluster_id)`` where cluster_id is the component's minimum node
    id. This is what a 100 TB dedup actually emits: A~B and B~C collapse
    into ONE cluster even when A~C is below threshold (transitive
    closure), unlike the greedy pair-drop.

    Alternating-min label propagation with pointer jumping: per iteration
    every node takes the min label over itself and its neighbors, then
    follows its label's own label one hop (doubling propagation distance —
    O(log diameter) rounds, the MapReduce-CC recipe of Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14). Each round
    is two shuffle joins + one aggregation over the label table; edges are
    materialized once, labels every round, so the loop's lineage stays
    flat. ``checkpoint='local'`` (default) uses executor-local
    ``localCheckpoint`` — fastest, but lost on executor death; on
    preemptible/spot clusters call ``sc.setCheckpointDir`` and pass
    ``checkpoint='reliable'`` for durable checkpoints.

    Convergence is tested every ``check_every`` rounds (and on the last),
    halving the extra count-actions versus checking each round; a
    fixpoint reached between checks is detected at the next one. If the
    loop exhausts ``max_iter`` with labels still moving, a
    ``RuntimeWarning`` is raised — downstream would otherwise silently
    emit multiple canonicals for one true component.

    ``nodes`` (optional) adds isolated ids so singleton docs still get a
    cluster row; otherwise only ids appearing in ``pairs`` are labeled.
    """
    import warnings

    from ..session import materialize

    # edges and the initial labels are loop INPUTS, not loop-carried
    # state: their lineage is shallow and never grows, so they need
    # staging (every iteration re-reads them), not truncation. Lazy
    # staged persists (r11, were eager localCheckpoints) fill inside
    # iteration 1's first job instead of costing two dedicated driver
    # job rounds up front; only the loop-carried ``jumped`` below keeps
    # the eager localCheckpoint that the flat-lineage contract needs.
    half = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    edges = stage(
        half.unionByName(half.select(F.col("dst").alias("src"),
                                     F.col("src").alias("dst"))).distinct())
    if nodes is not None:
        ids = nodes.select(F.col(node_col).alias("id")).distinct()
    else:
        ids = edges.select(F.col("src").alias("id")).distinct()
    labels = stage(ids.select("id", F.col("id").alias("cluster_id")))
    converged = False
    for i in range(max_iter):
        nbr_min = (edges.join(labels, edges["dst"] == labels["id"])
                   .groupBy("src").agg(F.min("cluster_id").alias("nm")))
        relab = (labels.join(nbr_min, labels["id"] == nbr_min["src"],
                             "left")
                 .select(labels["id"],
                         F.least(F.col("cluster_id"),
                                 F.coalesce("nm", "cluster_id"))
                         .alias("cluster_id")))
        # pointer jumping: labels are node ids, so follow the label's own
        # current label — propagation distance doubles every round
        ptr = labels.select(F.col("id").alias("pid"),
                            F.col("cluster_id").alias("plabel"))
        jumped = materialize(
            relab.join(ptr, relab["cluster_id"] == ptr["pid"], "left")
            .select("id",
                    F.least(F.col("cluster_id"),
                            F.coalesce("plabel", "cluster_id"))
                    .alias("cluster_id")),
            checkpoint)
        if (i + 1) % check_every == 0 or i == max_iter - 1:
            changed = (jumped
                       .join(labels.withColumnRenamed("cluster_id", "old"),
                             "id")
                       .filter(F.col("cluster_id") != F.col("old")).count())
            if changed == 0:
                labels = jumped
                converged = True
                break
        labels = jumped
    if not converged:
        warnings.warn(
            f"connected_components exhausted max_iter={max_iter} without "
            f"converging — cluster labels may still be split across "
            f"components; raise max_iter (rounds needed ≈ "
            f"log2(graph diameter))", RuntimeWarning, stacklevel=2)
    return labels


def dedup_clusters(df: DataFrame, text_col: str, id_col: str,
                   threshold: float = 0.8, method: str = "minhash",
                   checkpoint: str = "local", **kwargs) -> DataFrame:
    """Near-dup clustering end-to-end: verified pairs → transitive
    clusters → ``(id, cluster_id, is_canonical)``. Canonical = the
    cluster's min id (deterministic keeper, reference keep-first A4
    semantics lifted to clusters). ``method``: 'minhash' (LSH
    candidates — approximate recall, the default), 'prefix' (EXACT
    pairs via ``jaccard_similarity_join`` — the scale-safe exact form),
    or 'ngram' (the quadratic exact baseline, guarded). ``checkpoint``
    forwards to ``connected_components`` ('reliable' for preemptible
    clusters)."""
    # A scope of its own: CC materializes the edge set eagerly in its
    # first step, so the pair plan (and the shingles staged for it) is
    # fully consumed inside it. A caller-staged ``shingles=`` frame
    # belongs to the caller's scope and survives.
    with scope():
        if method == "minhash":
            pairs = minhash_dup_pairs(df, text_col, id_col, threshold,
                                      **kwargs)
        elif method == "ngram":
            pairs = ngram_jaccard_pairs(df, text_col, id_col,
                                        threshold=threshold, **kwargs)
        elif method == "prefix":
            # exact pairs WITHOUT the quadratic baseline's cost: the
            # prefix-filtered similarity join (identical output to
            # 'ngram', candidates proportional to similar pairs — the
            # exact-clusters form that survives corpus scale)
            sh = shingle_frame(df, text_col, id_col,
                               kwargs.pop("shingle", 3))
            pairs = jaccard_similarity_join(sh, id_col,
                                            threshold=threshold, **kwargs)
        else:
            raise ValueError(f"unknown method {method!r}")
        cc = connected_components(pairs, nodes=df.select(id_col),
                                  node_col=id_col, checkpoint=checkpoint)
    return cc.select(F.col("id").alias(id_col), "cluster_id",
                     (F.col("id") == F.col("cluster_id"))
                     .alias("is_canonical"))


def simhash(text: Column, bits: int = 64) -> Column:
    """SimHash fingerprint: sign-aggregated per-bit token-hash votes.

    One ``aggregate`` pass over the token hashes accumulates a
    ``bits``-slot vote array (+1/-1 per bit per token); positive slots set
    their bit via a zip against a powers-of-two literal array. Shift
    amounts are Python ints (Spark's shiftright needs a literal count).
    """
    th = F.transform(tokens(text), lambda t: F.xxhash64(t))
    votes = F.aggregate(
        th,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.array(*[
                F.shiftright(h, i).bitwiseAND(F.lit(1)).cast("int") * 2 - 1
                for i in range(bits)
            ]),
            lambda a, v: a + v))
    # 1 << 63 wraps to the sign bit of a signed long
    powers = F.array(*[
        F.lit((1 << i) - (1 << 64 if i == 63 else 0)).cast("long")
        for i in range(bits)
    ])
    return F.aggregate(
        F.zip_with(votes, powers,
                   lambda v, p: F.when(v > 0, p)
                   .otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"), lambda acc, x: acc.bitwiseOR(x))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_table(df: DataFrame, text_col: str, id_col: str,
                  bits: int = 64,
                  tokens_df: DataFrame | None = None,
                  hash_fn: str = "native") -> DataFrame:
    """Per-document SimHash fingerprints ``(id_col, __sh)`` — the
    DataFrame-level scale path.

    Tokens are EXPLODED and the per-bit vote tallies become ``bits`` flat
    ``sum()`` aggregate columns (±1 per token per bit), folded into the
    fingerprint with a when/bitwise-OR chain — whole-stage-codegen
    arithmetic with map-side partial aggregation, instead of the
    per-token ``bits``-wide vote-array zip of the Column-level
    ``simhash`` (which allocates a 64-slot array per token; the flat form
    measured ~3× faster at sf0.1). Same fingerprint semantics: duplicate
    tokens vote repeatedly, tokenless docs fingerprint to 0
    (``explode_outer`` keeps them; their vote sums are NULL → no bits).
    ``tokens_df`` (a staged ``token_frame``) skips the re-scan+re-split
    when other sketch families already tokenized the corpus.

    ``hash_fn``: ``'native'`` (xxhash64, default) or ``'portable'`` —
    the 64 token-hash bits come from TWO 32-bit FNV-1a folds with
    different seed offsets (bit i<32 from the first, else the second),
    so an oracle engine reproduces the exact fingerprints from the same
    constants (see ``plans/dedup.py``). Same plan shape either way.
    """
    toks = (tokens_df.select(F.col(id_col),
                             F.explode_outer("__toks").alias("__t"))
            if tokens_df is not None else
            df.select(F.col(id_col),
                      F.explode_outer(tokens(F.col(text_col)))
                      .alias("__t")))
    # The per-bit expressions are rendered as SQL text and parsed in ONE
    # py4j round each (r11): the Column-object form cost ~1,100 driver
    # round-trips per call (~0.15 ms each, pure build latency — guide
    # §1.2 step 2). The parsed trees carry the same shiftright/&1/sum
    # arithmetic; shiftleft(1L, 63) constant-folds to the same
    # sign-bit-wrapped long the Python literal produced.
    if hash_fn == "native":
        # xxhash64(NULL) is the seed value (42), not NULL — mask it so
        # the explode_outer placeholder row of a tokenless doc casts no
        # votes
        hashed = toks.select(
            F.col(id_col),
            F.when(F.col("__t").isNotNull(),
                   F.xxhash64("__t")).alias("__h"))
        bit = {i: f"(shiftright(__h, {i}) & 1)" for i in range(bits)}
    elif hash_fn == "portable":
        from .embed import fnv1a32_pair

        if bits != 64:
            raise ValueError("portable simhash is 64-bit (two 32-bit "
                             f"FNV folds); got bits={bits}")
        # both seeded folds in ONE char pass (fnv1a32_pair) — separate
        # fnv1a32 calls re-split and re-iterate every token's chars
        # twice (measured a modest ~4% off this branch at sf0.1 — the
        # fold arithmetic, not the split, dominates — kept because it
        # is strictly less work at any scale, same values)
        hashed = toks.select(
            F.col(id_col),
            fnv1a32_pair(F.col("__t"), SIMHASH_FNV_SEED_LO,
                         SIMHASH_FNV_SEED_HI).alias("__hp")
        ).select(
            F.col(id_col),
            F.col("__hp")["h1"].alias("__h1"),
            F.col("__hp")["h2"].alias("__h2"))
        bit = {i: (f"(shiftright(__h1, {i}) & 1)" if i < 32 else
                   f"(shiftright(__h2, {i - 32}) & 1)")
               for i in range(bits)}
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}: "
                         "use 'native' or 'portable'")
    votes = hashed.groupBy(id_col).agg(*[
        F.expr(f"sum(CAST({bit[i]} AS INT) * 2 - 1) AS __v{i}")
        for i in range(bits)
    ])
    fp = " | ".join(
        f"(CASE WHEN __v{i} > 0 THEN shiftleft(CAST(1 AS BIGINT), {i}) "
        f"ELSE CAST(0 AS BIGINT) END)"
        for i in range(bits))
    return votes.select(F.col(id_col), F.expr(f"({fp}) AS __sh"))


def fingerprint_band_buckets(fp: DataFrame, id_col: str,
                             fp_col: str = "__sh",
                             n_bands: int = 4,
                             extra_cols: list[str] | None = None,
                             ) -> DataFrame:
    """Explode 64-bit fingerprints into pigeonhole band buckets
    ``(id_col, *extra_cols, __fp, band, bh)`` — the candidate-key
    frame both the self-join (``banded_hamming_pairs``) and cross-set
    forms (streaming ingest vs a persisted index) join on."""
    if not 1 <= n_bands <= 64 or 64 % n_bands:
        raise ValueError(f"n_bands must divide 64, got {n_bands}")
    width = 64 // n_bands

    def _bh(b):
        # band from the SOURCE column, not the "__fp" alias — a lateral
        # alias reference inside an explode is an unsupported plan
        # shape (Spark internal error). n_bands=1 (exact-fingerprint
        # blocking) short-circuits: its mask (2^64−1) overflows a long
        # literal, and the band IS the whole fingerprint anyway.
        if n_bands == 1:
            return F.col(fp_col)
        return F.shiftright(F.col(fp_col), b * width).bitwiseAND(
            F.lit((1 << width) - 1))

    keep = [F.col(id_col)] + [F.col(c) for c in (extra_cols or [])]
    banded = fp.select(
        *keep, F.col(fp_col).alias("__fp"),
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"), _bh(b).alias("bh"))
            for b in range(n_bands)
        ])).alias("bucket"))
    return banded.select(*keep, F.col("__fp"), "bucket.band",
                         "bucket.bh")


def banded_hamming_pairs(fp: DataFrame, id_col: str,
                         fp_col: str = "__sh",
                         max_hamming: int = 8,
                         n_bands: int = 4,
                         persist: bool = True) -> DataFrame:
    """Generic banded-hamming near-dup join over 64-bit fingerprints
    ``(id_col, fp_col)`` → ``(id_a, id_b, hamming ≤ max_hamming)``.

    Candidates block on ``n_bands`` equal bit-slices (pigeonhole:
    every pair with hamming < n_bands shares at least one band EXACTLY
    — full recall up to n_bands−1; above that, recall is approximate
    and rises with n_bands). The n_bands knob is a recall/collision
    trade at scale: wider bands (fewer of them) keep bucket
    cardinality high (2^(64/n) keys) so clustered fingerprints don't
    pile into hot buckets; more, narrower bands buy guaranteed recall
    at higher candidate volume. One bucketed equi-join either way —
    never all-pairs. Serves SimHash text pairs and perceptual-hash
    media pairs alike.

    ``persist`` (default on) caches the fingerprint table before the
    band self-join: both join sides otherwise re-schedule the WHOLE
    upstream fingerprint build (for SimHash, a full tokenize + 64-way
    vote aggregate over the corpus — measured 2× the branch cost at
    sf0.1: the registered ngram simhash branch dropped 10.4s → 4.9s
    when the fp table stopped computing twice). The cached frame is one
    (id, int64) row per document — tiny at any corpus scale — and is
    staged in the caller's staging scope. At 100 TB the same persist is
    still right: recomputing the corpus-wide vote aggregate per join
    side is a second full I/O+shuffle pass, while the fp cache is
    ~16 bytes/doc.

    The persist is SKIPPED when the caller already staged ``fp`` (its
    storage level has memory or disk set) — a second persist attempt on
    an already-cached frame is redundant and would stage it twice.
    Non-dedup callers (e.g. the multimodal perceptual-hash path)
    inherit the same release contract: the cached fp lives until the
    caller's staging scope ends (or ``staging.release()``)."""
    lvl = fp.storageLevel
    if persist and not (lvl.useMemory or lvl.useDisk):
        fp = stage(fp)
    buckets = fingerprint_band_buckets(fp, id_col, fp_col,
                                       n_bands=n_bands)
    a, b = buckets.alias("a"), buckets.alias("b")
    return (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bh") == F.col("b.bh"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")), "inner")
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"),
                    hamming64(F.col("a.__fp"),
                              F.col("b.__fp")).alias("hamming"))
            .distinct()
            .filter(F.col("hamming") <= max_hamming))


def simhash_dup_pairs(df: DataFrame, text_col: str, id_col: str,
                      max_hamming: int = 8,
                      tokens_df: DataFrame | None = None,
                      hash_fn: str = "native") -> DataFrame:
    """SimHash near-dup pairs (hamming ≤ max_hamming), candidates blocked
    on 16-bit prefix bands (4 bands → finds all pairs with ≤3 differing
    band-regions; standard pigeonhole blocking — see
    ``banded_hamming_pairs``). Fingerprints from the explode-aggregate
    ``simhash_table`` (see its scale notes — also for the ``hash_fn``
    backends); ``tokens_df`` forwards a staged ``token_frame``."""
    sh = simhash_table(df, text_col, id_col, tokens_df=tokens_df,
                       hash_fn=hash_fn)
    return banded_hamming_pairs(sh, id_col, "__sh",
                                max_hamming=max_hamming, n_bands=4)


def cross_corpus_dup_pairs(corpus: DataFrame, benchmark: DataFrame,
                           text_col: str, id_col: str,
                           threshold: float = 0.8, num_hashes: int = 32,
                           shingle: int = 3, bands: int = 8,
                           corpus_shingles: DataFrame | None = None,
                           ) -> DataFrame:
    """Decontamination pairs: corpus documents that near-duplicate a
    *benchmark/eval* document → ``(corpus_id, benchmark_id, jaccard)``.

    The training-data hygiene step: eval-set passages that leaked into a
    crawl must come OUT of the training corpus (test-set contamination).
    Same MinHash+LSH shape as ``minhash_dup_pairs`` but candidates pair
    only ACROSS the two sides (a corpus row with a benchmark row), so the
    benchmark side — typically millions of times smaller — never
    self-joins; every candidate is verified with exact shingle Jaccard,
    so precision is exact and recall follows the LSH preset. Pass
    ``corpus_shingles`` (see ``shingle_frame``) to reuse an
    already-persisted corpus shingle pass — only the (tiny) benchmark
    side is then shingled here.
    """
    csh = (corpus_shingles if corpus_shingles is not None
           else shingle_frame(corpus, text_col, id_col, shingle))
    bsh = shingle_frame(benchmark, text_col, id_col, shingle)
    sh = (csh.select(F.col(id_col), F.lit("c").alias("__side"), "__sh")
          .unionByName(bsh.select(F.col(id_col),
                                  F.lit("b").alias("__side"), "__sh")))
    buckets = _minhash_buckets(sh, id_col, ["__side"], num_hashes, bands)
    c = buckets.filter(F.col("__side") == "c").alias("a")
    b = buckets.filter(F.col("__side") == "b").alias("b")
    cands = (c.join(b, (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.bh") == F.col("b.bh")), "inner")
             .select(F.col(f"a.{id_col}").alias("corpus_id"),
                     F.col(f"b.{id_col}").alias("benchmark_id"))
             .distinct())
    csh_v = csh.select(F.col(id_col).alias("corpus_id"),
                       F.col("__sh").alias("__sh_c"))
    bsh_v = bsh.select(F.col(id_col).alias("benchmark_id"),
                       F.col("__sh").alias("__sh_b"))
    return (cands.join(csh_v, "corpus_id").join(bsh_v, "benchmark_id")
            .select("corpus_id", "benchmark_id",
                    F.round(jaccard_arrays(F.col("__sh_c"),
                                           F.col("__sh_b")), 6)
                    .alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def short_benchmark_rows(benchmark: DataFrame, text_col: str,
                         id_col: str, shingle: int = 3) -> DataFrame:
    """The benchmark rows ``containment_pairs`` EXCLUDES (fewer than
    ``shingle`` tokens — below n-gram resolution), as a LAZY frame:
    the accounting companion for ``on_short='exclude'``, so a curated
    run can audit / exact-match the excluded eval rows without the
    plan-build driver job the eager warning used to cost."""
    return benchmark.filter(F.size(tokens(F.col(text_col))) < shingle) \
                    .select(id_col, text_col)


def containment_pairs(corpus: DataFrame, benchmark: DataFrame,
                      text_col: str, id_col: str,
                      threshold: float = 0.8, shingle: int = 3,
                      corpus_shingles: DataFrame | None = None,
                      on_short: str = "exclude",
                      benchmark_shingles: DataFrame | None = None,
                      ) -> DataFrame:
    """Decontamination by n-gram CONTAINMENT — the GPT-3-style overlap
    rule (Brown et al. 2020 flag training docs sharing n-gram spans
    with an eval doc): score = |ngrams(benchmark) ∩ ngrams(corpus_doc)|
    / |ngrams(benchmark)|. This is the metric Jaccard cannot replace
    for the embedded-leak case: a short benchmark passage pasted inside
    a LONG corpus document has near-zero Jaccard (the union is huge) —
    and near-zero MinHash collision probability, so the LSH path
    (``cross_corpus_dup_pairs``) misses it BEFORE any verify — while
    its containment is 1.0.

    Exact by construction, no LSH recall loss: candidates are pairs
    sharing ≥1 shingle, generated by broadcasting the benchmark's
    exploded shingles (an eval set is orders of magnitude smaller than
    the corpus) against the corpus shingles — one broadcast equi-join +
    one partial-aggregated count per (corpus, benchmark) pair, never a
    cross join; a pair sharing zero shingles scores 0 and cannot pass
    any positive threshold, so skipping it is lossless. Shingle arrays
    are distinct (``word_ngrams``), so the shared count is exact set
    intersection. The published recipe uses 13-gram spans on tokenized
    text; ``shingle`` exposes that knob (default 3 matches the
    fixture-scale tests).

    Benchmark rows with FEWER than ``shingle`` tokens are below the
    n-gram resolution and are EXCLUDED: such a span cannot produce a
    real shingle (the whole-text fallback only ever matches an equally
    tiny corpus doc), and matching 1–2 common words verbatim would flag
    essentially every document — the false positive flood the published
    13-gram choice exists to avoid. Decontaminate sub-shingle eval rows
    out of band (exact/normalized string match) if they matter.
    ``on_short`` chooses how the exclusion surfaces:
    ``'exclude'`` (default) — silently, fully lazily; audit the
    excluded rows with the LAZY ``short_benchmark_rows`` companion
    (building this plan then triggers NO Spark job — the shape a
    registered query re-built per invocation needs);
    ``'warn'`` — count them NOW and raise a ``RuntimeWarning`` (one
    eager driver job per plan build — the loud interactive mode);
    ``'error'`` — count them now and raise ``ValueError`` (curated
    runs where a silently-unchecked eval row is unacceptable).

    ``corpus_shingles`` shares an already-persisted corpus shingle
    pass (see ``shingle_frame``); built internally it is NOT persisted
    — this plan consumes it once, so a cache entry would buy nothing.
    ``benchmark_shingles`` (r12) is the same sharing for the BENCHMARK
    side, for callers whose eval set is a subset/projection of an
    already-shingled frame. It matters more than size suggests: built
    from raw text here, the benchmark explode sits over a non-attribute
    array expression, and ``InferFiltersFromGenerate`` + predicate
    pushdown re-inline the whole tokenize+shingle chain into an
    interpreted Filter ~5× per row (measured 3.9 s of the registered
    containment branch's 4.2 s at sf0.1 — the chain re-ran per
    benchmark row in the pushed filter, the projection, and the
    broadcast build). The sub-shingle exclusion still applies, recast
    over the pre-built arrays: every element of a ≥``shingle``-token
    doc's array is exactly ``shingle`` space-joined tokens
    (``word_ngrams`` contract), while the fallback singleton of a
    shorter doc carries fewer — so first-element token count <
    ``shingle`` identifies exactly the rows the raw-text filter drops.
    Returns ``(corpus_id, benchmark_id, containment)``."""
    import warnings

    if on_short not in ("exclude", "warn", "error"):
        raise ValueError(f"unknown on_short {on_short!r}: use "
                         "'exclude', 'warn' or 'error'")
    csh = (corpus_shingles if corpus_shingles is not None
           else shingle_frame(corpus, text_col, id_col, shingle,
                              persist=False))
    if on_short != "exclude":
        n_short = short_benchmark_rows(benchmark, text_col, id_col,
                                       shingle).count()
        if n_short:
            msg = (f"containment_pairs: {n_short} benchmark row(s) have "
                   f"fewer than shingle={shingle} tokens and are "
                   "excluded (below n-gram resolution); handle them "
                   "with exact matching")
            if on_short == "error":
                raise ValueError(msg)
            warnings.warn(msg, RuntimeWarning, stacklevel=2)
    if benchmark_shingles is not None:
        bsh = benchmark_shingles.filter(
            F.size(F.split(F.element_at(F.col("__sh"), 1), " ", -1))
            >= shingle)
    else:
        bsh = shingle_frame(
            benchmark.filter(F.size(tokens(F.col(text_col))) >= shingle),
            text_col, id_col, shingle, persist=False)
    bex = (bsh.select(F.col(id_col).alias("benchmark_id"),
                      F.size("__sh").alias("__bn"),
                      F.explode("__sh").alias("__g")))
    cex = csh.select(F.col(id_col).alias("corpus_id"),
                     F.explode("__sh").alias("__g"))
    shared = (cex.join(F.broadcast(bex), "__g")
              .groupBy("corpus_id", "benchmark_id")
              .agg(F.count(F.lit(1)).alias("__inter"),
                   F.min("__bn").alias("__bn")))
    return (shared.select(
        "corpus_id", "benchmark_id",
        F.round(F.col("__inter").cast("double")
                / F.nullif(F.col("__bn"), F.lit(0)).cast("double"), 6)
        .alias("containment"))
        .filter(F.col("containment") >= threshold))


def decontaminate(corpus: DataFrame, benchmark: DataFrame, text_col: str,
                  id_col: str, threshold: float = 0.8,
                  metric: str = "jaccard",
                  **lsh_kwargs) -> DataFrame:
    """Remove benchmark-contaminated documents from a training corpus:
    drop every corpus row that near-duplicates (``metric='jaccard'``,
    MinHash+LSH candidates, whole-document similarity) or CONTAINS
    (``metric='containment'`` — ``containment_pairs``, the
    embedded-passage leak Jaccard misses) any benchmark row."""
    if metric == "jaccard":
        hits = (cross_corpus_dup_pairs(corpus, benchmark, text_col,
                                       id_col, threshold, **lsh_kwargs)
                .select(F.col("corpus_id").alias(id_col)).distinct())
    elif metric == "containment":
        allowed = {"shingle", "corpus_shingles", "on_short",
                   "benchmark_shingles"}
        bad = set(lsh_kwargs) - allowed
        if bad:
            raise ValueError(f"containment metric takes {sorted(allowed)}"
                             f", got {sorted(bad)}")
        hits = (containment_pairs(corpus, benchmark, text_col, id_col,
                                  threshold, **lsh_kwargs)
                .select(F.col("corpus_id").alias(id_col)).distinct())
    else:
        raise ValueError(f"unknown metric {metric!r}: "
                         "use 'jaccard' or 'containment'")
    return corpus.join(hits, id_col, "left_anti")


def segment_dedup(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", words_per_seg: int = 8,
                  delim: str = " ",
                  out_col: str = "text_dedup") -> DataFrame:
    """Sub-document exact dedup: global keep-first over fixed-width word
    segments, reassembled per document (the scalable approximation of
    suffix-array substring dedup — fixed windows instead of arbitrary
    substrings; the C4/RefinedWeb move applied below document level,
    which ``exact_dedup``'s whole-document digest cannot catch).

    Each document splits into consecutive ``words_per_seg``-word
    segments. A FULL segment is kept iff it is the globally first
    occurrence of its content (lowest ``(id, position)``); partial tail
    segments are always kept — they are not comparable content units and
    would otherwise dedup against unrelated tails. Kept segments
    reassemble in position order.

    Returns ``(id_col, n_segs, n_kept, out_col)``. Rows with NULL
    ``text_col`` are dropped (explode semantics) — filter them first if
    they must survive.

    Scale shape: one projection builds all segments (no join, ONE scan —
    no tails/firsts DAG fork), ONE shuffle on a salted segment digest
    ranks first occurrences: full segments partition by their content
    digest (skew equals duplication factor, the quantity being removed);
    partial tails get a per-row salted digest, so degenerate short
    strings (empty docs, common suffixes) can never pile into one window
    partition — their rank is trivially 1 and they are always kept. One
    shuffle on ``id_col`` reassembles. Compare ``minhash_dup_pairs`` for
    NEAR-dup at segment granularity.
    """
    import re as _re

    if words_per_seg < 1:
        raise ValueError("words_per_seg must be >= 1")
    w = words_per_seg
    toks = F.split(F.col(text_col), _re.escape(delim))
    base = docs.select(
        F.col(id_col),
        F.size(toks).alias("__ntoks"),
        F.posexplode(F.transform(
            F.sequence(F.lit(0),
                       F.ceil(F.size(toks) / F.lit(w)).cast("int") - 1),
            lambda i: F.array_join(F.slice(toks, i * w + 1, w), delim)))
        .alias("__idx", "__seg"))

    full = F.col("__ntoks") >= (F.col("__idx") + 1) * w
    part_key = F.when(full, F.md5(F.col("__seg"))).otherwise(
        F.md5(F.concat_ws("\x00", F.col("__seg"),
                          F.col(id_col).cast("string"),
                          F.col("__idx").cast("string"))))
    win = Window.partitionBy(part_key).orderBy(
        F.col(id_col).asc(), F.col("__idx").asc())
    flagged = base.withColumn("__keep", F.row_number().over(win) == 1)

    kept_struct = F.when(F.col("__keep"),
                         F.struct(F.col("__idx"), F.col("__seg")))
    return (flagged
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_segs"),
                 F.sum(F.col("__keep").cast("long")).alias("n_kept"),
                 F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(kept_struct)),
                         lambda s: s["__seg"]),
                     delim).alias(out_col)))


def corpus_novelty_estimate(base: DataFrame, incoming: DataFrame,
                            text_col: str, shingle: int = 3,
                            rsd: float = 0.02) -> DataFrame:
    """Cross-corpus NOVELTY estimate — the third planning probe (with
    ``duplicate_rate_estimate`` and ``span_dup_rate_estimate``): before
    paying for ingest + dedup of a new crawl, ask how much of it is
    content we do not already have. Sketch-only: three HLL++
    ``approx_count_distinct`` aggregates over shingle digests (base,
    incoming, and their union via inclusion–exclusion) — shuffle-free
    map-side sketches, no join, no candidate pairs, nothing persisted.

    Returns one row ``(base_shingles, incoming_shingles,
    overlap_shingles, novelty_est)`` where ``novelty_est ≈ 1 −
    overlap/incoming`` (fraction of the incoming corpus's distinct
    shingles unseen in base), clamped to [0, 1] — HLL error (``rsd``)
    can push the raw inclusion–exclusion slightly outside. NULL
    novelty when the incoming side has no shingles.

    Reading it: ~1 → the crawl is fresh, ingest it all; ~0 → mostly
    re-crawl, route through ``incremental_dedup`` and expect heavy
    drops; mid → size the dedup campaign's shuffle to
    ``incoming × novelty``. Estimates SHINGLE-level overlap (content
    mass), not document counts — a few giant duplicated docs and many
    small ones read the same, which is what a byte-budget decision
    wants."""
    if not 0.0 < rsd < 1.0:
        raise ValueError(f"rsd must be in (0, 1), got {rsd}")
    dg = F.explode(word_ngrams(F.col(text_col), shingle)).alias("__g")
    a = base.select(dg).select(F.xxhash64("__g").alias("__h"))
    b = incoming.select(dg).select(F.xxhash64("__g").alias("__h"))
    ca = a.agg(F.approx_count_distinct("__h", rsd).alias("base_shingles"))
    cb = b.agg(F.approx_count_distinct("__h", rsd)
               .alias("incoming_shingles"))
    cu = (a.unionByName(b)
          .agg(F.approx_count_distinct("__h", rsd).alias("__u")))
    joined = ca.crossJoin(cb).crossJoin(cu)   # three 1-row frames
    overlap = F.greatest(
        F.lit(0).cast("long"),
        F.col("base_shingles") + F.col("incoming_shingles")
        - F.col("__u"))
    return (joined
            .withColumn("overlap_shingles", overlap)
            .select(
                "base_shingles", "incoming_shingles", "overlap_shingles",
                F.when(
                    F.col("incoming_shingles") > 0,
                    F.least(F.lit(1.0), F.greatest(F.lit(0.0), F.round(
                        F.lit(1.0)
                        - F.col("overlap_shingles").cast("double")
                        / F.col("incoming_shingles").cast("double"), 6))))
                .alias("novelty_est")))


def _span_token_base(docs: DataFrame, id_col: str, text_col: str,
                     delim: str) -> DataFrame:
    """NULL-filtered ``(id_col, __toks)`` token projection shared by the
    span-dedup family."""
    import re as _re

    toks = F.split(F.col(text_col), _re.escape(delim))
    return (docs.filter(F.col(text_col).isNotNull())
            .select(F.col(id_col), toks.alias("__toks")))


def _window_digests(base: DataFrame, id_col: str, k: int,
                    delim: str) -> DataFrame:
    """``(id_col, __idx, __dg)`` — md5 digest of every stride-1 k-token
    window. ONE definition shared by ``span_dedup`` (the campaign) and
    ``span_dup_rate_estimate`` (its planning probe), so the probe's
    digests stay bit-identical to what the campaign would remove."""
    return (base.filter(F.size("__toks") >= k)
            .select(
                F.col(id_col),
                F.posexplode(F.transform(
                    F.sequence(F.lit(0), F.size("__toks") - F.lit(k)),
                    lambda i: F.md5(F.array_join(
                        F.slice("__toks", i + 1, k), delim))))
                .alias("__idx", "__dg")))


def span_dedup(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", span_words: int = 8,
               delim: str = " ",
               out_col: str = "text_dedup") -> DataFrame:
    """EXACT substring-level dedup at token-span granularity — the
    deduplicate-training-data capability of Lee et al. 2022
    (arXiv:2107.06499, suffix-array ExactSubstr): any copied token run
    of length >= ``span_words`` is removed from every occurrence except
    the globally first, WHEREVER it sits in the document.  This is the
    case ``segment_dedup``'s fixed grid structurally misses: a copied
    span that straddles two aligned windows (e.g. a 13-token copy
    landing at offset 3 of an 8-word grid) matches no full grid segment
    and ships twice; here the span's own windows match at every offset.

    Mechanics: a content window of ``span_words`` tokens is anchored at
    EVERY token position (stride 1 — the alignment-free property; a
    strided/winnowed variant trades CPU for recall of spans shorter
    than window+stride−1).  A window occurrence is a duplicate iff it
    is not the globally first occurrence of its content (lowest
    ``(id, position)``); every token covered by a duplicate window is
    removed.  A copied span of length L >= ``span_words`` contributes
    L−span_words+1 duplicate windows in the later copy whose union
    covers all L tokens — so the whole later copy disappears, while
    copies shorter than ``span_words`` are below resolution and kept
    (the published 50-token knob exists to avoid dropping idiom).

    Returns one row per input doc: ``(id_col, n_tokens, n_kept,
    out_col)`` — including docs whose every token was dropped (empty
    ``out_col``; the caller decides whether an emptied doc survives).
    Rows with NULL ``text_col`` are dropped (``segment_dedup``
    semantics).  Exactness is modulo md5: windows compare by their
    128-bit content digest (collision odds ~n²/2^128 — negligible at
    any corpus size; the digest is also what the DuckDB oracle
    recomputes).

    Scale shape: window generation is ONE projection — O(total_tokens)
    rows, each carrying a 16-byte digest, never the window text.  The
    keep-first rule is a ``min(struct(id, pos))`` PARTIAL aggregate on
    the digest (map-side combine collapses hot windows — the pile-up IS
    the duplication being removed — the same de-skew shape as
    ``line_dedup``), joined back against a one-row-per-digest right
    side.  Dropped windows explode to covered token indices (bounded by
    duplication × span_words), removed with ONE anti-join on
    ``(id, position)`` — a skew-free composite key — and one
    ``groupBy(id)`` reassembles.  No window functions anywhere.  CPU
    caveat: hashing every position costs O(tokens × span_words)
    character work; at crawl scale a rolling polynomial hash (prefix
    hashes via one ``aggregate`` pass, windows by subtraction) or
    winnowed anchors cut that to O(tokens) — same plan shape, swap the
    digest expression.  Compare the reference's whole-document digests
    (``exact_dedup``) and 4-char blocking (M7): same hash-partition
    discipline, sub-document unit."""
    if span_words < 1:
        raise ValueError("span_words must be >= 1")
    k = span_words
    base = _span_token_base(docs, id_col, text_col, delim)
    # wins feeds TWO plan positions (the keep-first aggregate and the
    # join probe side) through DIFFERENT exchanges, so ReuseExchange
    # cannot collapse them — unpersisted, the O(tokens × span_words)
    # digest projection (the docstring's dominant-CPU caveat) runs
    # twice per action. Staged like every other dedup frame.
    wins = stage(_window_digests(base, id_col, k, delim))
    firsts = wins.groupBy("__dg").agg(
        F.min(F.struct(F.col(id_col), F.col("__idx"))).alias("__f"))
    drops = (wins.join(firsts, "__dg")
             .filter(~((F.col(id_col) == F.col("__f")[id_col])
                       & (F.col("__idx") == F.col("__f.__idx"))))
             .select(F.col(id_col),
                     F.explode(F.sequence(
                         F.col("__idx"),
                         F.col("__idx") + F.lit(k - 1))).alias("__ti")))
    toks_ex = base.select(F.col(id_col),
                          F.posexplode("__toks").alias("__ti", "__tok"))
    kept = toks_ex.join(drops, [id_col, "__ti"], "left_anti")
    kept_agg = (kept.groupBy(id_col)
                .agg(F.count(F.lit(1)).alias("__nk"),
                     F.array_join(
                         F.transform(
                             F.array_sort(F.collect_list(
                                 F.struct("__ti", "__tok"))),
                             lambda s: s["__tok"]),
                         delim).alias("__txt")))
    totals = base.select(F.col(id_col),
                         F.size("__toks").cast("long").alias("n_tokens"))
    return (totals.join(kept_agg, id_col, "left")
            .select(id_col, "n_tokens",
                    F.coalesce(F.col("__nk"), F.lit(0).cast("long"))
                    .alias("n_kept"),
                    F.coalesce(F.col("__txt"), F.lit(""))
                    .alias(out_col)))


def span_dup_rate_estimate(docs: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", span_words: int = 8,
                           winnow_k: int = 4,
                           delim: str = " ") -> DataFrame:
    """Winnowed ESTIMATE of the duplicated-span rate — the planning
    probe you run on 100 TB before committing to a full ``span_dedup``
    campaign, using the published winnowing scheme (Schleimer et al.
    2003, MOSS): within every run of ``winnow_k`` consecutive window
    digests, the MINIMUM digest is an anchor. Anchors are
    content-defined, so both copies of a span select the SAME anchors
    at any alignment (the property a strided sample lacks), and any
    copied span of length >= ``span_words + winnow_k − 1`` shares at
    least one anchor. The estimate is the fraction of anchor
    occurrences whose digest occurs at more than one (id, position) —
    an unbiased-ish content sample of what ``span_dedup`` would remove.

    Returns one row ``(n_anchors, n_dup_anchors, dup_span_rate_est)``
    (NULL rate on an anchor-free corpus). Trade: spans shorter than
    ``span_words + winnow_k − 1`` may go unsampled — raise
    ``winnow_k`` for a cheaper, coarser probe.

    Scale shape: the digest projection is the same O(tokens ×
    span_words) map-side pass as ``span_dedup``, but only ~2/(k+1) of
    windows survive winnowing, so the two partial-agg shuffles (anchor
    distinct, then the digest count) carry k×-fewer rows — and unlike
    ``span_dedup`` there is no join-back, window-coverage explode or
    reassembly at all. The winnow argmin is a per-doc range window
    (partitioned by id — skew equals document length, not
    duplication)."""
    if span_words < 1:
        raise ValueError("span_words must be >= 1")
    if winnow_k < 1:
        raise ValueError("winnow_k must be >= 1")
    k = span_words
    wins = _window_digests(
        _span_token_base(docs, id_col, text_col, delim), id_col, k, delim)
    # classic winnowing selection: each run of winnow_k consecutive
    # windows contributes its ARGMIN (min over struct(dg, idx) — ties
    # to the earliest position) as an anchor; overlapping runs electing
    # the same window collapse via distinct. Guarantees >=1 anchor per
    # winnow_k consecutive windows — a self-min rule (anchor iff a
    # window is the min of its own forward run) would anchor NOTHING
    # over a monotone digest run and lose the density guarantee.
    w = (Window.partitionBy(id_col).orderBy("__idx")
         .rowsBetween(0, winnow_k - 1))
    anchors = (wins
               .withColumn("__wmin",
                           F.min(F.struct(F.col("__dg"),
                                          F.col("__idx"))).over(w))
               .select(F.col(id_col),
                       F.col("__wmin.__idx").alias("__idx"),
                       F.col("__wmin.__dg").alias("__dg"))
               .distinct())
    per_dg = anchors.groupBy("__dg").agg(
        F.count(F.lit(1)).alias("__n"))
    return per_dg.agg(
        F.coalesce(F.sum("__n"), F.lit(0)).alias("n_anchors"),
        F.coalesce(F.sum(F.when(F.col("__n") > 1, F.col("__n"))
                         .otherwise(F.lit(0))), F.lit(0))
        .alias("n_dup_anchors")
    ).select(
        "n_anchors", "n_dup_anchors",
        F.when(F.col("n_anchors") > 0,
               F.round(F.col("n_dup_anchors").cast("double")
                       / F.col("n_anchors").cast("double"), 6))
        .alias("dup_span_rate_est"))


def line_dedup(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", mode: str = "first",
               min_docs: int = 3,
               out_col: str = "text_dedup") -> DataFrame:
    """Line-granular dedup — the C4/CCNet boilerplate pass (Raffel et
    al. 2020 discard repeated spans; Wenzek et al. 2020 hash-dedup
    paragraphs): navigation menus, cookie banners and footers repeat
    across a crawl far below document granularity, where whole-document
    digests (``exact_dedup``) and even word-window segments
    (``segment_dedup``) are the wrong unit.

    ``mode='first'``: keep only the globally FIRST occurrence of each
    distinct line (lowest ``(id, position)``) — the keep-one rule;
    later repeats drop, including within one document.
    ``mode='common'``: drop EVERY occurrence of a line appearing in
    ``>= min_docs`` DISTINCT documents — the boilerplate rule (a line
    shared by many pages is chrome, not content; repeating a line
    within ONE document does not make it boilerplate).

    Lines split on ``\\n``; whitespace-only lines are dropped from the
    output in both modes (normalization — they carry no content and
    would otherwise all "duplicate" each other). Kept lines reassemble
    in position order. Returns ``(id_col, n_lines, n_kept, out_col)``
    with documents that have NO content lines absent (explode
    semantics). Counts cover content lines only.

    Scale shape: BOTH modes are partial-aggregated ``groupBy(line)``
    passes joined back on the line — map-side combine collapses hot
    boilerplate BEFORE the shuffle, so corpus-universal lines (a cookie
    banner in billions of docs) are never single-task keys.
    ``mode='common'`` aggregates the distinct-document frequency;
    ``mode='first'`` aggregates each line's global first occurrence as
    ``min(struct(id, idx))`` — identical keep-first semantics to a
    per-line ``row_number`` window, without funneling every occurrence
    of one line into one task (a window over a corpus-universal line
    would be exactly that straggler). The join-back's hot key streams
    against a ONE-row-per-line right side (AQE skew-split-able); one
    ``groupBy(id)`` reassembles.
    """
    if mode not in ("first", "common"):
        raise ValueError(f"unknown mode {mode!r}: use 'first' or"
                         " 'common'")
    if min_docs < 1:
        raise ValueError(f"min_docs must be >= 1, got {min_docs}")
    base = (docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n"))
        .alias("__idx", "__ln"))
        .filter(F.trim(F.col("__ln")) != ""))
    if mode == "first":
        # min(struct) is lexicographic over (id, idx) — the global
        # first occurrence — as a map-side-combined partial aggregate
        firsts = (base.groupBy("__ln")
                  .agg(F.min(F.struct(F.col(id_col), F.col("__idx")))
                       .alias("__f")))
        flagged = (base.join(firsts, "__ln")
                   .withColumn("__keep",
                               (F.col(id_col) == F.col("__f")[id_col])
                               & (F.col("__idx") == F.col("__f.__idx")))
                   .drop("__f"))
    else:
        freq = (base.groupBy("__ln")
                .agg(F.countDistinct(id_col).alias("__nd")))
        flagged = (base.join(freq, "__ln")
                   .withColumn("__keep", F.col("__nd") < min_docs))
    kept_struct = F.when(F.col("__keep"),
                         F.struct(F.col("__idx"), F.col("__ln")))
    return (flagged
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_lines"),
                 F.sum(F.col("__keep").cast("long")).alias("n_kept"),
                 F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(kept_struct)),
                         lambda s: s["__ln"]),
                     "\n").alias(out_col)))


# ---------------------------------------------------------------------------
# Incremental dedup: persisted MinHash index, batch-at-a-time arrival
# ---------------------------------------------------------------------------

def _read_or_empty(spark, path: str, schema,
                   siblings: tuple[str, ...] = ()) -> DataFrame:
    """Read a parquet index component, or an empty typed frame before the
    first batch has been indexed.  Works on any Hadoop filesystem (local,
    HDFS, object stores) — a driver-side os.path probe would silently
    treat every remote index as empty, which for a dedup index means
    silently re-admitting known duplicates.  Only the missing-path error
    maps to "empty"; every OTHER read failure (corrupt metadata, wrong
    path root, permissions) re-raises — treating those as empty would be
    the same silent re-admission.

    ``siblings`` are paths whose EXISTENCE proves the missing table is
    not pristine first-batch state: ``<path>.__old`` (a
    ``compact_dedup_index`` swap crashed between its two renames — the
    complete pre-compaction table is sitting at the backup name) and,
    for the buckets table, the shingles table (appends write shingles
    FIRST, so established history can lose buckets to a crashed swap
    but can never legitimately have shingles without buckets... unless
    mid-first-append — which the ``.__old`` check disambiguates is not
    recoverable confusion: a missing buckets + present shingles with NO
    backup is the documented harmless orphan window).  When a sibling
    backup exists the read FAILS LOUDLY instead of returning an empty
    frame — an empty history here would silently re-admit every known
    duplicate while forking the index, the exact failure the docstring
    above warns against.  Recover by renaming ``<path>.__old`` back to
    ``<path>`` (or re-running the crashed compaction from the backup)."""
    from pyspark.errors import AnalysisException

    from ..session import hadoop_exists

    try:
        return spark.read.schema(schema).parquet(path)
    except AnalysisException as exc:
        cond = (exc.getCondition() if hasattr(exc, "getCondition")
                else exc.getErrorClass())
        if cond != "PATH_NOT_FOUND":
            raise
        present = [s for s in siblings if hadoop_exists(spark, s)]
        if present:
            raise IOError(
                f"dedup index table {path} is missing but sibling "
                f"state exists ({', '.join(present)}) — this is a "
                f"crashed compaction/swap, NOT an empty index; "
                f"treating it as empty would silently re-admit known "
                f"duplicates. Restore {path}.__old to {path} (or "
                f"rebuild the index) before the next batch.") from exc
        return spark.createDataFrame([], schema)


def _pin_layout_meta(spark, index_path: str, id_buckets: int | None,
                     probe_table: str) -> None:
    """Pin the index's PHYSICAL LAYOUT (``id_buckets``) in a 1-row meta
    table at ``<index_path>/layout_meta``, mirroring the bloom
    sidecar's loud (m_bits, k) validation: probing an index written
    with a different ``id_buckets`` — or a flat index probed WITH
    ``id_buckets`` — reads ``__pb`` as NULL (schema-fill on
    unpartitioned files) or mismatched bucket values, so the
    ``isin(need)`` partition prune silently drops most/all history and
    re-admits known duplicates with no error.  Stores ``-1`` for the
    flat (unpartitioned) layout.

    Legacy indexes written before this meta existed are validated by
    schema probe — ``__pb`` presence in the persisted table must match
    the call — then the meta is backfilled; the exact VALUE of a
    legacy partitioned index cannot be re-derived from the files, so
    the first post-upgrade call pins whatever it passes (pass the
    original).  Fresh indexes pin the first call's layout before any
    data lands."""
    from ..session import hadoop_exists

    meta_path = f"{index_path}/layout_meta"
    want = -1 if id_buckets is None else int(id_buckets)
    if hadoop_exists(spark, meta_path):
        got = spark.read.parquet(meta_path).head()["id_buckets"]
        if got != want:
            raise ValueError(
                f"index at {index_path} was written with id_buckets="
                f"{None if got == -1 else got}; probing with "
                f"{id_buckets} would silently prune the history scan to "
                f"wrong (or NULL) __pb partitions and re-admit known "
                f"duplicates — pass the original value or rebuild the "
                f"index")
        return
    if hadoop_exists(spark, probe_table):
        has_pb = "__pb" in spark.read.parquet(probe_table).columns
        if has_pb != (id_buckets is not None):
            have = "hash-partitioned on __pb" if has_pb else "flat"
            raise ValueError(
                f"index table {probe_table} is {have} but this call "
                f"passed id_buckets={id_buckets}; the partition prune "
                f"would silently read wrong/NULL buckets and re-admit "
                f"known duplicates — match the index's layout (then "
                f"this call backfills the layout meta)")
    (spark.createDataFrame([(want,)], "id_buckets long")
     .coalesce(1).write.mode("overwrite").parquet(meta_path))


def incremental_dedup(batch: DataFrame, index_path: str, text_col: str,
                      id_col: str, threshold: float = 0.8,
                      num_hashes: int = 32, bands: int = 8,
                      shingle: int = 3,
                      hash_fn: str = "native",
                      id_buckets: int | None = None) -> DataFrame:
    """Dedup an arriving batch against EVERYTHING seen before without
    recomputing history — the only near-dup shape that survives a corpus
    growing by terabytes a day (re-running ``minhash_dup_pairs`` over the
    full history per batch is O(history) every day; this is O(batch)).

    The index at ``index_path`` persists two parquet tables:
    ``buckets/`` (id, band, bh — the LSH band buckets) and ``shingles/``
    (id, __sh — for the exact-Jaccard verify).  Per batch: build the
    batch's buckets ONCE, equi-join them against the index buckets (and
    against the batch's own lower-id rows), exact-verify every candidate
    with n-gram Jaccard, drop verified dups, then append ALL batch rows
    — kept AND dropped — to the index.

    Contract:
    - a batch doc is DROPPED iff it verifies ``>= threshold`` against any
      LOWER-``id_col`` seen doc (previously indexed or in its own batch
      — one rule, id order is the global arrival order);
    - dropped docs still index, so transitive chains spanning batch
      boundaries resolve identically however the stream is chunked
      (chunk-invariance, pinned in tests) — a doc similar only to an
      already-dropped doc is still a dup;
    - ``id_col`` must be globally increasing across batches (append-log
      ids); ties between "seen earlier" and "lower id" then never
      conflict;
    - LSH parameters must stay fixed for the life of one index (bucket
      keys are parameter-dependent) — ``hash_fn`` included (see
      ``minhash_candidates_from_shingles`` for the backends; the
      'portable' one is how the driver oracle value-checks this
      operator: chunk-invariance means incremental verdicts over ANY
      chunking equal the single-batch ``minhash_dup_pairs`` drop rule,
      which DuckDB can replay from the inlined constants);
    - replaying a batch is SAFE for the kept-set (only lower-id history
      counts, and a replayed batch's first-run rows all carry ids >= its
      own, so a re-run returns the same kept rows) but appends duplicate
      index rows; compact the index or make replays idempotent at the
      orchestrator when storage matters.

    Returns the kept batch rows (all original columns).  The batch
    shingle projection is staged for the verify join — release it
    with the staging scope around the terminal action.  At cluster
    scale, write the index bucketed on ``bh`` (see
    ``sinks.write_bucketed_parquet``) to make the per-batch candidate
    join exchange-free on the index side.

    ``id_buckets`` (r7, opt-in like every other index parameter: fixed
    for the life of one index) partition-prunes the expensive side of
    the verify join.  The shingle table — the big one: it carries the
    full shingle ARRAYS where the buckets table carries two ints — is
    written hash-partitioned on ``pmod(xxhash64(id), id_buckets)``.
    Per batch, the candidate pairs' distinct seen-id buckets (bounded
    by ``id_buckets``, one tiny collect) become a static
    ``PartitionFilters`` predicate on the history-shingle scan, so a
    day's batch against a year's corpus reads the few shingle
    partitions its candidates actually touch instead of scanning every
    shingle ever indexed.  The candidate frame is staged (released
    with the shingles) because the bucket probe and the
    verify join both consume it.  Size ``id_buckets`` so one partition
    of history shingles ≈ one comfortable scan unit (history_rows /
    id_buckets × avg shingle bytes).  The value is pinned in
    ``<index_path>/layout_meta`` on first write (-1 = flat); a later
    call with a different value — or a flat index probed WITH a value
    — raises loudly instead of silently pruning history to wrong/NULL
    partitions (the re-admission failure the bloom sidecar's (m, k)
    meta check prevents for hashing).  Too-large values just make small
    files.
    """
    from pyspark.sql.types import (ArrayType, StringType, StructField,
                                   StructType)

    spark = batch.sparkSession
    buckets_path = f"{index_path}/buckets"
    shingles_path = f"{index_path}/shingles"
    _pin_layout_meta(spark, index_path, id_buckets, shingles_path)

    sh = shingle_frame(batch, text_col, id_col, shingle)
    # The signature build is the dominant per-batch cost and has THREE
    # consumers (hist join, own join, index append) — stage it like the
    # shingles.
    buckets = stage(_minhash_buckets(sh, id_col, [], num_hashes, bands,
                                     hash_fn))

    # Index schemas derive from the batch's ACTUAL computed types — a
    # hardcoded long id would corrupt reads for string/decimal
    # append-log ids, and a hardcoded int band hash breaks the portable
    # backend (its polynomial fold is a long where native F.hash is an
    # int — a fixed IntegerType made every index read fail with a
    # parquet INT64/int32 mismatch).
    id_type = batch.schema[id_col].dataType
    # Sibling guards (see _read_or_empty): a missing BUCKETS table with
    # buckets.__old present is a crashed compaction swap (shingles
    # existing alone is the documented harmless first-append orphan
    # window — appends write shingles first); a missing SHINGLES table
    # with EITHER its backup or the buckets table present can never be
    # pristine state, since shingles are always written first.
    idx_buckets = _read_or_empty(
        spark, buckets_path, StructType([
            StructField(id_col, id_type),
            StructField("band", buckets.schema["band"].dataType),
            StructField("bh", buckets.schema["bh"].dataType)]),
        siblings=(f"{buckets_path}.__old",))
    sh_fields = [StructField(id_col, id_type),
                 StructField("__sh", ArrayType(StringType()))]
    if id_buckets is not None:
        from pyspark.sql.types import LongType

        sh_fields.append(StructField("__pb", LongType()))
    idx_sh = _read_or_empty(
        spark, shingles_path, StructType(sh_fields),
        siblings=(f"{shingles_path}.__old", buckets_path))

    # seen_id < new_id, NOT just a self-pair exclusion: under the
    # increasing-id contract genuine history ALWAYS has lower ids, so the
    # only index rows this strictness discards are a replayed batch's own
    # first-run rows (ids >= the batch's). Without it a replay would
    # self-verify at jaccard 1.0 (same id) or collide with its own
    # near-dup family members (higher ids) and silently over-drop.
    hist = (buckets.alias("n")
            .join(idx_buckets.alias("o"),
                  (F.col("n.band") == F.col("o.band"))
                  & (F.col("n.bh") == F.col("o.bh"))
                  & (F.col(f"o.{id_col}") < F.col(f"n.{id_col}")),
                  "inner")
            .select(F.col(f"n.{id_col}").alias("new_id"),
                    F.col(f"o.{id_col}").alias("seen_id")))
    own = (buckets.alias("a")
           .join(buckets.alias("b"),
                 (F.col("a.band") == F.col("b.band"))
                 & (F.col("a.bh") == F.col("b.bh"))
                 & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")), "inner")
           .select(F.col(f"b.{id_col}").alias("new_id"),
                   F.col(f"a.{id_col}").alias("seen_id")))
    cands = hist.unionByName(own).distinct()

    if id_buckets is not None:
        # The candidate frame feeds BOTH the partition probe (eager,
        # tiny) and the verify join — persist so the probe doesn't
        # recompute the bucket joins.
        cands = stage(cands)
        need = [r["b"] for r in
                (cands.select(F.pmod(F.xxhash64("seen_id"),
                                     F.lit(id_buckets)).alias("b"))
                 .distinct().collect())]
        # Static IN-list on the partition column → PartitionFilters on
        # the history-shingle scan (pinned in tests); empty candidate
        # set prunes the whole table.
        idx_sh = idx_sh.filter(F.col("__pb").isin(need)
                               if need else F.lit(False)).drop("__pb")

    seen_sh = idx_sh.unionByName(sh)
    verified = (cands
                .join(sh.select(F.col(id_col).alias("new_id"),
                                F.col("__sh").alias("__sh_n")), "new_id")
                .join(seen_sh.select(F.col(id_col).alias("seen_id"),
                                     F.col("__sh").alias("__sh_s")),
                      "seen_id")
                .filter(F.round(jaccard_arrays(F.col("__sh_n"),
                                               F.col("__sh_s")), 6)
                        >= threshold))
    drops = verified.select(F.col("new_id").alias(id_col)).distinct()

    # Index listing is captured above (read time), so appending now
    # cannot feed this batch's rows back into its own history join.
    # Shingles FIRST: a crash between the two writes then leaves orphaned
    # shingle rows (harmless — never candidates without bucket rows),
    # whereas orphaned BUCKET rows would generate candidates whose verify
    # join finds no shingles and silently re-admit known duplicates.
    if id_buckets is not None:
        (sh.withColumn("__pb", F.pmod(F.xxhash64(id_col),
                                      F.lit(id_buckets)))
         .write.mode("append").partitionBy("__pb").parquet(shingles_path))
    else:
        sh.write.mode("append").parquet(shingles_path)
    buckets.write.mode("append").parquet(buckets_path)

    return batch.join(drops, id_col, "left_anti")


def compact_dedup_index(spark, index_path: str) -> dict[str, int]:
    """Rewrite the ``incremental_dedup`` index with exact duplicates
    removed — the offline maintenance step for replay-heavy streams
    (every replayed trigger appends its batch's bucket/shingle rows
    again; the duplicates are harmless for correctness but grow storage
    and the per-batch candidate join's input linearly with replays).

    Each table is read, ``dropDuplicates``-ed on its full row, written
    to a sibling ``.__compact_tmp`` directory, then swapped into place
    with ``session.replace_dir`` (atomic renames). An in-place
    ``mode('overwrite')`` would truncate the live table before the new
    files finish — a crash mid-rewrite would destroy the index outright
    (and a ``localCheckpoint`` pin dies with its executors, so it is
    not a durability mechanism). With the swap, every crash window
    leaves a complete copy of the table on disk. Cross-table
    consistency is free here: compaction only removes EXACT duplicate
    rows, so any mix of compacted/uncompacted buckets and shingles is
    semantically identical to the original index. Returns
    ``{'buckets': rows_removed, 'shingles': rows_removed}``. On a real
    cluster prefer off-peak runs — the rewrite is a full scan of both
    tables.
    """
    from ..session import replace_dir

    import os as _os

    removed = {}
    for sub in ("shingles", "buckets"):
        path = f"{index_path}/{sub}"
        # pid-suffixed: overlapping compactions must not share a tmp tree
        tmp = f"{index_path}/{sub}.__compact_tmp.{_os.getpid()}"
        df = spark.read.parquet(path)
        before = df.count()
        w = df.dropDuplicates().write.mode("overwrite")
        # id_buckets layout: keep the shingle table hash-partitioned —
        # a flat rewrite would silently disable the per-batch
        # PartitionFilters pruning and splinter later appends' layout
        if "__pb" in df.columns:
            w = w.partitionBy("__pb")
        w.parquet(tmp)
        after = spark.read.parquet(tmp).count()
        replace_dir(spark, tmp, path)
        removed[sub] = before - after
    return removed


def cluster_keepers(clusters: DataFrame, df: DataFrame, id_col: str,
                    order_col: str,
                    descending: bool = True) -> DataFrame:
    """Re-elect each near-dup cluster's keeper by QUALITY instead of the
    min-id default: per cluster, keep the row with the best
    ``order_col`` (highest when ``descending``, the RefinedWeb-style
    "keep the longest / highest-quality member" rule), ties broken by
    min id so the choice is deterministic.

    ``clusters`` is ``dedup_clusters``' output (id, cluster_id);
    ``df`` carries a NUMERIC ``order_col`` per id (non-numeric types
    raise — a silent cast-to-NULL would degrade every election back to
    the min-id default the caller opted out of). Returns (id_col,
    cluster_id, is_canonical) with exactly one canonical row per
    cluster — drop-in for the places that consume ``dedup_clusters``
    directly; every cluster member stays labeled (members missing a
    score row rank lowest, they are not dropped). Works for ANY
    orderable id type (numeric, string/UUID, timestamp). NULL and NaN
    scores both rank below every real score.

    Scale: singleton clusters (the overwhelming majority — every
    unclustered doc is its own CC node) bypass election entirely via a
    cheap count over the narrow (id, cluster) frame; only multi-member
    clusters pay the score join + TWO partial-aggregated passes (max
    score, then min id among the rows achieving it — both map-side
    combined, one row per cluster in each shuffle). No windows, no
    per-cluster funneling. A numeric-only single-agg form
    (``max(struct(score, -id))``) would save one pass but silently
    breaks on string ids; generality wins here.
    """
    from pyspark.sql.types import NumericType

    if order_col not in df.columns:
        raise ValueError(f"order_col {order_col!r} not in frame")
    if not isinstance(df.schema[order_col].dataType, NumericType):
        raise ValueError(
            f"order_col {order_col!r} must be numeric, got "
            f"{df.schema[order_col].dataType.simpleString()} — a silent "
            "cast would NULL every score and fall back to min-id")
    # nanvl: a NaN quality score (0/0 ratio) sorts ABOVE every double in
    # Spark and NaN==NaN is true, so without the remap a NaN member
    # would win every election in both directions
    score = F.nanvl(F.col(order_col).cast("double"),
                    F.lit(None).cast("double"))
    rank = F.coalesce(score if descending else -score,
                      F.lit(float("-inf")))

    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("__n"))
    multi = sizes.filter(F.col("__n") > 1).select("cluster_id")
    singles = (clusters.join(multi, "cluster_id", "left_anti")
               .select(id_col, "cluster_id",
                       F.lit(True).alias("is_canonical")))

    contested = clusters.join(multi, "cluster_id", "left_semi")
    joined = (contested.join(df.select(id_col, order_col), id_col, "left")
              .withColumn("__r", rank))
    best = joined.groupBy("cluster_id").agg(F.max("__r").alias("__best_r"))
    keeper = (joined.join(best, "cluster_id")
              # exact equality is safe: both sides are the SAME computed
              # double values, compared bit-for-bit, not re-derived
              .filter(F.col("__r") == F.col("__best_r"))
              .groupBy("cluster_id")
              .agg(F.min(id_col).alias("__keeper")))
    elected = (joined.join(keeper, "cluster_id")
               .select(id_col, "cluster_id",
                       (F.col(id_col) == F.col("__keeper"))
                       .alias("is_canonical")))
    return elected.unionByName(singles)


def incremental_exact_dedup(batch: DataFrame, index_path: str, key,
                            id_col: str,
                            id_buckets: int | None = None,
                            bloom_bits: int | None = None,
                            bloom_k: int = 5) -> DataFrame:
    """Exact cross-batch dedup by an arbitrary KEY — the exact-match
    twin of ``incremental_dedup`` for the keys a crawl pipeline dedups
    on long before any fuzzy pass: the canonical URL key
    (``urls.url_key``), a content digest (``F.md5(text)``), an
    external-record id.  ``key`` is a column name or a Column
    expression evaluated against the batch.

    The index at ``index_path``/keys is ONE ROW PER DISTINCT KEY —
    ``(__k, first id)`` — not an append log.  Under the increasing-id
    contract (same as ``incremental_dedup``) the first arrival has the
    minimal id forever, so a compact keys table decides every future
    verdict:

    - a batch row DROPS iff its key was seen with a strictly lower id
      (in history, or earlier in its own batch — min-per-key);
    - only NEVER-SEEN keys append (anti join), so a replayed batch
      appends nothing and returns the identical kept set —
      idempotence by construction, no compaction step needed;
    - chunk-invariance follows: any chunking replays the same
      min-id-per-key tournament.

    NULL/'' keys are passed through unexamined (both mean "no key",
    and "no key" never equals "same page") — mirror of
    ``urls.url_dedup``'s quarantine rule.

    Scale: per batch, one partial-aggregated min-per-key shuffle over
    the BATCH (small), one equi-join against the keys table, one anti
    join for the append.  With ``id_buckets`` the keys table is
    hash-partitioned on ``pmod(xxhash64(__k), id_buckets)`` and both
    the verdict join and the append's anti join read ONLY the
    partitions holding the batch's key buckets (static
    ``PartitionFilters`` from one bounded collect) — the same
    read-less-than-everything layout as ``incremental_dedup``'s
    shingle history, fixed for the life of one index.

    ``bloom_bits`` maintains a Bloom-filter sidecar over the key
    history (``operators/bloom.py``) at ``index_path``/bloom:
    definitely-new keys (the vast majority of a fresh crawl batch)
    skip the keys-table join ENTIRELY, and with ``id_buckets`` the
    partition pruning narrows to the maybe-seen minority's buckets —
    the history scan shrinks from O(batch's buckets) to O(maybe-seen's
    buckets).  Correctness never depends on the filter's false-positive
    rate (a false positive just pays the join it would have paid
    anyway); the no-false-negative guarantee is protected by three
    disciplines: the sidecar merge lands BEFORE the keys append (a
    crash between them leaves extra bits — false positives — never
    missing ones), (m, k) are pinned in a meta table so a mismatched
    probe fails loudly instead of mis-hashing, and a call that OMITS
    ``bloom_bits`` on an index whose sidecar exists auto-adopts the
    pinned (m, k) and keeps maintaining it — otherwise its appended
    keys would be invisible to every later bloom probe (false
    negatives: re-admitted dups and doubled key rows).  Enabling the
    sidecar on an index that already has history backfills it from
    the full keys table (one-time O(history) build, logged cost).

    ``id_buckets`` is pinned in ``<index_path>/layout_meta`` on first
    write (-1 = flat) and every later call validates against it —
    probing with a mismatched value (or a flat index with any value)
    raises instead of silently pruning the history scan to wrong/NULL
    partitions.  Same rule in ``incremental_dedup``.
    """
    from pyspark.sql.types import LongType, StringType, StructField, \
        StructType

    spark = batch.sparkSession
    keys_path = f"{index_path}/keys"
    _pin_layout_meta(spark, index_path, id_buckets, keys_path)
    if bloom_bits is None:
        # An existing sidecar MUST stay maintained: a bloom-less call
        # that appends keys without merging them into the filter hands
        # a later bloom-enabled call false negatives — "definitely new"
        # for seen keys — silently re-admitting duplicates AND breaking
        # the one-row-per-key invariant. Auto-adopt the pinned params
        # (ADVICE r7) instead of failing: the sidecar's own meta is the
        # source of truth.
        from ..session import hadoop_exists as _hx

        if _hx(spark, f"{index_path}/bloom/meta"):
            _m = spark.read.parquet(f"{index_path}/bloom/meta").head()
            bloom_bits, bloom_k = int(_m["m_bits"]), int(_m["k"])
    kcol = F.col(key) if isinstance(key, str) else key
    tagged = batch.withColumn("__k", kcol.cast("string"))
    keyed = tagged.filter(F.col("__k").isNotNull() & (F.col("__k") != ""))
    bad = tagged.filter(F.col("__k").isNull() | (F.col("__k") == ""))

    id_type = batch.schema[id_col].dataType
    fields = [StructField("__k", StringType()),
              StructField("__first", id_type)]
    if id_buckets is not None:
        fields.append(StructField("__pb", LongType()))
    hist = _read_or_empty(spark, keys_path, StructType(fields))

    batch_first = keyed.groupBy("__k").agg(F.min(id_col).alias("__bf"))

    bloom_words = None
    if bloom_bits is not None:
        from ..session import hadoop_exists
        from . import bloom as _bloom

        words_path = f"{index_path}/bloom/words"
        meta_path = f"{index_path}/bloom/meta"
        word_schema = StructType([StructField("word_idx", LongType()),
                                  StructField("bits", LongType())])
        if hadoop_exists(spark, meta_path):
            meta = spark.read.parquet(meta_path).head()
            if (meta.m_bits, meta.k) != (bloom_bits, bloom_k):
                raise ValueError(
                    f"bloom sidecar at {index_path} was built with "
                    f"(m_bits={meta.m_bits}, k={meta.k}); probing with "
                    f"({bloom_bits}, {bloom_k}) would mis-hash — pass "
                    "the original parameters or rebuild the index")
            bloom_words = _read_or_empty(
                spark, words_path, word_schema,
                siblings=(f"{words_path}.__old",))
        elif hadoop_exists(spark, keys_path):
            # history exists but predates the sidecar: one-time backfill
            # from the FULL keys table (O(history), once)
            full_hist = _read_or_empty(
                spark, keys_path, StructType(fields))
            bloom_words = _bloom.build_bloom(
                full_hist, F.col("__k"), bloom_bits, bloom_k)
        else:
            bloom_words = spark.createDataFrame([], word_schema)

        probed = _bloom.bloom_probe(
            batch_first, F.col("__k"), bloom_words, bloom_bits, bloom_k,
            id_col="__k", out_col="__maybe")
        maybe_first = probed.filter(F.col("__maybe")).drop("__maybe")
        fresh_first = probed.filter(~F.col("__maybe")).drop("__maybe")
    else:
        maybe_first, fresh_first = batch_first, None

    if id_buckets is not None:
        # prune the history scan to the buckets of keys that might be
        # in it — with the sidecar, that is the maybe-seen minority
        need = [r["b"] for r in
                (maybe_first.select(F.pmod(F.xxhash64("__k"),
                                           F.lit(id_buckets)).alias("b"))
                 .distinct().collect())]
        hist = hist.filter(F.col("__pb").isin(need)
                           if need else F.lit(False)).drop("__pb")

    seen = (maybe_first.join(hist, "__k", "left")
            .select("__k",
                    F.least("__bf", "__first").alias("__floor"),
                    F.col("__first").isNotNull().alias("__in_hist")))
    if fresh_first is not None:
        # definitely-new keys never touch the keys table: the sidecar's
        # no-false-negative guarantee stands in for the join
        seen = seen.unionByName(
            fresh_first.select("__k", F.col("__bf").alias("__floor"),
                               F.lit(False).alias("__in_hist")))
    kept = (keyed.join(seen.select("__k", "__floor"), "__k")
            .filter(F.col(id_col) <= F.col("__floor"))
            .drop("__floor"))

    new_keys = (seen.filter(~F.col("__in_hist"))
                .select("__k", F.col("__floor").alias("__first")))

    if bloom_bits is not None:
        from ..session import replace_dir
        from . import bloom as _bloom

        # sidecar merge lands BEFORE the keys append: a crash between
        # the two writes leaves the filter with extra bits (false
        # positives — the next batch pays a join it didn't need) but
        # never missing ones (which would silently re-admit dups)
        new_keys = new_keys.persist()
        try:
            if new_keys.count() > 0:
                new_words = _bloom.build_bloom(
                    new_keys, F.col("__k"), bloom_bits, bloom_k)
                merged = (bloom_words.unionByName(new_words)
                          .groupBy("word_idx")
                          .agg(F.bit_or("bits").alias("bits")))
                tmp = f"{words_path}.__tmp"
                merged.coalesce(1).write.mode("overwrite").parquet(tmp)
                if hadoop_exists(spark, words_path):
                    replace_dir(spark, tmp, words_path)
                else:
                    _hadoop_rename(spark, tmp, words_path)
                if not hadoop_exists(spark, meta_path):
                    spark.createDataFrame(
                        [(bloom_bits, bloom_k)], "m_bits long, k long"
                    ).write.parquet(meta_path)
            _append_keys(new_keys, keys_path, id_buckets)
        finally:
            new_keys.unpersist()
    else:
        _append_keys(new_keys, keys_path, id_buckets)

    return kept.unionByName(bad).drop("__k")


def _append_keys(new_keys: DataFrame, keys_path: str,
                 id_buckets: int | None) -> None:
    if id_buckets is not None:
        (new_keys.withColumn("__pb", F.pmod(F.xxhash64("__k"),
                                            F.lit(id_buckets)))
         .write.mode("append").partitionBy("__pb").parquet(keys_path))
    else:
        new_keys.write.mode("append").parquet(keys_path)


def _hadoop_rename(spark, src: str, dst: str) -> None:
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    s = jvm.org.apache.hadoop.fs.Path(src)
    d = jvm.org.apache.hadoop.fs.Path(dst)
    fs = d.getFileSystem(conf)
    if not fs.rename(s, d):
        raise IOError(f"rename {src} -> {dst} failed")


def dedup_eval(pred_pairs, truth_pairs, id_a: str = "id_a",
               id_b: str = "id_b"):
    """Precision/recall/F1 of a candidate duplicate-pair set against a
    truth pair set — the tuning loop every approximate dedup needs:
    before committing a threshold/band/plane count at corpus scale,
    score the method's pairs on a slice where exact truth is affordable
    (a guarded all-pairs run, or labeled pairs). One row:
    ``(n_truth, n_pred, n_hit, precision, recall, f1)``.

    Pairs are unordered: both inputs canonicalize to
    ``(least, greatest)`` and DISTINCT, so orientation and duplicate
    emissions don't skew counts. Zero guards: empty predictions →
    precision NULL (undefined, not 0); empty truth → recall NULL; f1
    NULL when either side is undefined, 0 when both are 0. f1 derives
    from the 1e-6-ROUNDED p and r (documented composition, so an
    engine replay is exact).

    Scale shape: two distinct partial-agg passes + one equi-join on the
    canonical pair key — pair sets, never the corpus."""
    def canon(df):
        return (df.select(F.least(F.col(id_a), F.col(id_b)).alias("__a"),
                          F.greatest(F.col(id_a), F.col(id_b))
                          .alias("__b"))
                .distinct())

    p, t = canon(pred_pairs), canon(truth_pairs)
    n_p = p.agg(F.count(F.lit(1)).alias("n_pred"))
    n_t = t.agg(F.count(F.lit(1)).alias("n_truth"))
    n_h = (p.join(t, ["__a", "__b"])
           .agg(F.count(F.lit(1)).alias("n_hit")))
    j = n_t.crossJoin(F.broadcast(n_p)).crossJoin(F.broadcast(n_h))
    hit = F.col("n_hit").cast("double")
    prec = F.when(F.col("n_pred") > 0,
                  F.round(hit / F.col("n_pred").cast("double"), 6))
    rec = F.when(F.col("n_truth") > 0,
                 F.round(hit / F.col("n_truth").cast("double"), 6))
    staged = j.select("n_truth", "n_pred", "n_hit",
                      prec.alias("precision"), rec.alias("recall"))
    pr = F.col("precision") + F.col("recall")
    f1 = (F.when(F.col("precision").isNull()
                 | F.col("recall").isNull(),
                 F.lit(None).cast("double"))
          .when(pr > 0, F.round(2.0 * F.col("precision")
                                * F.col("recall") / pr, 6))
          .otherwise(F.lit(0.0)))
    return staged.withColumn("f1", f1)
