"""Text-analysis queries over `documents` (training-data extensions).

Every operator here is a native expression with a full DuckDB SQL twin —
token counting, language-ID heuristic, quality scoring, fingerprinting,
sequence packing, vocabulary/n-gram statistics, corpus filtering.

``doc_profile`` folds r3's four per-doc projections (doc_token_stats /
doc_lang_profile / doc_quality / doc_fingerprint) into ONE query: they
all project the same single scan, so folding keeps all four operator
families under the driver's oracle gate while freeing three slots of its
50-query window for the packing / vocab / filter queries below.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions import html as html_fx
from ..operators import bloom as bloom_ops
from ..operators import c4 as c4_ops
from ..operators import dsir as dsir_ops
from ..operators import lm as lm_ops
from ..operators import textstats as ts
from ..operators import urls as url_ops
from ..operators.staging import stage
from .registry import register

_TOKS = "list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t != '')"


def _ratio_sql(markers: list[str]) -> str:
    inlist = ", ".join(f"'{m}'" for m in markers)
    return ("round(CASE WHEN len(toks) > 0 THEN "
            f"CAST(len(list_filter(toks, t -> t IN ({inlist}))) AS DOUBLE)"
            " / len(toks) ELSE 0.0 END, 6)")


# Per-document metric CTE chain shared by doc_profile and
# corpus_filter_stats — the SQL twin of operators/textstats.py's
# expression library (same tokenization, same integer micro-unit quality
# arithmetic, same rounded ratios).
_PROFILE_CTES = f"""
base AS (
  SELECT doc_id, text, {_TOKS} AS toks FROM documents
), scored AS (
  SELECT doc_id, text, toks,
         len(toks) AS n_tokens,
         len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS n_units,
         round(CASE WHEN len(toks) > 0 THEN
               CAST(list_aggregate(list_transform(toks, t -> length(t)),
                    'sum') AS DOUBLE) / len(toks)
               ELSE 0.0 END, 6) AS mean_token_len,
         {_ratio_sql(ts.LANG_MARKERS['de'])} AS de_ratio,
         {_ratio_sql(ts.LANG_MARKERS['en'])} AS en_ratio,
         {_ratio_sql(ts.LANG_MARKERS['es'])} AS es_ratio,
         {_ratio_sql(ts.LANG_MARKERS['fr'])} AS fr_ratio,
         round(CASE WHEN length(text) > 0 THEN
               CAST(length(regexp_replace(text, '[\\w\\s]', '', 'g'))
                    AS DOUBLE) / length(text)
               ELSE 0.0 END, 6) AS punct_ratio,
         round(CASE WHEN len(toks) > 0 THEN
               1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
               ELSE 0.0 END, 6) AS token_dup_ratio,
         round(CASE WHEN len(list_filter(regexp_split_to_array(text, '\\n'),
                                         l -> trim(l) != '')) > 0 THEN
               1.0 - CAST(len(list_distinct(list_filter(
                     regexp_split_to_array(text, '\\n'),
                     l -> trim(l) != ''))) AS DOUBLE)
               / len(list_filter(regexp_split_to_array(text, '\\n'),
                                 l -> trim(l) != ''))
               ELSE 0.0 END, 6) AS line_dup_ratio
  FROM base
), prof AS (
  -- quality in exact integer micro-units (weighted sum on the 1e-7 grid,
  -- half-up to 1e-6) — bit-identical across engines, no float ties
  SELECT doc_id, text, n_tokens, n_units, mean_token_len,
         de_ratio, en_ratio, es_ratio, fr_ratio,
         token_dup_ratio, line_dup_ratio,
         CASE WHEN greatest(de_ratio, en_ratio, es_ratio, fr_ratio) < 0.05
              THEN 'und'
              WHEN de_ratio = greatest(de_ratio, en_ratio, es_ratio, fr_ratio)
              THEN 'de'
              WHEN en_ratio = greatest(de_ratio, en_ratio, es_ratio, fr_ratio)
              THEN 'en'
              WHEN es_ratio = greatest(de_ratio, en_ratio, es_ratio, fr_ratio)
              THEN 'es'
              ELSE 'fr' END AS lang_pred,
         punct_ratio,
         en_ratio AS stopword_ratio,
         floor((4 * CAST(round(least(CAST(length(text) AS DOUBLE) / 500,
                                     1.0) * 1000000) AS BIGINT)
              + 3 * (1000000 - least(CAST(round(punct_ratio * 1000000)
                                          AS BIGINT) * 4, 1000000))
              + 2 * (CASE WHEN mean_token_len >= 3.0
                          AND mean_token_len <= 10.0
                     THEN 1000000 ELSE 500000 END)
              + least(CAST(round(en_ratio * 1000000) AS BIGINT) * 5,
                      1000000)
              + 5) / 10.0) / 1000000.0 AS quality
  FROM scored
)"""


@register(
    "doc_profile",
    doc="Per-document text profile in ONE scan+projection (r4 fold of "
        "doc_token_stats / doc_lang_profile / doc_quality / "
        "doc_fingerprint): whitespace + BPE-ish token counts, mean token "
        "length, per-language marker ratios with argmax language-ID "
        "('und' below 5%), punctuation/stopword ratios, integer-micro-unit "
        "quality score, and the rolling-hash fingerprint. All subtrees "
        "share one tokenization; Catalyst collapses the fold into a "
        "single whole-stage-codegen projection — shuffle-free. r4: + the "
        "deterministic-sampling predicates (sample_bucket hash_fn='md5', "
        "engine-portable) as per-doc flags — plain 20% and "
        "lang-stratified 20% — putting the train/holdout selection rule "
        "itself under the value-check gate.",
    tags=("text",),
    oracle=f"""
WITH {_PROFILE_CTES}
SELECT doc_id, n_tokens, n_units, mean_token_len,
       de_ratio, en_ratio, es_ratio, fr_ratio, lang_pred,
       punct_ratio, stopword_ratio, token_dup_ratio, line_dup_ratio,
       quality,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(regexp_split_to_array(prof.text, ''),
                          c -> CAST(ascii(c) AS BIGINT))),
         (a, b) -> (a * 31 + b) % 1000000007) AS fp,
       CAST(concat('0x', substr(md5(concat_ws(chr(31),
            CAST(prof.doc_id AS VARCHAR), '42')), 1, 8)) AS BIGINT)
         % 1000000 < 200000 AS sample_20,
       CAST(concat('0x', substr(md5(concat_ws(chr(31),
            CAST(prof.doc_id AS VARCHAR), d.lang, '42')), 1, 8)) AS BIGINT)
         % 1000000 < 200000 AS sample_20_lang
FROM prof JOIN documents d USING (doc_id)
""",
)
def doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # stage the token array ONCE (lambda exprs are outside codegen CSE —
    # the 13 metric columns would otherwise each re-split the text;
    # staging measured ~3× faster at sf0.1)
    d = (table(spark, sf_dir, "documents")
         .withColumn("__toks", ts.tokens(F.col("text"))))
    toks = F.col("__toks")
    scores = ts.lang_scores_t(toks)
    return d.select(
        "doc_id",
        ts.token_count_t(toks).alias("n_tokens"),
        ts.bpe_ish_token_count(F.col("text")).alias("n_units"),
        ts.mean_token_len_t(toks).alias("mean_token_len"),
        *[scores[lang].alias(f"{lang}_ratio") for lang in sorted(scores)],
        ts.lang_id_t(toks, scores=scores).alias("lang_pred"),
        ts.punct_ratio(F.col("text")).alias("punct_ratio"),
        ts.stopword_ratio_t(toks).alias("stopword_ratio"),
        ts.token_dup_ratio_t(toks).alias("token_dup_ratio"),
        ts.line_dup_ratio(F.col("text")).alias("line_dup_ratio"),
        ts.quality_score_t(F.col("text"), toks).alias("quality"),
        ts.fingerprint(F.col("text")).alias("fp"),
        (ts.sample_bucket([F.col("doc_id"), F.lit(42)], "md5")
         < 200_000).alias("sample_20"),
        (ts.sample_bucket([F.col("doc_id"), F.col("lang"), F.lit(42)],
                          "md5") < 200_000).alias("sample_20_lang"))


# Fixed BPE merge table for the kind='bpe' branch: rank-ordered, each
# merge's operands are base characters or LOWER-ranked outputs — the
# well-formedness that makes greedy lowest-rank-first encoding (the
# operators/bpe.py pandas_udf loop) provably equal to applying the
# merges in rank order, which is what the DuckDB oracle simulates with
# chained replaces over a space-delimited symbol string.
# tests/test_bpe.py pins the equivalence over the actual corpus vocab.
_BPE_MERGES: list[tuple[str, str]] = [
    ("t", "a"), ("ta", "b"), ("tab", "l"), ("tabl", "e"),
    ("e", "r"), ("o", "r"), ("a", "l"), ("u", "e"),
    ("v", "al"), ("val", "ue"), ("s", "c"), ("sc", "a"), ("sca", "n"),
]


def _bpe_count_sql() -> str:
    """DuckDB twin of ``bpe.token_count(text, _BPE_MERGES)``: per
    pre-tokenized unit, the symbol stream starts space-delimited
    characters; each merge applies as ``replace(' x y ', ' xy ')`` in
    rank order, TWICE — one replace pass misses instances whose leading
    space was consumed by the previous non-overlapping match (e.g. the
    2nd of three back-to-back occurrences), and two passes reach the
    fixpoint for any run the corpus vocabulary can produce (words are
    <= 8 chars). Token count = surviving symbols. The regex drops
    RE2-less Java-isms: ``(?U)`` means UNGREEDY in DuckDB's RE2, so the
    oracle uses the bare pattern (identical on this ASCII corpus)."""
    chain = "(' ' || array_to_string(string_split(u, ''), ' ') || ' ')"
    for x, y in _BPE_MERGES:
        pat, rep = f" {x} {y} ", f" {x}{y} "
        for _ in range(2):
            chain = f"replace({chain}, '{pat}', '{rep}')"
    return ("coalesce(list_sum(list_transform("
            "regexp_extract_all(text, '\\w+|[^\\w\\s]'), "
            f"u -> len(string_split(trim({chain}), ' ')))), 0)")


@register(
    "pack_docs",
    doc="Corpus layout planning, kind-tagged (r4: + sliding-window "
        "chunking; r5: + trained-tokenizer counts). kind='pack': "
        "token-budget sequence packing (budget 1024, sharded by lang) "
        "— each doc's pack id / offset in the concatenated token "
        "stream, spans_packs marking boundary crossers; GPT-style "
        "layout, deterministic at any parallelism, ONE running-total "
        "window partitioned by the shard key (no global-order funnel). "
        "kind='chunk': the RAG/embedding prep twin — 16-token windows "
        "with 4 tokens of overlap (step 12), chunk text and token "
        "counts value-checked (n_tokens carries the chunk token count "
        "on chunk rows); shuffle-free posexplode. kind='bpe': per-doc "
        "token counts under the trained-BPE encoder "
        "(operators/bpe.py encode — Arrow-batched greedy merge loop) "
        "with a fixed rank-ordered merge table; the oracle simulates "
        "the same merges with chained replaces, so the real tokenizer "
        "path is value-checked doc by doc. kind='fertility' (r7, "
        "bpe.fertility_stats): per-lang tokenizer-fit sums — BPE "
        "tokens (n_tokens), whitespace words (pack_id), chars "
        "(pack_offset); tokens-per-word fertility and chars-per-token "
        "compression derive from these, so the sums pin the operator. "
        "kind='whole' (r8, textstats.pack_samples_whole): WHOLE-sample "
        "packing — the SFT layout where nothing splits and no pack "
        "overflows by the length-class construction; pack_id carries "
        "the within-class sequence, chunk_idx the power-of-two class "
        "exponent, over-budget samples surface as NULL; the oracle "
        "replays class, rank, k and the within-pack offset cumsum.",
    tags=("text",),
    oracle=f"""
WITH tl AS (
  SELECT doc_id, lang, {_TOKS} AS toks FROM documents
), t AS (
  SELECT doc_id, lang, CAST(len(toks) AS BIGINT) AS n_tokens FROM tl
), w AS (
  SELECT doc_id, lang, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
             PARTITION BY lang ORDER BY doc_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           0) AS tokens_before
  FROM t
), c AS (
  SELECT doc_id,
         unnest(range(0, CASE WHEN toks IS NULL OR len(toks) <= 0 THEN 0
                ELSE greatest(CAST(ceil((len(toks) - 4) / 12.0) AS BIGINT),
                              1) END)) AS ci,
         toks
  FROM tl
)
SELECT 'pack' AS kind, doc_id, lang, n_tokens,
       CAST(floor(tokens_before / 1024) AS BIGINT) AS pack_id,
       CAST(tokens_before % 1024 AS BIGINT) AS pack_offset,
       (tokens_before % 1024 + n_tokens > 1024) AS spans_packs,
       CAST(NULL AS INT) AS chunk_idx, CAST(NULL AS VARCHAR) AS chunk_text
FROM w
UNION ALL
SELECT 'chunk' AS kind, doc_id, CAST(NULL AS VARCHAR) AS lang,
       CAST(len(list_slice(toks, ci * 12 + 1, ci * 12 + 16)) AS BIGINT)
         AS n_tokens,
       CAST(NULL AS BIGINT) AS pack_id, CAST(NULL AS BIGINT) AS pack_offset,
       FALSE AS spans_packs,
       CAST(ci AS INT) AS chunk_idx,
       array_to_string(list_slice(toks, ci * 12 + 1, ci * 12 + 16), ' ')
         AS chunk_text
FROM c
UNION ALL
SELECT 'bpe' AS kind, doc_id, CAST(NULL AS VARCHAR) AS lang,
       CAST({_bpe_count_sql()} AS BIGINT) AS n_tokens,
       CAST(NULL AS BIGINT) AS pack_id, CAST(NULL AS BIGINT) AS pack_offset,
       FALSE AS spans_packs,
       CAST(NULL AS INT) AS chunk_idx, CAST(NULL AS VARCHAR) AS chunk_text
FROM documents
UNION ALL
SELECT 'fertility' AS kind, CAST(NULL AS BIGINT) AS doc_id, lang,
       CAST(SUM({_bpe_count_sql()}) AS BIGINT) AS n_tokens,
       CAST(SUM(coalesce(len({_TOKS}), 0)) AS BIGINT) AS pack_id,
       CAST(SUM(coalesce(length(text), 0)) AS BIGINT) AS pack_offset,
       FALSE AS spans_packs,
       CAST(NULL AS INT) AS chunk_idx, CAST(NULL AS VARCHAR) AS chunk_text
FROM documents GROUP BY lang
UNION ALL
SELECT 'whole' AS kind, doc_id, lang, n_tokens,
       CAST(NULL AS BIGINT) AS pack_id, CAST(NULL AS BIGINT) AS pack_offset,
       FALSE AS spans_packs,
       CAST(NULL AS INT) AS chunk_idx, CAST(NULL AS VARCHAR) AS chunk_text
FROM t WHERE n_tokens IS NULL OR n_tokens > 1024
UNION ALL
SELECT 'whole' AS kind, doc_id, lang, n_tokens,
       CAST(floor((rn - 1) / k) AS BIGINT) AS pack_id,
       COALESCE(SUM(n_tokens) OVER (
           PARTITION BY lang, ce, floor((rn - 1) / k)
           ORDER BY doc_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         0) AS pack_offset,
       FALSE AS spans_packs,
       CAST(ce AS INT) AS chunk_idx, CAST(NULL AS VARCHAR) AS chunk_text
FROM (
  SELECT doc_id, lang, n_tokens,
         CAST(ceil(log2(greatest(n_tokens, 1))) AS BIGINT) AS ce,
         CAST(floor(1024 / power(2, ceil(log2(greatest(n_tokens, 1)))))
              AS BIGINT) AS k,
         row_number() OVER (
             PARTITION BY lang, ceil(log2(greatest(n_tokens, 1)))
             ORDER BY doc_id ASC) AS rn
  FROM t WHERE n_tokens IS NOT NULL AND n_tokens <= 1024
)
""",
)
def pack_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    counted = d.select("doc_id", "lang",
                       ts.token_count(F.col("text")).alias("__n_tok"))
    pack = (ts.pack_sequences(counted, "__n_tok", "doc_id",
                              budget=1024, partition_col="lang")
            .select(F.lit("pack").alias("kind"), "doc_id", "lang",
                    "n_tokens", "pack_id", "pack_offset", "spans_packs",
                    F.lit(None).cast("int").alias("chunk_idx"),
                    F.lit(None).cast("string").alias("chunk_text")))
    chunk = (ts.chunk_documents(d, "text", "doc_id",
                                chunk_tokens=16, overlap=4)
             .select(F.lit("chunk").alias("kind"), "doc_id",
                     F.lit(None).cast("string").alias("lang"),
                     F.col("n_chunk_tokens").cast("long").alias("n_tokens"),
                     F.lit(None).cast("long").alias("pack_id"),
                     F.lit(None).cast("long").alias("pack_offset"),
                     F.lit(False).alias("spans_packs"),
                     "chunk_idx", "chunk_text"))
    from ..operators import bpe

    bpe_rows = d.select(
        F.lit("bpe").alias("kind"), "doc_id",
        F.lit(None).cast("string").alias("lang"),
        # NULL-text guard: size(encode(NULL)) is -1 (legacy sizeOfNull)
        # while the oracle coalesces a NULL unit list to 0 — align on 0
        # tokens for NULL text so a testdata regen with NULL rows can't
        # hash-mismatch (same rule the pack/chunk branches apply)
        F.when(F.col("text").isNotNull(),
               bpe.token_count(F.col("text"), _BPE_MERGES).cast("long"))
        .otherwise(F.lit(0)).alias("n_tokens"),
        F.lit(None).cast("long").alias("pack_id"),
        F.lit(None).cast("long").alias("pack_offset"),
        F.lit(False).alias("spans_packs"),
        F.lit(None).cast("int").alias("chunk_idx"),
        F.lit(None).cast("string").alias("chunk_text"))
    # kind='fertility' (r7): per-lang tokenizer fertility sums — BPE
    # tokens ride n_tokens, whitespace words ride pack_id, chars ride
    # pack_offset; the ratio columns derive from these three sums, so
    # value-checking the sums pins the operator
    fert_rows = (bpe.fertility_stats(d, _BPE_MERGES, "text", "lang")
                 .select(F.lit("fertility").alias("kind"),
                         F.lit(None).cast("long").alias("doc_id"), "lang",
                         F.col("bpe_tokens").alias("n_tokens"),
                         F.col("ws_tokens").alias("pack_id"),
                         F.col("chars").alias("pack_offset"),
                         F.lit(False).alias("spans_packs"),
                         F.lit(None).cast("int").alias("chunk_idx"),
                         F.lit(None).cast("string").alias("chunk_text")))
    # kind='whole' (r8): whole-sample packing (pack_samples_whole —
    # the SFT layout: nothing splits, no pack overflows by the
    # length-class construction). pack_id carries the within-class
    # sequence number, chunk_idx the power-of-two class EXPONENT, so
    # the (class, seq) identity is fully value-checked; over-budget
    # samples surface as NULL pack ids.
    wplan = ts.pack_samples_whole(counted, "__n_tok", "doc_id",
                                  budget=1024, partition_col="lang")
    wexp = F.ceil(F.log2(F.greatest(F.col("n_units"), F.lit(1)))) \
        .cast("int")
    whole = wplan.select(
        F.lit("whole").alias("kind"), "doc_id", "lang",
        F.col("n_units").alias("n_tokens"),
        F.split(F.col("pack_id"), ":").getItem(1).cast("long")
        .alias("pack_id"),
        F.col("pack_offset").cast("long").alias("pack_offset"),
        F.lit(False).alias("spans_packs"),
        F.when(F.col("pack_id").isNotNull(), wexp).alias("chunk_idx"),
        F.lit(None).cast("string").alias("chunk_text"))
    return (pack.unionByName(chunk).unionByName(bpe_rows)
            .unionByName(fert_rows).unionByName(whole))


_CMS_D, _CMS_W = 4, 512  # kind='cms' sketch (narrow → real collisions)
_CMS_PROBE = ["hash", "spark", "vector", "zzz_absent_term"]


@register(
    "vocab_ngram_counts",
    doc="Corpus vocabulary + word-bigram statistics in one result "
        "(kind='token' | 'bigram'): occurrence and document frequencies, "
        "min_count 3. The tokenizer-training / collocation staple. "
        "Scale: explode → ONE partial-aggregated shuffle per branch; hot "
        "grams collapse map-side, so no skew blowup. "
        "kind='cms'/'cms_probe' (r7, operators/cms.py): a 4×512 "
        "Count-Min sketch over the SAME token stream under the "
        "engine-portable md5 double-hash backend — every nonzero "
        "counter value-checked (gram='row:col', n_occurrences=count) "
        "and four point estimates (incl. an absent term, so the "
        "collision-overcount path is exercised) replayed via the same "
        "min-over-rows rule in DuckDB. The width is deliberately "
        "narrow: collisions must OCCUR for the check to mean anything. "
        "kind='kl' (r8, textstats.unigram_kl): per-lang distribution "
        "shift — KL(stratum ‖ corpus) over add-1-smoothed unigram "
        "distributions on the shared corpus vocabulary (the mixture "
        "audit: which slice is most out of distribution); per-term "
        "contributions pre-rounded to the 1e-12 grid, decimal-"
        "accumulated, the scalar surfaced on an exact 1e-9 integer "
        "grid (n_docs = round(kl·1e9)) with n_occurrences = the "
        "stratum token count. "
        "kind='zipf' (r8, textstats.zipf_fit): the Zipf-law corpus-"
        "health probe — least-squares ln(freq)~ln(rank) over the top-"
        "200 tokens under the vocab tie rule (count DESC, token ASC); "
        "five regression sums decimal-accumulated on the 1e-12 grid, "
        "alpha = −slope and r² surfaced on the 1e-6 integer grid "
        "(gram = 'alpha'/'r2'/'n_ranks').",
    tags=("text",),
    oracle=f"""
WITH tl AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), tok AS (
  SELECT doc_id, unnest(toks) AS gram FROM tl
), bi AS (
  SELECT doc_id,
         unnest(CASE WHEN len(toks) >= 2 THEN
             [array_to_string(toks[i:i+1], ' ')
              for i in generate_series(1, len(toks) - 1)]
           ELSE CAST([] AS VARCHAR[]) END) AS gram
  FROM tl
), cms_w AS (
  SELECT row_idx, col_idx, count(*) AS cnt
  FROM (SELECT i.range AS row_idx,
               (CAST(concat('0x', substr(md5(gram), 1, 8)) AS BIGINT)
                + i.range
                  * CAST(concat('0x', substr(md5(gram), 9, 8)) AS BIGINT))
               % {_CMS_W} AS col_idx
        FROM tok CROSS JOIN range({_CMS_D}) i)
  GROUP BY 1, 2
), cms_e AS (
  SELECT term, min(coalesce(w.cnt, 0)) AS est
  FROM (SELECT term, i.range AS row_idx,
               (CAST(concat('0x', substr(md5(term), 1, 8)) AS BIGINT)
                + i.range
                  * CAST(concat('0x', substr(md5(term), 9, 8)) AS BIGINT))
               % {_CMS_W} AS col_idx
        FROM (SELECT unnest({_CMS_PROBE!r}) AS term)
        CROSS JOIN range({_CMS_D}) i) p
  LEFT JOIN cms_w w USING (row_idx, col_idx)
  GROUP BY term
), klt AS (
  SELECT d.lang AS stratum, t.gram AS token
  FROM tok t JOIN documents d USING (doc_id)
  WHERE d.lang IS NOT NULL
), klq AS (
  SELECT token, count(*) AS c_q FROM klt GROUP BY 1
), kltot AS (
  SELECT sum(c_q) AS n_q, count(*) AS v FROM klq
), kls AS (
  SELECT stratum, count(*) AS n_p FROM klt GROUP BY 1
), klsc AS (
  SELECT stratum, token, count(*) AS c_p FROM klt GROUP BY 1, 2
), klr AS (
  SELECT s.stratum AS stratum, s.n_p AS n_p,
         sum(CAST(round(
             ((CAST(coalesce(p.c_p, 0) AS DOUBLE) + CAST(1.0 AS DOUBLE))
              / (CAST(s.n_p AS DOUBLE)
                 + CAST(1.0 AS DOUBLE) * CAST(t.v AS DOUBLE)))
             * ln(((CAST(coalesce(p.c_p, 0) AS DOUBLE)
                    + CAST(1.0 AS DOUBLE))
                   / (CAST(s.n_p AS DOUBLE)
                      + CAST(1.0 AS DOUBLE) * CAST(t.v AS DOUBLE)))
                  / ((CAST(q.c_q AS DOUBLE) + CAST(1.0 AS DOUBLE))
                     / (CAST(t.n_q AS DOUBLE)
                        + CAST(1.0 AS DOUBLE) * CAST(t.v AS DOUBLE)))),
             12) AS DECIMAL(38,12))) AS klsum
  FROM klq q CROSS JOIN kls s
  LEFT JOIN klsc p ON p.stratum = s.stratum AND p.token = q.token
  CROSS JOIN kltot t
  GROUP BY 1, 2
), ztop AS (
  SELECT n, row_number() OVER (ORDER BY n DESC, gram ASC) AS r
  FROM (SELECT gram, count(*) AS n FROM tok GROUP BY 1
        HAVING count(*) >= 3
        ORDER BY n DESC, gram ASC LIMIT 200)
), zres AS (
  SELECT n_ranks,
         CAST(n_ranks AS DOUBLE) * CAST(sxy AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
         CAST(n_ranks AS DOUBLE) * CAST(sxx AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS dx,
         CAST(n_ranks AS DOUBLE) * CAST(syy AS DOUBLE)
           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS dy
  FROM (
    SELECT count(*) AS n_ranks,
           sum(CAST(round(ln(CAST(r AS DOUBLE)), 12)
                    AS DECIMAL(38,12))) AS sx,
           sum(CAST(round(ln(CAST(n AS DOUBLE)), 12)
                    AS DECIMAL(38,12))) AS sy,
           sum(CAST(round(ln(CAST(r AS DOUBLE)) * ln(CAST(n AS DOUBLE)),
                          12) AS DECIMAL(38,12))) AS sxy,
           sum(CAST(round(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE)),
                          12) AS DECIMAL(38,12))) AS sxx,
           sum(CAST(round(ln(CAST(n AS DOUBLE)) * ln(CAST(n AS DOUBLE)),
                          12) AS DECIMAL(38,12))) AS syy
    FROM ztop)
)
SELECT 'token' AS kind, gram, count(*) AS n_occurrences,
       count(DISTINCT doc_id) AS n_docs
FROM tok GROUP BY 2 HAVING count(*) >= 3
UNION ALL
SELECT 'bigram' AS kind, gram, count(*) AS n_occurrences,
       count(DISTINCT doc_id) AS n_docs
FROM bi GROUP BY 2 HAVING count(*) >= 3
UNION ALL
SELECT 'cms' AS kind,
       CAST(row_idx AS VARCHAR) || ':' || CAST(col_idx AS VARCHAR) AS gram,
       cnt AS n_occurrences, CAST(NULL AS BIGINT) AS n_docs
FROM cms_w
UNION ALL
SELECT 'cms_probe' AS kind, term AS gram, est AS n_occurrences,
       CAST(NULL AS BIGINT) AS n_docs
FROM cms_e
UNION ALL
SELECT 'kl' AS kind, stratum AS gram, n_p AS n_occurrences,
       CAST(round(round(CAST(klsum AS DOUBLE), 9) * 1000000000.0)
            AS BIGINT) AS n_docs
FROM klr
UNION ALL
SELECT 'zipf' AS kind, 'n_ranks' AS gram,
       CAST(n_ranks AS BIGINT) AS n_occurrences,
       CAST(NULL AS BIGINT) AS n_docs
FROM zres
UNION ALL
SELECT 'zipf', 'alpha',
       CASE WHEN dx > 0
            THEN CAST(round(round(-(num / dx), 6) * 1000000.0)
                      AS BIGINT) END,
       CAST(NULL AS BIGINT)
FROM zres
UNION ALL
SELECT 'zipf', 'r2',
       CASE WHEN dx > 0 AND dy > 0
            THEN CAST(round(round(num * num / (dx * dy), 6)
                            * 1000000.0) AS BIGINT) END,
       CAST(NULL AS BIGINT)
FROM zres
""",
    branches={k: (lambda s, d, _k=k: _vocab_branches(s, d, _k))
              for k in ("token", "bigram", "cms", "kl", "zipf")},
)
def vocab_ngram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _vocab_branches(spark, sf_dir, None)


def _vocab_branches(spark: SparkSession, sf_dir: str,
                    kind: str | None) -> DataFrame:
    from ..operators import cms as cms_ops

    d = table(spark, sf_dir, "documents")
    parts: list[DataFrame] = []
    # ONE staged vocabulary aggregate (vocabulary-sized, never corpus-
    # sized; released with the caller's staging scope) feeds the frequency
    # table, the Zipf fit AND the CMS build — each previously
    # re-tokenized and re-exploded the whole corpus (r11: three
    # corpus passes → one for these three branches)
    vocab_full = None
    if kind in (None, "token", "zipf", "cms"):
        vocab_full = stage(ts.vocab_agg(d, "text"))
    if kind in (None, "token"):
        parts.append(ts.vocab_counts(d, "text", min_count=3,
                                     agg=vocab_full)
                     .select(F.lit("token").alias("kind"),
                             F.col("token").alias("gram"),
                             "n_occurrences", "n_docs"))
    if kind in (None, "bigram"):
        parts.append(ts.ngram_counts(d, "text", n=2, min_count=3,
                                     id_col="doc_id")
                     .select(F.lit("bigram").alias("kind"),
                             F.col("ngram").alias("gram"),
                             "n_occurrences", "n_docs"))
    if kind in (None, "kl"):
        # kind='kl' (r8): per-lang KL(stratum ‖ corpus) unigram
        # distribution shift (textstats.unigram_kl) — the scalar lands
        # on an exact 1e-9 integer grid so the BIGINT fold column
        # carries it losslessly (the operator's kl is 1e-9-rounded)
        parts.append(ts.unigram_kl(d, "text", "lang")
                     .select(F.lit("kl").alias("kind"),
                             F.col("stratum").alias("gram"),
                             F.col("n_tokens").cast("long")
                             .alias("n_occurrences"),
                             F.round(F.col("kl") * 1e9).cast("long")
                             .alias("n_docs")))
    if kind in (None, "zipf"):
        # kind='zipf' (r8): the Zipf-law corpus-health scalar — alpha
        # and r² surfaced on the 1e-6 integer grid, n_ranks raw
        zf = ts.zipf_fit(ts.vocab_counts(d, "text", min_count=3,
                                         agg=vocab_full), top_n=200)
        grid = lambda c: F.round(c * 1e6).cast("long")  # noqa: E731
        zr = None
        for g, expr in (("n_ranks", F.col("n_ranks").cast("long")),
                        ("alpha", grid(F.col("alpha"))),
                        ("r2", grid(F.col("r2")))):
            row = zf.select(F.lit("zipf").alias("kind"),
                            F.lit(g).alias("gram"),
                            expr.alias("n_occurrences"),
                            F.lit(None).cast("long").alias("n_docs"))
            zr = row if zr is None else zr.unionByName(row)
        parts.append(zr)
    if kind not in (None, "cms"):
        if not parts:
            raise ValueError(f"unknown vocab_ngram_counts kind {kind!r}")
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
    # weighted build over the staged vocabulary aggregate: CMS counters
    # are sums, so hashing each DISTINCT token once with weight =
    # occurrence count is bit-identical to hashing every occurrence
    # (exceptAll-checked both ways at sf0.1) — md5 work drops from
    # corpus-token to vocabulary cardinality and the corpus is not
    # re-tokenized at all
    sketch = cms_ops.build_cms(vocab_full, F.col("token"), _CMS_D,
                               _CMS_W, hash_fn="md5",
                               weight=F.col("n_occurrences"))
    cms_rows = sketch.select(
        F.lit("cms").alias("kind"),
        F.concat_ws(":", "row_idx", "col_idx").alias("gram"),
        F.col("cnt").alias("n_occurrences"),
        F.lit(None).cast("long").alias("n_docs"))
    probe = spark.createDataFrame([(t,) for t in _CMS_PROBE],
                                  "term string")
    probe_rows = (cms_ops.cms_estimate(probe, F.col("term"), sketch,
                                       _CMS_D, _CMS_W, hash_fn="md5",
                                       id_col="term",
                                       out_col="n_occurrences")
                  .select(F.lit("cms_probe").alias("kind"),
                          F.col("term").alias("gram"),
                          F.col("n_occurrences").cast("long"),
                          F.lit(None).cast("long").alias("n_docs")))
    parts.append(cms_rows.unionByName(probe_rows))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_BM25_TERMS = ["hash", "quantum", "spark", "vector"]  # 'quantum' absent

# kind='rag' (r9): the end-to-end hybrid-RAG query over PERSISTED
# artifacts — fixed params keyed into the cache path; n_probe covers
# every centroid so the probe is the exact top-k regardless of where
# k-means converged (the one non-oracle-able piece is thereby removed
# from the value path while the plan still reads the real IVF layout).
_RAG_QUERY = "spark hash vector"
_RAG_CHUNK, _RAG_OVERLAP = 16, 4
_RAG_DIM, _RAG_SEED, _RAG_CENTROIDS = 32, 42, 4


def _rag_cache_root(sf_dir: str) -> str:
    """Keyed persisted-RAG-root path (the plans/ann.py keyed-cache
    discipline): folds documents.parquet's size+mtime plus every build
    param, so a testdata regen or param change cold-rebuilds instead of
    serving a stale index."""
    import hashlib
    import os
    import tempfile

    src = os.path.join(os.path.realpath(sf_dir), "documents.parquet")
    st = os.stat(src)
    slug = hashlib.md5(src.encode()).hexdigest()[:12]
    params = (f"c{_RAG_CHUNK}o{_RAG_OVERLAP}d{_RAG_DIM}s{_RAG_SEED}"
              f"k{_RAG_CENTROIDS}portable")
    key = hashlib.md5(
        f"{st.st_size}|{st.st_mtime_ns}|{params}".encode()).hexdigest()[:16]
    return os.path.join(tempfile.gettempdir(), "acep_rag_cache", slug,
                        f"rag-{key}")
                                                      # from the corpus —
                                                      # missing-term path
_BM25_SQL_CTES = f"""
tl AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
post AS (
  SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM tl
), tf AS (
  SELECT doc_id, term, count(*) AS tf, min(dl) AS dl
  FROM post GROUP BY 1, 2
), stats AS (
  SELECT count(*) AS n_docs,
         CAST(SUM(len(toks)) AS DOUBLE) / count(*) AS avgdl
  FROM tl
), q AS (
  SELECT unnest({_BM25_TERMS!r}) AS term
), fpost AS (
  SELECT tf.* FROM tf JOIN q USING (term)
), dft AS (
  SELECT term, count(*) AS df_t FROM fpost GROUP BY 1
), bm AS (
  -- every constant cast to DOUBLE so DuckDB's DECIMAL-literal arithmetic
  -- can't diverge from Spark's IEEE doubles
  -- grouping mirrors the Spark expression tree exactly: idf * (num/den),
  -- not (idf*num)/den — FP multiply/divide don't reassociate bit-safely
  SELECT doc_id,
         round(ln(CAST(1 AS DOUBLE)
                  + (CAST(n_docs AS DOUBLE) - df_t + CAST(0.5 AS DOUBLE))
                    / (df_t + CAST(0.5 AS DOUBLE)))
               * ((CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
                  / (CAST(tf AS DOUBLE)
                     + CAST(1.2 AS DOUBLE)
                       * (CAST(0.25 AS DOUBLE)
                          + CAST(0.75 AS DOUBLE) * dl / avgdl))), 6) AS s
  FROM fpost JOIN dft USING (term) CROSS JOIN stats
), bagg AS (
  SELECT doc_id, CAST(count(*) AS INT) AS n_matched,
         CAST(SUM(CAST(s AS DECIMAL(30,6))) AS DOUBLE) AS score
  FROM bm GROUP BY 1
), btop AS (
  SELECT doc_id, n_matched, score
  FROM bagg ORDER BY score DESC, doc_id ASC LIMIT 10
), kt AS (
  SELECT doc_id, term,
         round(CAST(tf AS DOUBLE)
               * ln((CAST(n_docs AS DOUBLE) + CAST(1.0 AS DOUBLE))
                    / (df_t + CAST(1.0 AS DOUBLE))), 6) AS score
  FROM tf
  JOIN (SELECT term, count(*) AS df_t FROM tf GROUP BY 1) AS dfull
       USING (term)
  CROSS JOIN stats
), ktr AS (
  SELECT doc_id, term, score,
         CAST(row_number() OVER (PARTITION BY doc_id
                                 ORDER BY score DESC, term ASC) AS INT)
           AS rank
  FROM kt
), lm_tr AS (
  -- bigram transitions (1-based positions i, i+1); <2-token docs emit
  -- none — mirrors operators/lm.py transition_frame
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(toks), 1)),
                i -> {{'w1': toks[i], 'w2': toks[i + 1]}})) AS tr
  FROM tl
), lm_dtf AS (
  SELECT doc_id, tr.w1 AS w1, tr.w2 AS w2, count(*) AS tf
  FROM lm_tr GROUP BY 1, 2, 3
), lm_bg AS (SELECT w1, w2, sum(tf) AS cb FROM lm_dtf GROUP BY 1, 2),
lm_ctx AS (SELECT w1, sum(tf) AS cctx FROM lm_dtf GROUP BY 1),
lm_v AS (SELECT count(DISTINCT t) AS v
         FROM (SELECT unnest(toks) AS t FROM tl)),
lm_sc AS (
  -- add-1 smoothing, same tree shape as the operator:
  -- p = (cb + 1) / (cctx + 1·(V + 1)); per-transition −ln p rounded to
  -- the 1e-6 grid, decimal-summed ×tf (order-independent)
  SELECT d.doc_id,
         CAST(sum(tf) AS INT) AS nt,
         sum(CAST(round(-ln((CAST(cb AS DOUBLE) + CAST(1.0 AS DOUBLE))
               / (CAST(cctx AS DOUBLE)
                  + CAST(1.0 AS DOUBLE)
                    * (CAST(v AS DOUBLE) + CAST(1.0 AS DOUBLE)))), 6)
             AS DECIMAL(30,6)) * tf) AS s
  FROM lm_dtf d
  JOIN lm_bg USING (w1, w2)
  JOIN lm_ctx USING (w1)
  CROSS JOIN lm_v
  GROUP BY 1
),
-- c-TF-IDF (operators/cluster.py, r7): one (class, term) count; every
-- total DERIVES from it; same expression tree as the operator:
-- (tf/wc) * ln(1 + A/ft), rounded to the 1e-6 grid
ctf_tf AS (
  SELECT lang, t.term, count(*) AS tf
  FROM (SELECT lang, unnest({_TOKS}) AS term FROM documents
        WHERE lang IS NOT NULL) t
  GROUP BY 1, 2
), ctf_wc AS (SELECT lang, sum(tf) AS wc FROM ctf_tf GROUP BY 1),
ctf_ft AS (SELECT term, sum(tf) AS ft FROM ctf_tf GROUP BY 1),
ctf_a AS (SELECT avg(wc) AS a FROM ctf_wc),
ctf_rk AS (
  SELECT lang, term, tf,
         round((CAST(tf AS DOUBLE) / CAST(wc AS DOUBLE))
               * ln(CAST(1.0 AS DOUBLE)
                    + a / CAST(ft AS DOUBLE)), 6) AS score
  FROM ctf_tf JOIN ctf_wc USING (lang) JOIN ctf_ft USING (term)
  CROSS JOIN ctf_a
  WHERE tf >= 2
)"""


# kind='sbo' (Stupid Backoff trigram LM, Brants 2007): position frame,
# three count tables, the backoff CASE chain — every operand
# double-cast in the operator's exact tree shape
_SBO_SQL = """
sbi AS (
  SELECT doc_id, toks,
         unnest(generate_series(1, len(toks))) AS i
  FROM tl WHERE len(toks) >= 1
), sbp AS (
  SELECT doc_id, toks[i] AS w,
         CASE WHEN i >= 2 THEN toks[i - 1] END AS prev,
         CASE WHEN i >= 3 THEN toks[i - 2] END AS prev2
  FROM sbi
), sbu AS (
  SELECT w AS u_w, count(*) AS cu FROM sbp GROUP BY 1
), sbn AS (
  SELECT sum(cu) AS n_tok FROM sbu
), sbb AS (
  SELECT prev AS b_p, w AS b_w, count(*) AS cbi
  FROM sbp WHERE prev IS NOT NULL GROUP BY 1, 2
), sbt AS (
  SELECT prev2 AS t_p2, prev AS t_p1, w AS t_w, count(*) AS ctri
  FROM sbp WHERE prev2 IS NOT NULL GROUP BY 1, 2, 3
), sbs AS (
  SELECT p.doc_id,
         round(-ln(
           CASE WHEN p.prev2 IS NOT NULL THEN
             CASE WHEN t.ctri IS NOT NULL AND b2.cbctx IS NOT NULL
                    THEN CAST(t.ctri AS DOUBLE) / CAST(b2.cbctx AS DOUBLE)
                  WHEN b1.cbi IS NOT NULL AND u2.cuprev IS NOT NULL
                    THEN CAST(0.4 AS DOUBLE)
                         * (CAST(b1.cbi AS DOUBLE)
                            / CAST(u2.cuprev AS DOUBLE))
                  ELSE CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE)
                       * (CASE WHEN u1.cu IS NOT NULL
                               THEN CAST(u1.cu AS DOUBLE)
                                    / CAST(n.n_tok AS DOUBLE)
                               ELSE CAST(1.0 AS DOUBLE)
                                    / (CAST(n.n_tok AS DOUBLE)
                                       + CAST(1.0 AS DOUBLE)) END) END
           WHEN p.prev IS NOT NULL THEN
             CASE WHEN b1.cbi IS NOT NULL AND u2.cuprev IS NOT NULL
                    THEN CAST(b1.cbi AS DOUBLE)
                         / CAST(u2.cuprev AS DOUBLE)
                  ELSE CAST(0.4 AS DOUBLE)
                       * (CASE WHEN u1.cu IS NOT NULL
                               THEN CAST(u1.cu AS DOUBLE)
                                    / CAST(n.n_tok AS DOUBLE)
                               ELSE CAST(1.0 AS DOUBLE)
                                    / (CAST(n.n_tok AS DOUBLE)
                                       + CAST(1.0 AS DOUBLE)) END) END
           ELSE CASE WHEN u1.cu IS NOT NULL
                     THEN CAST(u1.cu AS DOUBLE) / CAST(n.n_tok AS DOUBLE)
                     ELSE CAST(1.0 AS DOUBLE)
                          / (CAST(n.n_tok AS DOUBLE)
                             + CAST(1.0 AS DOUBLE)) END
           END), 6) AS nls
  FROM sbp p
  LEFT JOIN sbt t ON p.prev2 = t.t_p2 AND p.prev = t.t_p1
                 AND p.w = t.t_w
  LEFT JOIN sbb b1 ON p.prev = b1.b_p AND p.w = b1.b_w
  LEFT JOIN (SELECT b_p AS c_p, b_w AS c_w, cbi AS cbctx FROM sbb) b2
         ON p.prev2 = b2.c_p AND p.prev = b2.c_w
  LEFT JOIN sbu u1 ON p.w = u1.u_w
  LEFT JOIN (SELECT u_w AS u_p, cu AS cuprev FROM sbu) u2
         ON p.prev = u2.u_p
  CROSS JOIN sbn n
), sbo AS (
  SELECT doc_id, CAST(count(*) AS INT) AS n_scored,
         round(CAST(sum(CAST(nls AS DECIMAL(30,6))) AS DOUBLE)
               / count(*), 6) AS avg_nls
  FROM sbs GROUP BY 1
)"""

# kind='releval' qrels: graded relevance derived from doc_id arithmetic
# (never from the retrieval output), so the metric check is independent
# of the run it grades
_RELEVAL_SQL = """
relq AS (
  SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN 2
                      WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS rel
  FROM documents
), runr AS (
  SELECT b.doc_id,
         CAST(row_number() OVER (ORDER BY score DESC, b.doc_id ASC)
              AS INT) AS rk,
         coalesce(r.rel, 0) AS rel
  FROM btop b LEFT JOIN relq r USING (doc_id)
), ev_run AS (
  SELECT count(*) FILTER (WHERE rel > 0) AS hits,
         min(rk) FILTER (WHERE rel > 0) AS first_rel,
         sum(CAST(round((pow(CAST(2 AS DOUBLE), CAST(rel AS DOUBLE))
                         - CAST(1 AS DOUBLE))
                        / log2(CAST(rk AS DOUBLE) + CAST(1 AS DOUBLE)), 6)
                  AS DECIMAL(30,6))) AS dcg
  FROM runr
), ev_ideal AS (
  SELECT sum(CAST(round((pow(CAST(2 AS DOUBLE), CAST(rel AS DOUBLE))
                         - CAST(1 AS DOUBLE))
                        / log2(CAST(irank AS DOUBLE) + CAST(1 AS DOUBLE)),
                        6) AS DECIMAL(30,6))) AS idcg
  FROM (SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id ASC)
               AS irank
        FROM relq WHERE rel > 0)
  WHERE irank <= 10
), ev_nrel AS (
  SELECT count(*) FILTER (WHERE rel > 0) AS n_rel FROM relq
), ev AS (
  SELECT * FROM ev_run CROSS JOIN ev_ideal CROSS JOIN ev_nrel
), ev_rows AS (
  SELECT 'precision' AS metric,
         round(CAST(hits AS DOUBLE) / CAST(10 AS DOUBLE), 6) AS value
  FROM ev
  UNION ALL
  SELECT 'recall',
         CASE WHEN n_rel > 0
              THEN round(CAST(hits AS DOUBLE) / CAST(n_rel AS DOUBLE), 6)
         END
  FROM ev
  UNION ALL
  SELECT 'mrr',
         CASE WHEN first_rel IS NOT NULL
              THEN round(CAST(1 AS DOUBLE) / CAST(first_rel AS DOUBLE), 6)
              ELSE CAST(0 AS DOUBLE) END
  FROM ev
  UNION ALL
  SELECT 'ndcg',
         CASE WHEN coalesce(idcg, 0) > 0
              THEN round(CAST(coalesce(dcg, 0) AS DOUBLE)
                         / CAST(idcg AS DOUBLE), 6)
              ELSE CAST(0 AS DOUBLE) END
  FROM ev
)"""


def _rag_sql() -> str:
    """DuckDB twin of the kind='rag' hybrid search end-to-end: the
    16/4 sliding-window chunking (the pack_docs kind='chunk' oracle's
    shape), FNV-1a-32 feature-hash embeddings of every chunk AND the
    query string (the embedding_dup_pairs method='hashed' twin, dim 32
    / seed 42), exact cosine top-10 (what the all-lists IVF probe
    computes), BM25 top-10 over the chunk postings (the kind='search'
    formula on chunk granularity), and the RRF decimal fusion. Every
    arithmetic pattern here is copied from an oracle that already
    hash-matches; this block only re-targets them at the chunk store."""
    basis = (2166136261 ^ _RAG_SEED) % (1 << 32)
    fnv = (f"list_reduce(list_prepend(CAST({basis} AS BIGINT), "
           f"list_transform(string_split(t, ''), "
           f"c -> CAST(unicode(c) AS BIGINT))), "
           f"(hh, cc) -> ((xor(hh, cc)) * 16777619) % 4294967296)")
    step = _RAG_CHUNK - _RAG_OVERLAP
    qterms = ", ".join(repr(t) for t in _RAG_QUERY.split())
    qsorted = ", ".join(repr(t)
                        for t in sorted({t.lower()
                                         for t in _RAG_QUERY.split()}))
    sign = ("CASE WHEN ((hv >> 16) & 1) = 0 THEN 1.0 ELSE -1.0 END")
    unitize = ("CASE WHEN sqrt(list_sum(list_transform(r, x -> x*x))) > 0"
               " THEN list_transform(r,"
               " x -> x / sqrt(list_sum(list_transform(r, y -> y*y))))"
               " ELSE r END")
    return f"""
rag_c AS (
  SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
         doc_id || ':' || ci AS chunk_uid,
         list_slice(toks, ci * {step} + 1,
                    ci * {step} + {_RAG_CHUNK}) AS ctoks
  FROM (SELECT doc_id, toks,
               unnest(range(0,
                 CASE WHEN toks IS NULL OR len(toks) <= 0 THEN 0
                      ELSE greatest(CAST(ceil((len(toks) - {_RAG_OVERLAP})
                                              / {step}.0) AS BIGINT),
                                    1) END)) AS ci
        FROM tl)
), rag_post AS (
  SELECT chunk_uid, term, count(*) AS tf, min(dl) AS dl
  FROM (SELECT chunk_uid, len(ctoks) AS dl, unnest(ctoks) AS term
        FROM rag_c)
  GROUP BY 1, 2
), rag_stats AS (
  SELECT count(*) AS n_docs,
         CAST(SUM(len(ctoks)) AS DOUBLE) / count(*) AS avgdl
  FROM rag_c
), rag_fpost AS (
  SELECT p.* FROM rag_post p
  JOIN (SELECT unnest([{qsorted}]) AS term) q USING (term)
), rag_dft AS (
  SELECT term, count(*) AS df_t FROM rag_fpost GROUP BY 1
), rag_bm AS (
  SELECT chunk_uid,
         round(ln(CAST(1 AS DOUBLE)
                  + (CAST(n_docs AS DOUBLE) - df_t + CAST(0.5 AS DOUBLE))
                    / (df_t + CAST(0.5 AS DOUBLE)))
               * ((CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
                  / (CAST(tf AS DOUBLE)
                     + CAST(1.2 AS DOUBLE)
                       * (CAST(0.25 AS DOUBLE)
                          + CAST(0.75 AS DOUBLE) * dl / avgdl))), 6) AS s
  FROM rag_fpost JOIN rag_dft USING (term) CROSS JOIN rag_stats
), rag_bmrank AS (
  SELECT chunk_uid,
         CAST(row_number() OVER (ORDER BY score DESC, chunk_uid ASC)
              AS INT) AS rank
  FROM (SELECT chunk_uid,
               CAST(SUM(CAST(s AS DECIMAL(30,6))) AS DOUBLE) AS score
        FROM rag_bm GROUP BY 1
        ORDER BY score DESC, chunk_uid ASC LIMIT 10)
), rag_hemb AS (
  SELECT chunk_uid, {unitize} AS hv
  FROM (SELECT chunk_uid,
          list_transform(range(0, {_RAG_DIM}), i ->
            coalesce(list_sum(list_transform(hl, hv ->
              CASE WHEN hv % {_RAG_DIM} = i THEN ({sign})
              ELSE 0.0 END)), 0.0)) AS r
        FROM (SELECT chunk_uid, list_transform(ctoks, t -> {fnv}) AS hl
              FROM rag_c))
), rag_qv AS (
  SELECT {unitize} AS qv
  FROM (SELECT
          list_transform(range(0, {_RAG_DIM}), i ->
            coalesce(list_sum(list_transform(
              list_transform([{qterms}], t -> {fnv}), hv ->
              CASE WHEN hv % {_RAG_DIM} = i THEN ({sign})
              ELSE 0.0 END)), 0.0)) AS r)
), rag_dense AS (
  SELECT chunk_uid, rank FROM (
    SELECT chunk_uid,
           CAST(row_number() OVER (ORDER BY cs DESC, chunk_uid ASC)
                AS INT) AS rank
    FROM (SELECT c.chunk_uid,
                 round(CASE WHEN (sqrt(list_dot_product(c.hv, c.hv))
                                  * sqrt(list_dot_product(q.qv, q.qv)))
                              > 0
                       THEN list_dot_product(c.hv, q.qv)
                            / (sqrt(list_dot_product(c.hv, c.hv))
                               * sqrt(list_dot_product(q.qv, q.qv)))
                       ELSE 0.0 END, 6) AS cs
          FROM rag_hemb c CROSS JOIN rag_qv q))
  WHERE rank <= 10
), rag_hits AS (
  SELECT chunk_uid, score,
         CAST(row_number() OVER (ORDER BY score DESC, chunk_uid ASC)
              AS INT) AS rank
  FROM (SELECT chunk_uid,
               round(CAST(sum(CAST(1.0 / (60 + rank) AS DECIMAL(28,12)))
                          AS DOUBLE), 6) AS score
        FROM (SELECT chunk_uid, rank FROM rag_bmrank
              UNION ALL SELECT chunk_uid, rank FROM rag_dense)
        GROUP BY 1)
)"""


_RAG_SQL = _rag_sql()


@register(
    "doc_search_bm25",
    doc="Term-based ranked retrieval (operators/retrieval.py) — the "
        "capability the embedding-ANN side can't express: relevance to "
        "NAMED terms. kind='search': Okapi BM25 top-10 documents for the "
        f"query {_BM25_TERMS} (one term deliberately absent from the "
        "corpus — missing terms contribute nothing, no NULL poisoning); "
        "postings are broadcast-filtered to the query terms BEFORE any "
        "per-term statistic, so the full-vocabulary DF table never "
        "materializes on the search path. kind='keyterm': top-3 TF-IDF "
        "characteristic terms per document (the corpus-profiling twin, "
        "which IS vocabulary-wide by design). kind='lm' (r5): CCNet-style "
        "bigram-LM fluency scores (operators/lm.py bigram_lm_score) — "
        "the corpus's own add-1-smoothed bigram table scores every "
        "document's mean transition NLL (score = avg_nll, n_matched = "
        "transition count; perplexity = exp(score)) — the quality gate "
        "a crawl pipeline runs before expensive classifiers. "
        "kind='ccnet' (r7): CCNet head/middle/tail perplexity tiers "
        "(Wenzek 2020; operators/lm.py ccnet_buckets) over the SAME "
        "scored frame — term carries the tier label; boundaries are "
        "exact order statistics computed with the two-phase histogram "
        "probe (no global sort), value-checked against DuckDB's "
        "row_number rank rule. kind='ctfidf' (r7, operators/cluster.py): "
        "BERTopic-style class-based TF-IDF top-5 terms per lang class — "
        "(tf/words_class)·ln(1+A/f_term) with every total derived from "
        "ONE (class, term) aggregate (exchange-reuse pinned in pytest); "
        "the deterministic lang classes value-check the scoring math, "
        "the k-means cluster path rides the pinned IVF kernel. "
        "kind='rrf' (r8, operators/retrieval.py rrf_fuse): HYBRID "
        "retrieval — the BM25 term list fused with an embedding-cosine "
        "list by reciprocal-rank fusion (Cormack & Clarke 2009, k=60); "
        "rank position is all that crosses lists so incomparable score "
        "scales fuse without calibration, and the decimal contribution "
        "sum makes the fused ranking order-independent. "
        "kind='releval' (r8, operators/retrieval.py retrieval_eval): "
        "the retrieval-quality feedback loop — precision/recall/MRR/"
        "nDCG@10 of the BM25 run against graded qrels derived from "
        "doc_id arithmetic (%7→rel 2, %3→rel 1 — independent of the "
        "run they grade); Burges-gain DCG contributions pre-rounded "
        "to the 1e-6 grid and decimal-accumulated, IDCG from the "
        "relevance-sorted ideal ordering, all four scalars replayed "
        "in DuckDB. kind='sbo' (r8, operators/lm.py "
        "stupid_backoff_score): Stupid Backoff trigram scoring "
        "(Brants 2007 — THE distributed n-gram LM: relative "
        "frequencies + a fixed 0.4 backoff penalty, no normalization) "
        "— every position scored with the longest matched context, "
        "three partial-agg count tables + five equi-joins; the whole "
        "backoff CASE chain, count tables and per-doc decimal NLS "
        "accumulation replayed in DuckDB. kind='rag' (r9, "
        "pipeline/rag.py): hybrid RAG END-TO-END on persisted "
        "artifacts — rag_prepare builds 16/4 chunks, portable-hash "
        "embeddings (dim 32), an IVF index and the chunk store's BM25 "
        "postings under one keyed cache root; rag_search answers from "
        "the persisted root only (dense probe over all 4 lists = "
        "exact cosine top-10, persisted-postings BM25 top-10, RRF "
        "k=60 fusion); term carries the chunk_uid, n_matched the "
        "chunk_idx. The oracle replays chunking, FNV feature-hashing "
        "of chunks AND query, cosine, BM25 and the decimal RRF sum "
        "end-to-end in DuckDB. Per-doc "
        "score assembly across all kinds is order-independent decimal "
        "accumulation on the 1e-6 grid → fully value-checked against "
        "DuckDB.",
    tags=("text",),
    oracle=f"""
WITH {_BM25_SQL_CTES},
{_SBO_SQL.strip()},
{_RELEVAL_SQL.strip().rstrip()},
{_RAG_SQL.strip()}
SELECT 'search' AS kind, doc_id, CAST(NULL AS VARCHAR) AS term,
       n_matched, score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT)
         AS rank
FROM btop
UNION ALL
SELECT 'keyterm' AS kind, doc_id, term, CAST(NULL AS INT) AS n_matched,
       score, rank
FROM ktr WHERE rank <= 3
UNION ALL
SELECT 'lm' AS kind, doc_id, CAST(NULL AS VARCHAR) AS term,
       nt AS n_matched, round(CAST(s AS DOUBLE) / nt, 6) AS score,
       CAST(NULL AS INT) AS rank
FROM lm_sc
UNION ALL
SELECT 'ccnet' AS kind, doc_id,
       CASE WHEN rn <= n // 3 THEN 'head'
            WHEN rn <= (2 * n) // 3 THEN 'middle'
            ELSE 'tail' END AS term,
       CAST(NULL AS INT) AS n_matched, nll AS score,
       CAST(NULL AS INT) AS rank
FROM (SELECT doc_id, round(CAST(s AS DOUBLE) / nt, 6) AS nll,
             row_number() OVER (
                 ORDER BY round(CAST(s AS DOUBLE) / nt, 6), doc_id)
               AS rn,
             count(*) OVER () AS n
      FROM lm_sc)
UNION ALL
SELECT 'ctfidf' AS kind, CAST(NULL AS BIGINT) AS doc_id,
       lang || ':' || term AS term, CAST(tf AS INT) AS n_matched,
       score,
       CAST(row_number() OVER (PARTITION BY lang
            ORDER BY score DESC, term ASC) AS INT) AS rank
FROM ctf_rk
QUALIFY rank <= 5
UNION ALL
SELECT 'rrf' AS kind, doc_id, CAST(NULL AS VARCHAR) AS term,
       CAST(n_lists AS INT) AS n_matched, score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT)
         AS rank
FROM (
  SELECT doc_id, count(*) AS n_lists,
         round(CAST(sum(CAST(1.0 / (60 + rank) AS DECIMAL(28,12)))
                    AS DOUBLE), 6) AS score
  FROM (
    SELECT doc_id, CAST(row_number() OVER (
        ORDER BY score DESC, doc_id ASC) AS INT) AS rank
    FROM btop
    UNION ALL
    SELECT vec_id AS doc_id, rank FROM (
      SELECT vec_id, CAST(row_number() OVER (
          ORDER BY round(list_cosine_similarity(
              list_transform(embedding, x -> CAST(x AS DOUBLE)),
              (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE))
               FROM embeddings WHERE vec_id = 0)), 6) DESC,
          vec_id ASC) AS INT) AS rank
      FROM embeddings
    ) WHERE rank <= 10
  ) GROUP BY doc_id
)
UNION ALL
SELECT 'releval' AS kind, CAST(NULL AS BIGINT) AS doc_id,
       metric AS term, CAST(10 AS INT) AS n_matched, value AS score,
       CAST(NULL AS INT) AS rank
FROM ev_rows
UNION ALL
SELECT 'sbo' AS kind, doc_id, CAST(NULL AS VARCHAR) AS term,
       n_scored AS n_matched, avg_nls AS score,
       CAST(NULL AS INT) AS rank
FROM sbo
UNION ALL
SELECT 'rag' AS kind, c.doc_id, h.chunk_uid AS term,
       c.chunk_idx AS n_matched, h.score, h.rank
FROM rag_hits h JOIN rag_c c USING (chunk_uid)
WHERE h.rank <= 10
""",
    branches={k: (lambda s, d, _k=k: _doc_search_branches(s, d, _k))
              for k in ("search", "keyterm", "lm", "ccnet", "ctfidf",
                        "rrf", "releval", "sbo", "rag")},
)
def doc_search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _doc_search_branches(spark, sf_dir, None)


def _doc_search_branches(spark: SparkSession, sf_dir: str,
                         kind: str | None) -> DataFrame:
    from ..operators import retrieval as rt

    d = table(spark, sf_dir, "documents")
    parts = []
    if kind in (None, "search", "keyterm", "rrf", "releval"):
        # ONE persisted postings build feeds both retrieval branches and
        # the DF counts (four corpus tokenizations without it — see
        # postings_frame docs); released with the caller's staging scope
        post = rt.postings_frame(d, "text", "doc_id")
        # persisted: (N, avgdl) is one row, but every uncached reference
        # replans a corpus scan under it — bm25 + keyterms + the three
        # bm_top consumers would each pay one
        stats = rt.corpus_stats_frame(d, "text")
        # ONE BM25 build feeds both the search branch and the rrf
        # fusion's term list
        bm_top = rt.bm25_search_from_postings(post, stats, "doc_id",
                                              _BM25_TERMS, top_n=10)
        if kind in (None, "search"):
            parts.append(
                bm_top
                .select(F.lit("search").alias("kind"), "doc_id",
                        F.lit(None).cast("string").alias("term"),
                        F.col("n_terms_matched").alias("n_matched"),
                        "score", "rank"))
        if kind in (None, "rrf"):
            # kind='rrf' (r8): HYBRID retrieval — the BM25 term list
            # fused with an embedding-cosine list by reciprocal-rank
            # fusion (operators/retrieval.py rrf_fuse; embeddings.vec_id
            # aligns with documents.doc_id in this catalog). Rank
            # position is all that crosses lists, so the incomparable
            # score scales fuse without calibration; the decimal
            # contribution sum keeps the fused ranking value-checkable.
            from ..operators import ann as ann_ops

            emb = table(spark, sf_dir, "embeddings")
            qv = (emb.filter(F.col("vec_id") == 0)
                  .select(F.col("vec_id").alias("query_id"),
                          F.col("embedding").alias("query_vec")))
            cos = (ann_ops.brute_force_topk(
                       emb.select("vec_id", "embedding"), qv, k=10)
                   .select(F.col("vec_id").alias("doc_id"), "rank"))
            bm = bm_top.select("doc_id", "rank")
            parts.append(
                rt.rrf_fuse([bm, cos], "doc_id", k=60)
                .select(F.lit("rrf").alias("kind"), "doc_id",
                        F.lit(None).cast("string").alias("term"),
                        F.col("n_lists").alias("n_matched"),
                        F.col("rrf_score").alias("score"), "rank"))
        if kind in (None, "keyterm"):
            parts.append(
                rt.tfidf_keyterms_from_postings(post, stats, "doc_id",
                                                top_k=3)
                .select(F.lit("keyterm").alias("kind"), "doc_id", "term",
                        F.lit(None).cast("int").alias("n_matched"),
                        "score", "rank"))
        if kind in (None, "releval"):
            # kind='releval' (r8): the retrieval-quality feedback loop
            # (operators/retrieval.py retrieval_eval) — the BM25 run
            # graded against qrels derived from doc_id arithmetic, so
            # the judgment column is independent of the run it grades
            # persisted: retrieval_eval references qrels three times
            # (run join, ideal ordering, total-relevant count) — staged
            # once, released with the postings build
            qrels = stage(d.select(
                "doc_id",
                F.when(F.col("doc_id") % 7 == 0, 2)
                .when(F.col("doc_id") % 3 == 0, 1)
                .otherwise(0).alias("rel")))
            parts.append(
                rt.retrieval_eval(bm_top.select("doc_id", "rank"),
                                  qrels, "doc_id", k=10)
                .select(F.lit("releval").alias("kind"),
                        F.lit(None).cast("long").alias("doc_id"),
                        F.col("metric").alias("term"),
                        F.col("k").alias("n_matched"),
                        F.col("value").alias("score"),
                        F.lit(None).cast("int").alias("rank")))
    tok = None
    if kind in (None, "lm", "ccnet", "sbo"):
        # LM scoring needs token ORDER, which the (id, term, tf) postings
        # aggregate has discarded — so the lm/ccnet/sbo subtree stages
        # ONE staged token frame (released with the staging scope) that
        # both scorers derive from. r8 shipped this subtree UNcached on
        # a single-consumer measurement; with sbo's six position-frame
        # references plus bigram's three consumers the fold planned 35
        # distinct corpus scans — the staged frame collapses that to
        # one tokenization scan for the whole subtree (r9 re-measure:
        # fold wall-time flat at sf0.1, scan count 37→~9).
        tok = lm_ops.token_frame(d, "text", "doc_id", persist=True)
    if kind in (None, "lm", "ccnet"):
        scored = lm_ops.bigram_lm_score(d, "text", "doc_id", add_k=1.0,
                                        tok=tok)
        if kind in (None, "lm"):
            parts.append(
                scored
                .select(F.lit("lm").alias("kind"), "doc_id",
                        F.lit(None).cast("string").alias("term"),
                        F.col("n_transitions").alias("n_matched"),
                        F.col("avg_nll").alias("score"),
                        F.lit(None).cast("int").alias("rank")))
        if kind in (None, "ccnet"):
            # ccnet_buckets persists the scored frame, so in the fold
            # the lm arm above reads the same cache instead of paying a
            # second LM scoring pass
            parts.append(
                lm_ops.ccnet_buckets(scored, "avg_nll", "doc_id")
                .select(F.lit("ccnet").alias("kind"), "doc_id",
                        F.col("ppl_bucket").alias("term"),
                        F.lit(None).cast("int").alias("n_matched"),
                        F.col("avg_nll").alias("score"),
                        F.lit(None).cast("int").alias("rank")))
    if kind in (None, "sbo"):
        # kind='sbo' (r8): Stupid Backoff trigram self-scoring — reads
        # the staged token frame shared with the lm/ccnet arms
        parts.append(
            lm_ops.stupid_backoff_score(d, "text", "doc_id", tok=tok)
            .select(F.lit("sbo").alias("kind"), "doc_id",
                    F.lit(None).cast("string").alias("term"),
                    F.col("n_scored").alias("n_matched"),
                    F.col("avg_nls").alias("score"),
                    F.lit(None).cast("int").alias("rank")))
    if kind in (None, "rag"):
        # kind='rag' (r9): hybrid RAG end-to-end on PERSISTED artifacts
        # — 16/4 sliding-window chunks, portable-hash embeddings
        # (dim 32), an IVF index, and the chunk store's BM25 postings,
        # built ONCE per (documents size+mtime, params) key by
        # pipeline/rag.rag_prepare, then rag_search fuses the dense and
        # lexical lists by RRF reading only the persisted root
        # (plan-pinned in tests/test_rag.py). n_probe = n_centroids
        # makes the dense list the exact cosine top-10, so every score
        # is DuckDB-replayable even though k-means placed the lists.
        from ..pipeline.rag import rag_prepare, rag_search
        from ..session import hadoop_exists

        root = _rag_cache_root(sf_dir)
        if not hadoop_exists(spark, f"{root}/meta"):
            # cross-process safety (r10): concurrent bench+pytest runs
            # can both see a missing meta, and building IN PLACE would
            # interleave their replace_dir delete-then-rename swaps
            # mid-build. Build the whole generation under a pid-unique
            # sibling and atomically rename it into the keyed path; the
            # loser of the rename race discards its build and reads the
            # winner's (content is deterministic either way). A stale
            # meta-less root from a crashed pre-r10 in-place build is
            # cleared and the rename retried once. os.rename here is
            # deliberate: _rag_cache_root lives under the local temp
            # dir by construction, so POSIX rename IS the atomic swap;
            # a non-local root would need session.replace_dir instead.
            import os
            import shutil

            build = f"{root}.__build.{os.getpid()}"
            rag_prepare(d, "text", "doc_id", build,
                        chunk_tokens=_RAG_CHUNK, overlap=_RAG_OVERLAP,
                        dim=_RAG_DIM, seed=_RAG_SEED,
                        hash_fn="portable",
                        n_centroids=_RAG_CENTROIDS, kmeans_iter=2)
            os.makedirs(os.path.dirname(root), exist_ok=True)
            try:
                os.rename(build, root)
            except OSError:
                if not hadoop_exists(spark, f"{root}/meta"):
                    # stale meta-less root from a crashed pre-r10
                    # in-place build: clear it and retry the swap —
                    # but GUARDED (r11): another process can rename
                    # ITS build into root between the rmtree and this
                    # retry; if the retry then fails, re-check meta —
                    # a valid index landing is success, not a crash
                    shutil.rmtree(root, ignore_errors=True)
                    try:
                        os.rename(build, root)
                    except OSError:
                        if not hadoop_exists(spark, f"{root}/meta"):
                            raise
                        shutil.rmtree(build, ignore_errors=True)
                else:
                    shutil.rmtree(build, ignore_errors=True)
        hits = rag_search(spark, root, _RAG_QUERY, k=10,
                          n_probe=_RAG_CENTROIDS, hybrid=True)
        parts.append(
            hits.select(
                F.lit("rag").alias("kind"),
                F.split(F.col("chunk_uid"), ":").getItem(0)
                .cast("long").alias("doc_id"),
                F.col("chunk_uid").alias("term"),
                F.col("chunk_idx").cast("int").alias("n_matched"),
                "score",
                F.col("rank").cast("int").alias("rank")))
    if kind in (None, "ctfidf"):
        # kind='ctfidf' (r7, operators/cluster.py): class-based TF-IDF
        # topic terms over the lang classes — the deterministic class
        # column value-checks ALL the scoring arithmetic (the k-means
        # clustering path reuses the pinned IVF kernel in pytest)
        from ..operators import cluster as cl_ops

        t = cl_ops.ctfidf_terms(d, "lang", "text", top_k=5, min_count=2,
                                persist=True)
        parts.append(
            t.select(F.lit("ctfidf").alias("kind"),
                     F.lit(None).cast("long").alias("doc_id"),
                     F.concat_ws(":", "lang", "term").alias("term"),
                     F.col("tf").cast("int").alias("n_matched"),
                     "score", "rank"))
    if not parts:
        raise ValueError(f"unknown doc_search_bm25 kind {kind!r}")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_PII_SUFFIX = "@example.com or call 0412 345 678 abn 51 824 753 556 end"


# kind='mixture' recipe: weights/budget for the lang strata; zh carries
# no weight → exercises unknown='drop'. Target token/row counts are
# computed HERE with the same float arithmetic mixture_sample uses
# (sum in dict order, one division, one multiply) and inlined into the
# oracle as repr-precision literals, so the SQL fraction
# least(1, target/avail) is bit-identical to the operator's.
_MIX_WEIGHTS = {"en": 0.5, "de": 0.2, "fr": 0.2, "es": 0.1}
_MIX_BUDGET = 300
_CAP_N = 20  # kind='cap' per-lang document cap
_DSIR_B = 4096  # kind='dsir' hashed-feature buckets
_DSIR_K = 100  # kind='dsir' selection size (< 500-doc pool at every sf)


def _dsir_sql() -> str:
    """DuckDB twin of ``dsir_select(pool=documents, target=lang='en',
    k=_DSIR_K, n_buckets=_DSIR_B)`` (operators/dsir.py): same md5-prefix
    feature buckets, same add-1 smoothed multinomials, same 1e-6-grid
    per-bucket log-ratio accumulated ×count in exact decimal, same
    (logw DESC, doc_id ASC) top-k."""
    b = _DSIR_B
    return f"""
dsir_tl AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
dsir_g AS (
  SELECT doc_id, unnest(toks) AS g FROM dsir_tl
  UNION ALL
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(toks), 1)),
                i -> toks[i] || ' ' || toks[i + 1])) AS g
  FROM dsir_tl
),
dsir_b AS (SELECT doc_id,
       CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % {b} AS bucket
  FROM dsir_g),
dsir_tc AS (SELECT bucket, count(*) AS ct FROM dsir_b
            JOIN documents USING (doc_id)
            WHERE lang = 'en' GROUP BY 1),
dsir_rc AS (SELECT bucket, count(*) AS cr FROM dsir_b GROUP BY 1),
dsir_tot AS (SELECT
    (SELECT coalesce(sum(ct), 0) FROM dsir_tc) AS tt,
    (SELECT coalesce(sum(cr), 0) FROM dsir_rc) AS rt),
dsir_ratio AS (
  SELECT r.range AS bucket,
         CAST(round(
           ln((CAST(coalesce(t.ct, 0) AS DOUBLE) + CAST(1.0 AS DOUBLE))
              / (CAST(tt AS DOUBLE) + CAST({b} AS DOUBLE)))
         - ln((CAST(coalesce(c.cr, 0) AS DOUBLE) + CAST(1.0 AS DOUBLE))
              / (CAST(rt AS DOUBLE) + CAST({b} AS DOUBLE))), 6)
           AS DECIMAL(30,6)) AS term
  FROM range({b}) r
  LEFT JOIN dsir_tc t ON r.range = t.bucket
  LEFT JOIN dsir_rc c ON r.range = c.bucket
  CROSS JOIN dsir_tot),
dsir_w AS (
  SELECT doc_id, round(CAST(sum(term * n) AS DOUBLE), 6) AS logw
  FROM (SELECT doc_id, bucket, count(*) AS n FROM dsir_b GROUP BY 1, 2)
  JOIN dsir_ratio USING (bucket) GROUP BY 1),
dsir_sel AS (SELECT doc_id FROM dsir_w
             ORDER BY logw DESC, doc_id ASC LIMIT {_DSIR_K})"""


def _mixture_sql() -> str:
    """DuckDB twin of ``mixture_sample(..., hash_fn='md5')``'s report:
    per-stratum availability (one aggregate), fraction
    least(1, target/avail), and the kept count under the SAME
    engine-portable md5 bucket rule ``sample_bucket`` documents.
    ``floor(frac*1e6)`` mirrors Spark's double→long cast (truncation);
    DuckDB's bare CAST would round."""
    tot = sum(_MIX_WEIGHTS.values())
    targets = {s: (w / tot) * _MIX_BUDGET for s, w in _MIX_WEIGHTS.items()}
    vals = ", ".join(f"('{s}', {t!r})" for s, t in targets.items())
    return f"""
mix_strata AS (SELECT * FROM (VALUES {vals}) AS t(stratum, target)),
mix_av AS (SELECT lang AS stratum, CAST(count(*) AS DOUBLE) AS avail
           FROM documents GROUP BY 1),
mix_fr AS (SELECT s.stratum, coalesce(a.avail, 0.0) AS avail,
                  CASE WHEN coalesce(a.avail, 0.0) <= 0 THEN 1.0
                       ELSE least(1.0, s.target / a.avail) END AS frac
           FROM mix_strata s LEFT JOIN mix_av a ON s.stratum = a.stratum),
mix_kept AS (SELECT d.lang AS stratum, count(*) AS kept
             FROM documents d JOIN mix_fr f ON d.lang = f.stratum
             WHERE CAST(concat('0x', substr(md5(concat_ws(chr(31),
                       CAST(d.doc_id AS VARCHAR), d.lang, '42')), 1, 8))
                    AS BIGINT) % 1000000
                   < CAST(floor(f.frac * 1000000) AS BIGINT)
             GROUP BY 1)"""


_URL_CAP_N = 5  # kind='urlcap' per-registrable-domain cap
_URL_SAMPLE_MOD = 37  # kind='urlnorm' canonical-string sample stride


def _url_sql() -> str:
    """DuckDB twin of the URL fixture + shaping arms. The canonical /
    key / domain strings are derived DIRECTLY from the fixture's
    doc_id arithmetic (not by replaying operators/urls.py's regex
    chain) — an independent derivation, so a canonicalization bug on
    any clause (case folding, default-port drop, // collapse, trailing
    slash, tracking strip, param sort, fragment drop, www strip,
    public-suffix-lite domain) hash-mismatches instead of being
    reproduced on both sides."""
    return f"""
url_f AS (
  SELECT doc_id, doc_id % 2 = 0 AS au,
         CAST(doc_id % 23 AS VARCHAR) AS k,
         CAST(doc_id % 7 AS VARCHAR) AS j,
         doc_id % 3 AS m3
  FROM documents
), url_c AS (
  SELECT doc_id,
    concat('https://www.site', k,
           CASE WHEN au THEN '.example.com.au'
                ELSE '.example-two.org:8080' END,
           '/p/', j,
           CASE WHEN m3 IN (0, 1) THEN '?a=1&b=2' ELSE '' END) AS canon,
    concat('site', k,
           CASE WHEN au THEN '.example.com.au'
                ELSE '.example-two.org:8080' END,
           '/p/', j,
           CASE WHEN m3 IN (0, 1) THEN '?a=1&b=2' ELSE '' END) AS ukey,
    CASE WHEN au THEN 'example.com.au' ELSE 'example-two.org' END AS dom
  FROM url_f
)"""


_HTML_SAMPLE_MOD = 41  # kind='html*' extraction sample stride
_CHAT_SAMPLE_MOD = 31  # kind='chat' rendered-sample stride
_WSAMPLE_K = 50  # kind='wsample' Efraimidis-Spirakis selection size

# HTML page fixture, as literal fragments shared byte-for-byte by the
# Spark builder and the SQL oracle (doc_id / text spliced between them;
# single-quote-free so SQL embedding is trivial). The expected
# extraction is derived INDEPENDENTLY from the spliced parts — not by
# replaying functions/html.py's regex chain — so a bug in any removal
# step (script/style/comment/head, block-tag newlines, entity order,
# whitespace folding) hash-mismatches instead of reproducing.
_HTML_F1 = "<!DOCTYPE html><html><HEAD><title> Doc &amp; Page "
_HTML_F2 = (" </title><style>body { color: red; }</style>"
            '<script type="text/javascript">if (1 < 2) '
            '{ document.write("<b>js</b>"); }</script></HEAD>'
            "<body><!-- nav <div>chrome</div> --><h1>Doc ")
_HTML_F3 = "</h1><P>"
_HTML_F4 = "</P>"
_HTML_LIST = "<ul><li>item A</li><li>item B</li></ul>"
_HTML_F5 = "<div>&quot;Example&quot;&nbsp;Pty Ltd</div></body></html>"


_BLOOM_M = 63 * 400  # kind='bloom' filter size (bits)
_BLOOM_K = 5


# C4-cleaning fixture (kind='c4'/'c4text', operators/c4.py): synthetic
# pages built from doc_id ARITHMETIC ONLY (no raw text spliced), so a
# testdata regen can never flip a rule through content — every page's
# expected fate is derivable from its id. Literal fragments shared
# byte-for-byte by the Spark builder and the SQL oracle (single-quote
# free). Per line: L1 always survives the line rules; L2 dies to the
# javascript rule; L3 to terminal punctuation; L4 to min-words; L5
# ('fillerX ' * (id%4) + tail) has 4+(id%4) words, so it survives iff
# id%4 >= 1 — the min-words rule exercised with arithmetic variety; L6
# (even ids) adds the third sentence; the footer dies to punctuation.
# Page fate: lorem (7|id) → curly (11|id) → blocked (13|id) →
# sentences = 1 + (id%4>=1) + (2|id) < 3 unless id%4 == 2 → kept.
_C4_SAMPLE_MOD = 17  # kind='c4text' cleaned-page sample stride
_C4_L1 = "Welcome to the company register page "  # + id + '.'
_C4_L2 = "Please enable javascript to view this content."
_C4_L3 = "Home | About | Contact"
_C4_L4 = "Too short line."
_C4_L5 = "this line ends now."
_C4_L6 = "It also carries one extra detail sentence."
_C4_LOREM = "Also some Lorem ipsum dolor sit amet text."
_C4_CURLY = "var f = function() { return 1; }"
_C4_BLOCK = "This page mentions badword1 explicitly today."
_C4_FOOT = "Copyright 2024 All Rights Reserved"


def _c4_sql() -> str:
    """DuckDB twin of the C4-cleaning fixture. Both the per-page fate
    (kind='c4' rollup) and the expected cleaned text (kind='c4text')
    are derived straight from the doc_id arithmetic above — NOT by
    replaying operators/c4.py's regex rules — so a bug in any rule
    (terminal punct, word count, javascript, lorem/curly/blocklist
    page drops, sentence threshold, reassembly order) hash-mismatches
    instead of reproducing on both sides."""
    return f"""
c4_f AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN 'lorem_ipsum'
              WHEN doc_id % 11 = 0 THEN 'curly_brace'
              WHEN doc_id % 13 = 0 THEN 'blocked_word'
              WHEN doc_id % 4 <> 2 THEN 'too_few_sentences'
              ELSE 'kept' END AS reason
  FROM documents
)"""


def _bloom_sql() -> str:
    """DuckDB twin of the md5-backed Bloom build over documents.text:
    the same double-hash positions (hex slices of md5), 63-bit words,
    bit_or aggregation — the whole filter value-checked word by word."""
    return f"""
bloom_p AS (
  SELECT (CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT)
          + i.range * CAST(concat('0x', substr(md5(text), 9, 8)) AS BIGINT))
         % {_BLOOM_M} AS pos
  FROM documents CROSS JOIN range({_BLOOM_K}) i
  WHERE text IS NOT NULL
), bloom_w AS (
  SELECT pos // 63 AS widx,
         bit_or(CAST(1 AS BIGINT) << CAST(pos % 63 AS INT)) AS bits
  FROM bloom_p GROUP BY 1
)"""


def _html_sql() -> str:
    return f"""
html_f AS (
  SELECT doc_id, text, doc_id % 3 = 0 AS lst,
         '{_HTML_F1}' || CAST(doc_id AS VARCHAR) || '{_HTML_F2}' ||
         CAST(doc_id AS VARCHAR) || '{_HTML_F3}' || text || '{_HTML_F4}' ||
         CASE WHEN doc_id % 3 = 0 THEN '{_HTML_LIST}' ELSE '' END ||
         '{_HTML_F5}' AS html
  FROM documents WHERE doc_id % {_HTML_SAMPLE_MOD} = 0
), html_e AS (
  SELECT doc_id,
         'Doc ' || CAST(doc_id AS VARCHAR) || chr(10) || text || chr(10) ||
         CASE WHEN lst THEN 'item A' || chr(10) || 'item B' || chr(10)
              ELSE '' END ||
         '"Example" Pty Ltd' AS exp_text,
         'Doc & Page ' || CAST(doc_id AS VARCHAR) AS exp_title,
         length(html) AS html_len
  FROM html_f
)"""


@register(
    "corpus_filter_stats",
    doc="Corpus observability rollups, kind-tagged (r4: + PII audit; "
        "r5: + mixture report). kind='mixture': the mixture_sample "
        "report over the lang strata (en/de/fr/es weighted 5:2:2:1, "
        "budget 300 rows, zh unweighted → dropped) — key=stratum, "
        "n_docs=available, n_hits=kept — value-checking the "
        "superset-stable md5 sampling rule and the availability "
        "aggregate end-to-end. "
        "kind='filter': one-pass quality gate drop-reason counts — every "
        "doc gets its FIRST failing rule (empty / too_short / too_long / "
        "punct_heavy / low_quality / lang; 'kept' otherwise, allowed "
        "langs en+und) — the layer that makes a filter deleting 40% of "
        "a crawl debuggable. kind='pii': per-kind doc/hit counts of the "
        "redact_pii patterns over documents ∪ planted PII rows (every "
        "3rd doc re-emitted with a synthetic email+phone+ABN suffix — "
        "scrub coverage must be observable, and the base corpus carries "
        "no PII to count). The patterns are RE2-safe, so the DuckDB "
        "oracle value-checks the Java-regex hit counts exactly. "
        "kind='cap' (r5): cap_per_key(n=20) per lang under the "
        "engine-portable md5(text) keep order — key=lang, "
        "n_docs=available, n_hits=SUM of kept doc_ids (a membership "
        "checksum: the oracle catches a wrong keep CHOICE, not just a "
        "wrong count). "
        "kind='dsir' (r6): DSIR data selection (Xie et al. 2023, "
        "operators/dsir.py) — top-100 pool docs by hashed-n-gram log "
        "importance ratio toward the lang='en' trusted slice, rolled "
        "up per lang of the SELECTED docs: key=lang, n_docs=selected "
        "count, n_hits=SUM of selected doc_ids (membership checksum — "
        "a wrong importance weight that changes the kept set "
        "hash-mismatches, not just a wrong total). Every bucket hash, "
        "smoothed probability, ln, 1e-6 rounding, decimal ×count "
        "accumulation and the (logw, id) top-k replay in DuckDB. "
        "kind='urlnorm'/'urlkey'/'urlcap' (r7, operators/urls.py): "
        "crawl-style URL shaping over a deterministic messy-URL "
        "fixture (upper-cased scheme/host, default and non-default "
        "ports, // runs, trailing /, tracking params, unsorted params, "
        "fragments). urlnorm value-checks canonicalize_url STRING-"
        "EXACTLY on a doc_id%37 sample — the oracle derives the "
        "canonical from the fixture arithmetic, not from the regex "
        "chain, so both sides cannot share a bug. urlkey = url_dedup "
        "(min-doc_id per scheme-less www-less key) rolled up per "
        "registrable domain with a doc_id membership checksum; urlcap "
        "= domain_cap(n=5) under a portable md5(doc_id) keep order, "
        "same checksum discipline as kind='cap'. "
        "kind='html'/'htmltitle'/'htmlratio' (r7, functions/html.py): "
        "HTML→text extraction over synthetic pages wrapping each "
        "sampled doc (script/style/comment/head noise, block tags, "
        "entities) — key = the FULL extracted text / title, derived in "
        "the oracle from the spliced fixture parts, not the regex "
        "chain; htmlratio pins floor(1e6·len(text)/len(html)), the "
        "boilerplate-density signal. "
        "kind='bloom' (r7, operators/bloom.py): the distributed Bloom "
        "filter over md5(text) keys — every (word_idx, bits) word of "
        "the built filter value-checked (key=word_idx, "
        "n_docs=bit_count, n_hits=the 63-bit word itself), double-hash "
        "positions replayed from the same md5 hex slices in DuckDB. "
        "kind='c4'/'c4text' (r7, operators/c4.py): the C4 web-cleaning "
        "recipe (Raffel 2020 §2.2 — terminal-punct/min-words/"
        "javascript line rules, lorem-ipsum/curly-brace/blocklist/"
        "min-sentences page rules) over an arithmetic-only synthetic "
        "page fixture; the oracle derives every page's fate AND the "
        "full cleaned text from the doc_id arithmetic, not the rules, "
        "so both sides cannot share a bug (key=drop reason with doc_id "
        "membership checksum; c4text = the reassembled cleaned page "
        "string-exact on an id%17 sample). "
        "kind='datasheet' (r8, pipeline/datasheet.py): the corpus "
        "datasheet's deterministic sections — volume counts and the "
        "language mix — value-checked THROUGH corpus_datasheet itself; "
        "approximate sections (percentile sketches, HLL dup rate) stay "
        "pytest-gated and pii is covered by kind='pii'. "
        "kind='chat'/'chatval' (r8, operators/chat.py): SFT sample "
        "assembly — chat-template rendering STRING-EXACT on a "
        "doc_id%31 sample with the assistant loss-mask span offsets "
        "as a checksum (the oracle derives both from the fixture's "
        "prefix/suffix length arithmetic, never running the "
        "operator), and validate_chat verdicts over a planted-"
        "violation fixture whose expected reason is a pure CASE over "
        "doc_id%10. "
        "kind='wsample' (r8): Efraimidis-Spirakis weighted sampling "
        "without replacement (textstats.weighted_sample) — k=50 under "
        "a doc_id%7+1 weight and the md5-portable hash, per-lang "
        "membership checksum; the oracle replays u, ln(u)/w on the "
        "1e-6 grid and the (key DESC, doc_id) top-k. "
        "kind='wsamplekey' (r8, textstats.weighted_sample_per_key): "
        "the SOFT domain cap — per-lang E-S weighted top-10 riding "
        "cap_per_key's two-level salted ranking (same weight/hash "
        "family as kind='wsample', per-lang membership checksum; a "
        "wrong salt-level prune or tie-break mismatches the checksum). "
        "kind='dpo' (r8, operators/chat.py preference_pairs): DPO/"
        "reward-model preference-pair assembly — one maximal-contrast "
        "(chosen, rejected) pair per prompt from a scored best-of-n "
        "fixture (groups doc_id%199, scores a multiplicative hash), "
        "min_margin=0.05 and n>=2 gates live; n_hits = "
        "chosen_id*100003+rejected_id, a pair-CHOICE checksum the "
        "oracle replays via (score, id) rank windows.",
    tags=("text",),
    oracle=f"""
WITH {_PROFILE_CTES},
{_url_sql().lstrip()},
{_html_sql().lstrip()},
{_bloom_sql().lstrip()},
{_c4_sql().lstrip()},
{_dsir_sql().lstrip()},
planted AS (
  SELECT text FROM documents
  UNION ALL
  SELECT concat('ping user', CAST(doc_id AS VARCHAR), '{_PII_SUFFIX}')
  FROM documents WHERE doc_id % 3 = 0
),
{_mixture_sql().lstrip()}
SELECT 'filter' AS kind,
       CASE WHEN text IS NULL OR trim(text) = '' THEN 'empty'
            WHEN n_tokens < 10 THEN 'too_short'
            WHEN n_tokens > 100000 THEN 'too_long'
            WHEN punct_ratio > 0.3 THEN 'punct_heavy'
            WHEN quality < 0.3 THEN 'low_quality'
            WHEN lang_pred NOT IN ('en', 'und') THEN 'lang'
            ELSE 'kept' END AS key,
       count(*) AS n_docs, CAST(NULL AS BIGINT) AS n_hits
FROM prof GROUP BY 2
UNION ALL
SELECT 'pii' AS kind, k.key,
       count(*) FILTER (WHERE len(regexp_extract_all(text, k.pat)) > 0)
         AS n_docs,
       CAST(coalesce(SUM(len(regexp_extract_all(text, k.pat))), 0)
            AS BIGINT) AS n_hits
FROM planted CROSS JOIN (
  SELECT * FROM (VALUES
    ('email', '[A-Za-z0-9._%+\\-]+@[A-Za-z0-9.\\-]+\\.[A-Za-z]{{2,}}'),
    ('abn', '\\b\\d{{2}}[ ]?\\d{{3}}[ ]?\\d{{3}}[ ]?\\d{{3}}\\b'),
    ('phone', '(?:\\+61[ ]?|\\(0\\d\\)[ ]?|0)\\d(?:[ \\-]?\\d){{7,8}}\\b')
  ) AS t(key, pat)) k
GROUP BY 2
UNION ALL
SELECT 'mixture' AS kind, f.stratum AS key,
       CAST(f.avail AS BIGINT) AS n_docs,
       coalesce(k.kept, 0) AS n_hits
FROM mix_fr f LEFT JOIN mix_kept k ON f.stratum = k.stratum
UNION ALL
SELECT 'cap' AS kind, lang AS key, count(*) AS n_docs,
       sum(doc_id) FILTER (WHERE rn <= {_CAP_N}) AS n_hits
FROM (SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(text)) AS rn
      FROM documents)
GROUP BY 2
UNION ALL
SELECT 'dsir' AS kind, d.lang AS key, count(*) AS n_docs,
       sum(d.doc_id) AS n_hits
FROM dsir_sel s JOIN documents d USING (doc_id)
GROUP BY 2
UNION ALL
SELECT 'urlnorm' AS kind, canon AS key, count(*) AS n_docs,
       sum(doc_id) AS n_hits
FROM url_c WHERE doc_id % {_URL_SAMPLE_MOD} = 0 GROUP BY canon
UNION ALL
SELECT 'urlkey' AS kind, dom AS key, count(*) AS n_docs,
       sum(doc_id) AS n_hits
FROM (SELECT dom, doc_id,
             min(doc_id) OVER (PARTITION BY ukey) AS first_id
      FROM url_c)
WHERE doc_id = first_id GROUP BY dom
UNION ALL
SELECT 'urlcap' AS kind, dom AS key, count(*) AS n_docs,
       sum(doc_id) FILTER (WHERE rn <= {_URL_CAP_N}) AS n_hits
FROM (SELECT dom, doc_id,
             row_number() OVER (PARTITION BY dom
                 ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rn
      FROM url_c)
GROUP BY dom
UNION ALL
SELECT 'html' AS kind, exp_text AS key, count(*) AS n_docs,
       sum(doc_id) AS n_hits
FROM html_e GROUP BY 2
UNION ALL
SELECT 'htmltitle' AS kind, exp_title AS key, count(*) AS n_docs,
       sum(doc_id) AS n_hits
FROM html_e GROUP BY 2
UNION ALL
SELECT 'htmlratio' AS kind, CAST(doc_id AS VARCHAR) AS key,
       CAST(length(exp_text) AS BIGINT) AS n_docs,
       CAST(floor(1000000.0 * (CAST(length(exp_text) AS DOUBLE)
                               / html_len)) AS BIGINT) AS n_hits
FROM html_e
UNION ALL
SELECT 'bloom' AS kind, CAST(widx AS VARCHAR) AS key,
       CAST(bit_count(bits) AS BIGINT) AS n_docs, bits AS n_hits
FROM bloom_w
UNION ALL
SELECT 'c4' AS kind, reason AS key, count(*) AS n_docs,
       sum(doc_id) AS n_hits
FROM c4_f GROUP BY 2
UNION ALL
SELECT 'c4text' AS kind,
       '{_C4_L1}' || CAST(doc_id AS VARCHAR) || '.' || chr(10) ||
       repeat('filler' || CAST(doc_id % 5 AS VARCHAR) || ' ',
              CAST(doc_id % 4 AS INT)) ||
       '{_C4_L5}' || chr(10) || '{_C4_L6}' AS key,
       CAST(3 AS BIGINT) AS n_docs, doc_id AS n_hits
FROM c4_f WHERE reason = 'kept' AND doc_id % {_C4_SAMPLE_MOD} = 0
UNION ALL
SELECT 'wsample' AS kind, lang AS key, count(*) AS n_docs,
       sum(doc_id) AS n_hits
FROM (
  SELECT doc_id, lang
  FROM (
    SELECT doc_id, lang,
           round(ln((CAST(concat('0x', substr(md5(concat_ws(chr(31),
                       CAST(doc_id AS VARCHAR), '42')), 1, 8)) AS BIGINT)
                     % 1000000 + 1) / 1000000.0)
                 / (doc_id % 7 + 1), 6) AS es_key
    FROM documents)
  ORDER BY es_key DESC, doc_id ASC LIMIT 50
) GROUP BY 2
UNION ALL
SELECT 'wsamplekey' AS kind, lang AS key, count(*) AS n_docs,
       sum(doc_id) AS n_hits
FROM (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang
             ORDER BY es_key DESC, doc_id ASC) AS rn
  FROM (
    SELECT doc_id, lang,
           round(ln((CAST(concat('0x', substr(md5(concat_ws(chr(31),
                       CAST(doc_id AS VARCHAR), '42')), 1, 8)) AS BIGINT)
                     % 1000000 + 1) / 1000000.0)
                 / (doc_id % 7 + 1), 6) AS es_key
    FROM documents)
) WHERE rn <= 10 GROUP BY 2
UNION ALL
SELECT 'chat' AS kind,
       (CASE WHEN doc_id % 3 = 0
             THEN '<|system|>' || chr(10) || 'Answer briefly.' || chr(10)
             ELSE '' END)
       || '<|user|>' || chr(10) || coalesce(substr(text, 1, 40), '')
       || chr(10)
       || '<|assistant|>' || chr(10) || 'Reply '
       || CAST(doc_id AS VARCHAR) || '<|end|>' || chr(10)
       || (CASE WHEN doc_id % 2 = 0
             THEN '<|user|>' || chr(10) || 'Follow-up '
                  || CAST(doc_id % 7 AS VARCHAR) || chr(10)
                  || '<|assistant|>' || chr(10) || 'Done '
                  || CAST(doc_id % 5 AS VARCHAR) || '<|end|>' || chr(10)
             ELSE '' END) AS key,
       CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS BIGINT)
         AS n_docs,
       CAST(a1s * 100003 + a1e
            + CASE WHEN doc_id % 2 = 0
                   THEN (a1e + 8 + 9 + 10
                         + length(CAST(doc_id % 7 AS VARCHAR)) + 1 + 14)
                        * 100003
                        + (a1e + 8 + 9 + 10
                           + length(CAST(doc_id % 7 AS VARCHAR)) + 1 + 14
                           + 5 + length(CAST(doc_id % 5 AS VARCHAR)))
                   ELSE 0 END AS BIGINT) AS n_hits
FROM (
  SELECT doc_id, text,
         CASE WHEN doc_id % 3 = 0 THEN 27 ELSE 0 END
           + 9 + length(coalesce(substr(text, 1, 40), '')) + 1 + 14
           AS a1s,
         CASE WHEN doc_id % 3 = 0 THEN 27 ELSE 0 END
           + 9 + length(coalesce(substr(text, 1, 40), '')) + 1 + 14
           + 6 + length(CAST(doc_id AS VARCHAR)) AS a1e
  FROM documents WHERE doc_id % 31 = 0
)
UNION ALL
SELECT 'chatval' AS kind,
       CASE doc_id % 10
            WHEN 1 THEN 'empty' WHEN 2 THEN 'unknown_role'
            WHEN 3 THEN 'bad_start' WHEN 4 THEN 'misplaced_system'
            WHEN 5 THEN 'repeated_role' WHEN 6 THEN 'empty_content'
            WHEN 7 THEN 'no_final_assistant' ELSE 'valid' END AS key,
       count(*) AS n_docs, sum(doc_id) AS n_hits
FROM documents GROUP BY 2
UNION ALL
SELECT 'datasheet' AS kind, 'volume:n_docs' AS key,
       CAST(NULL AS BIGINT) AS n_docs, count(*) AS n_hits
FROM documents
UNION ALL
SELECT 'datasheet', 'volume:n_null_text', CAST(NULL AS BIGINT),
       count(*) FILTER (WHERE text IS NULL OR trim(text) = '')
FROM documents
UNION ALL
SELECT 'datasheet', 'volume:total_tokens', CAST(NULL AS BIGINT),
       CAST(coalesce(sum(coalesce(n_tokens, 0)), 0) AS BIGINT)
FROM prof
UNION ALL
SELECT 'datasheet', 'volume:total_chars', CAST(NULL AS BIGINT),
       CAST(coalesce(sum(coalesce(length(text), 0)), 0) AS BIGINT)
FROM documents
UNION ALL
SELECT 'datasheet', 'langs:' || lang_pred, CAST(NULL AS BIGINT),
       count(*)
FROM prof GROUP BY 2
UNION ALL
SELECT 'dpo' AS kind, prompt AS key, CAST(n_cand AS BIGINT) AS n_docs,
       chosen_id * 100003 + rejected_id AS n_hits
FROM (
  SELECT prompt,
         max(doc_id) FILTER (WHERE rc = 1) AS chosen_id,
         max(doc_id) FILTER (WHERE rr = 1) AS rejected_id,
         max(cs) FILTER (WHERE rc = 1) AS cscore,
         max(cs) FILTER (WHERE rr = 1) AS rscore,
         count(*) AS n_cand
  FROM (
    SELECT prompt, doc_id, cs,
           row_number() OVER (PARTITION BY prompt
                              ORDER BY cs DESC, doc_id DESC) AS rc,
           row_number() OVER (PARTITION BY prompt
                              ORDER BY cs ASC, doc_id ASC) AS rr
    FROM (
      SELECT 'p' || CAST(doc_id % 199 AS VARCHAR) AS prompt, doc_id,
             round(CAST((doc_id * 2654435761) % 997 AS DOUBLE)
                   / CAST(997.0 AS DOUBLE), 6) AS cs
      FROM documents)
  ) GROUP BY prompt
)
WHERE n_cand >= 2
  AND round(cscore - rscore, 6) >= CAST(0.05 AS DOUBLE)
""",
    branches={k: (lambda s, d, _k=k: _corpus_filter_branches(s, d, _k))
              for k in ("filter", "pii", "mixture", "cap", "dsir", "url",
                        "html", "bloom", "c4", "datasheet", "chat",
                        "wsample", "wsamplekey", "dpo")},
)
def corpus_filter_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _corpus_filter_branches(spark, sf_dir, None)


def _corpus_filter_branches(spark: SparkSession, sf_dir: str,
                            kind: str | None) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    # ONE persisted (doc_id, lang, text) projection feeds every branch
    # (r10, the same fold-staging class as r9's bm25 fix): the fourteen
    # gate analyses are semantically independent but all per-doc
    # predicates/derivations over the same three columns, and several
    # reference the corpus twice (pii's planted∪base union, cap's and
    # dsir's count-vs-kept joins, html/c4's multi-output projections) —
    # unstaged, the fold scheduled 29 distinct parquet scans; staged,
    # one scan + cached reads (InMemoryTableScan prunes columns, so a
    # doc_id-only branch doesn't deserialize text). Released with the
    # caller's staging scope; at 100 TB this is a corpus-sized
    # cache — pass storage_level='DISK_ONLY' via the staging policy
    # (operators/staging.py) rather than evict the working set.
    d = stage(d.select("doc_id", "lang", "text"))
    parts: list[DataFrame] = []
    if kind in (None, "filter"):
        filtered = ts.corpus_filter(d, "text",
                                    allowed_langs=["en", "und"])
        parts.append(
            ts.corpus_filter_stats(filtered)
            .select(F.lit("filter").alias("kind"),
                    F.coalesce("drop_reason", F.lit("kept")).alias("key"),
                    "n_docs", F.lit(None).cast("long").alias("n_hits")))
    if kind in (None, "pii"):
        planted = (d.filter(F.col("doc_id") % 3 == 0)
                   .select(F.concat(F.lit("ping user"),
                                    F.col("doc_id").cast("string"),
                                    F.lit(_PII_SUFFIX)).alias("text")))
        corpus = d.select("text").unionByName(planted)
        parts.append(
            ts.pii_stats(corpus, "text")
            .select(F.lit("pii").alias("kind"), F.col("kind").alias("key"),
                    "n_docs", "n_hits"))
    if kind in (None, "mixture"):
        _, report = ts.mixture_sample(d, "lang", _MIX_WEIGHTS, "doc_id",
                                      budget=_MIX_BUDGET, hash_fn="md5")
        parts.append(
            report.select(F.lit("mixture").alias("kind"),
                          F.col("stratum").alias("key"),
                          F.col("available").cast("long").alias("n_docs"),
                          F.col("kept").cast("long").alias("n_hits")))
    if kind in (None, "cap"):
        # kind='cap': per-key cap with an engine-portable keep order
        # (md5(text) — distinct over this corpus, so the content-hash
        # tiebreak never fires and DuckDB replays the exact kept SET);
        # n_hits = sum of kept doc_ids — a membership checksum, so the
        # oracle catches a wrong keep-choice, not just a wrong count
        capped = ts.cap_per_key(
            d.withColumn("__ord", F.md5("text")), ["lang"], n=_CAP_N,
            order_col="__ord")
        parts.append(
            d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
            .join(capped.groupBy("lang")
                  .agg(F.sum("doc_id").alias("n_hits")), "lang", "left")
            .select(F.lit("cap").alias("kind"), F.col("lang").alias("key"),
                    "n_docs", "n_hits"))
    if kind in (None, "dsir"):
        # kind='dsir': select the 100 pool docs that look most like the
        # lang='en' trusted slice (hashed-n-gram importance resampling),
        # report per-lang selected counts + a doc_id membership checksum
        selected = dsir_ops.dsir_select(
            spark, d.select("doc_id", "lang", "text"),
            d.filter(F.col("lang") == "en").select("text"),
            "text", "doc_id", k=_DSIR_K, n_buckets=_DSIR_B)
        parts.append(
            selected.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("doc_id").alias("n_hits"))
            .select(F.lit("dsir").alias("kind"), F.col("lang").alias("key"),
                    "n_docs", "n_hits"))
    if kind in (None, "url"):
        # kind='urlnorm'/'urlkey'/'urlcap' (one bench branch — they
        # share the fixture projection): crawl URL shaping over a messy
        # deterministic fixture; the oracle derives every expected
        # string from the fixture arithmetic (see _url_sql), so the
        # regex chain in operators/urls.py is checked, not replayed
        uf = d.select(
            "doc_id",
            F.concat(
                F.lit("HTTPS://WWW.Site"),
                (F.col("doc_id") % 23).cast("string"),
                F.when(F.col("doc_id") % 2 == 0,
                       F.lit(".Example.COM.AU:443"))
                 .otherwise(F.lit(".example-Two.ORG:8080")),
                F.lit("//p//"), (F.col("doc_id") % 7).cast("string"),
                F.when(F.col("doc_id") % 3 == 0,
                       F.lit("/?b=2&utm_source=feed&a=1#frag"))
                 .when(F.col("doc_id") % 3 == 1, F.lit("/?a=1&b=2"))
                 .otherwise(F.lit("/"))).alias("url"))
        parts.append(
            uf.filter(F.col("doc_id") % _URL_SAMPLE_MOD == 0)
            .groupBy(url_ops.canonicalize_url("url").alias("key"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("doc_id").alias("n_hits"))
            .select(F.lit("urlnorm").alias("kind"), "key",
                    "n_docs", "n_hits"))
        parts.append(
            url_ops.url_dedup(uf, "url", "doc_id")
            .groupBy(url_ops.registrable_domain("url").alias("key"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("doc_id").alias("n_hits"))
            .select(F.lit("urlkey").alias("kind"), "key",
                    "n_docs", "n_hits"))
        capped_u = url_ops.domain_cap(
            uf.withColumn("__ord", F.md5(F.col("doc_id").cast("string"))),
            "url", _URL_CAP_N, order_col="__ord")
        parts.append(
            uf.groupBy(url_ops.registrable_domain("url").alias("key"))
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .join(capped_u.groupBy(
                      url_ops.registrable_domain("url").alias("key"))
                  .agg(F.sum("doc_id").alias("n_hits")), "key", "left")
            .select(F.lit("urlcap").alias("kind"), "key",
                    "n_docs", "n_hits"))
    if kind in (None, "html"):
        # kind='html'/'htmltitle'/'htmlratio': HTML→text extraction over
        # synthetic pages wrapping each sampled doc; the oracle derives
        # the expected strings from the spliced fixture parts (see
        # _html_sql), so the regex chain is checked, not replayed
        hf = (d.filter(F.col("doc_id") % _HTML_SAMPLE_MOD == 0)
              .select("doc_id", F.concat(
                  F.lit(_HTML_F1), F.col("doc_id").cast("string"),
                  F.lit(_HTML_F2), F.col("doc_id").cast("string"),
                  F.lit(_HTML_F3), F.col("text"), F.lit(_HTML_F4),
                  F.when(F.col("doc_id") % 3 == 0, _HTML_LIST)
                   .otherwise(""),
                  F.lit(_HTML_F5)).alias("html")))
        ext = hf.select(
            "doc_id",
            html_fx.extract_html_text(F.col("html")).alias("etext"),
            html_fx.html_title(F.col("html")).alias("title"),
            html_fx.html_text_ratio(F.col("html")).alias("ratio"))
        parts.append(
            ext.groupBy(F.col("etext").alias("key"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("doc_id").alias("n_hits"))
            .select(F.lit("html").alias("kind"), "key",
                    "n_docs", "n_hits"))
        parts.append(
            ext.groupBy(F.col("title").alias("key"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("doc_id").alias("n_hits"))
            .select(F.lit("htmltitle").alias("kind"), "key",
                    "n_docs", "n_hits"))
        parts.append(
            ext.select(F.lit("htmlratio").alias("kind"),
                       F.col("doc_id").cast("string").alias("key"),
                       F.length("etext").cast("long").alias("n_docs"),
                       F.floor(F.lit(1000000.0) * F.col("ratio"))
                        .cast("long").alias("n_hits")))
    if kind in (None, "bloom"):
        # kind='bloom': the distributed Bloom filter built over
        # md5(text) keys with the engine-portable backend — every
        # (word_idx, bits) word value-checked against DuckDB's replay
        # of the same double-hash positions
        filt = bloom_ops.build_bloom(d, F.col("text"), _BLOOM_M,
                                     _BLOOM_K, hash_fn="md5")
        parts.append(
            filt.select(F.lit("bloom").alias("kind"),
                        F.col("word_idx").cast("string").alias("key"),
                        F.bit_count("bits").cast("long").alias("n_docs"),
                        F.col("bits").alias("n_hits")))
    if kind in (None, "c4"):
        # kind='c4'/'c4text': the C4 cleaning recipe over arithmetic-
        # only synthetic pages (see the _C4_* fixture comment); the
        # oracle derives reasons and cleaned text from the doc_id
        # arithmetic, so the rules are checked, not replayed
        did = F.col("doc_id")
        page = F.concat(
            F.lit(_C4_L1), did.cast("string"), F.lit(".\n"),
            F.lit(_C4_L2 + "\n" + _C4_L3 + "\n" + _C4_L4 + "\n"),
            F.repeat(F.concat(F.lit("filler"), (did % 5).cast("string"),
                              F.lit(" ")), (did % 4).cast("int")),
            F.lit(_C4_L5 + "\n"),
            F.when(did % 2 == 0, F.lit(_C4_L6 + "\n")).otherwise(F.lit("")),
            F.when(did % 7 == 0, F.lit(_C4_LOREM + "\n"))
             .otherwise(F.lit("")),
            F.when(did % 11 == 0, F.lit(_C4_CURLY + "\n"))
             .otherwise(F.lit("")),
            F.when(did % 13 == 0, F.lit(_C4_BLOCK + "\n"))
             .otherwise(F.lit("")),
            F.lit(_C4_FOOT))
        cleaned = c4_ops.c4_clean(d.select("doc_id", page.alias("text")),
                                  "text", blocklist=["badword1"])
        parts.append(
            cleaned.groupBy(F.coalesce("c4_reason", F.lit("kept"))
                            .alias("key"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("doc_id").alias("n_hits"))
            .select(F.lit("c4").alias("kind"), "key", "n_docs", "n_hits"))
        parts.append(
            cleaned.filter(F.col("c4_reason").isNull()
                           & (did % _C4_SAMPLE_MOD == 0))
            .select(F.lit("c4text").alias("kind"),
                    F.col("c4_text").alias("key"),
                    F.col("c4_lines_kept").cast("long").alias("n_docs"),
                    F.col("doc_id").alias("n_hits")))
    if kind in (None, "wsample"):
        # kind='wsample' (r8): Efraimidis-Spirakis weighted sampling
        # without replacement — weight = doc_id%7+1 (deterministic,
        # spans 1..7), k=_WSAMPLE_K under the md5-portable hash, rolled
        # up per lang with a doc_id membership checksum so a wrong key
        # or tie-break changes the hash, not just a count. The oracle
        # replays u from the same md5 arithmetic, ln(u)/w on the same
        # 1e-6 grid, the same (key DESC, doc_id) top-k.
        w = ((F.col("doc_id") % 7) + 1).cast("double")
        sel = ts.weighted_sample(d.withColumn("__w", w), "__w",
                                 k=_WSAMPLE_K, id_col="doc_id",
                                 hash_fn="md5")
        parts.append(
            sel.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("doc_id").alias("n_hits"))
            .select(F.lit("wsample").alias("kind"),
                    F.col("lang").alias("key"), "n_docs", "n_hits"))
    if kind in (None, "wsamplekey"):
        # kind='wsamplekey' (r8): the SOFT domain cap — per-lang E-S
        # weighted top-10 (weighted_sample_per_key riding the salted
        # cap), same weight/hash family as kind='wsample'; membership
        # checksum per lang so a wrong salt-level prune or tie-break
        # (not just a wrong count) mismatches
        w = ((F.col("doc_id") % 7) + 1).cast("double")
        selk = ts.weighted_sample_per_key(
            d.withColumn("__w", w), ["lang"], "__w", n=10,
            id_col="doc_id", hash_fn="md5")
        parts.append(
            selk.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("doc_id").alias("n_hits"))
            .select(F.lit("wsamplekey").alias("kind"),
                    F.col("lang").alias("key"), "n_docs", "n_hits"))
    if kind in (None, "chat"):
        # kind='chat'/'chatval' (r8, operators/chat.py): SFT assembly.
        # 'chat' renders a deterministic multi-turn fixture (system
        # turn on doc_id%3=0, a second exchange on doc_id%2=0, user
        # content from the doc text) through the DEFAULT_TEMPLATE and
        # emits the rendered string (string-exact key on a doc_id%31
        # sample) plus the assistant loss-mask spans as a checksum —
        # the oracle derives both from the fixture's length arithmetic
        # (prefix/suffix constants + length(content)), never running
        # the operator, so both sides cannot share a bug. 'chatval'
        # runs validate_chat over a planted-violation fixture keyed by
        # doc_id%10 (one violation class per residue) — the expected
        # reason in DuckDB is a pure CASE over the residue.
        from ..operators import chat as chat_ops

        did = F.col("doc_id")

        def _t(role: str, content) -> F.Column:
            c = content if not isinstance(content, str) else F.lit(content)
            return F.struct(F.lit(role).alias("role"), c.alias("content"))

        sys_t = _t("system", "Answer briefly.")
        u1 = _t("user", F.substring(F.col("text"), 1, 40))
        a1 = _t("assistant", F.concat(F.lit("Reply "), did.cast("string")))
        u2 = _t("user", F.concat(F.lit("Follow-up "),
                                 (did % 7).cast("string")))
        a2 = _t("assistant", F.concat(F.lit("Done "),
                                      (did % 5).cast("string")))
        base = (F.when(did % 2 == 0, F.array(u1, a1, u2, a2))
                .otherwise(F.array(u1, a1)))
        turns = (F.when(did % 3 == 0, F.concat(F.array(sys_t), base))
                 .otherwise(base))
        cf = (d.filter(did % _CHAT_SAMPLE_MOD == 0)
              .select("doc_id", turns.alias("__turns")))
        spans = chat_ops.assistant_spans(F.col("__turns"))
        parts.append(cf.select(
            F.lit("chat").alias("kind"),
            chat_ops.render_chat(F.col("__turns")).alias("key"),
            F.size(spans).cast("long").alias("n_docs"),
            F.aggregate(
                spans, F.lit(0).cast("long"),
                lambda acc, s: acc + s["start"].cast("long") * 100003
                + s["end"]).alias("n_hits")))

        m = did % 10
        empty = F.array().cast(chat_ops.TURNS_SCHEMA)
        vturns = (
            F.when(m == 1, empty)
            .when(m == 2, F.array(_t("tool", "x"), _t("assistant", "a")))
            .when(m == 3, F.array(_t("assistant", "a")))
            .when(m == 4, F.array(_t("user", "q"), _t("system", "s"),
                                  _t("assistant", "a")))
            .when(m == 5, F.array(_t("user", "q"), _t("user", "q2"),
                                  _t("assistant", "a")))
            .when(m == 6, F.array(_t("user", "  "), _t("assistant", "a")))
            .when(m == 7, F.array(_t("system", "s"), _t("user", "q")))
            .when(m == 0, F.array(_t("user", "q"), _t("assistant", "a")))
            .otherwise(F.array(_t("system", "s"), _t("user", "q"),
                               _t("assistant", "a"), _t("user", "q2"),
                               _t("assistant", "a2"))))
        parts.append(
            d.select(did.alias("doc_id"),
                     F.coalesce(chat_ops.validate_chat(vturns),
                                F.lit("valid")).alias("reason"))
            .groupBy("reason")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("doc_id").alias("n_hits"))
            .select(F.lit("chatval").alias("kind"),
                    F.col("reason").alias("key"), "n_docs", "n_hits"))
    if kind in (None, "dpo"):
        # kind='dpo' (r8, operators/chat.py preference_pairs): DPO/
        # reward-model pair assembly over a scored best-of-n fixture —
        # prompt groups from doc_id%199 (some singletons at small sf,
        # exercising the n>=2 gate), scores from a Weyl-style
        # multiplicative hash on the 1e-6 grid. One pair per prompt:
        # lexicographic (score, id) max vs min with min_margin=0.05,
        # so the margin gate drops real low-contrast groups. n_hits =
        # chosen_id*100003 + rejected_id — a CHOICE checksum: a wrong
        # tournament or tie-break mismatches, not just a wrong count.
        from ..operators import chat as chat_ops

        resp = d.select(
            F.concat(F.lit("p"), (F.col("doc_id") % 199).cast("string"))
            .alias("prompt"),
            F.col("text").alias("response"),
            F.round(((F.col("doc_id") * F.lit(2654435761)) % 997)
                    .cast("double") / F.lit(997.0), 6).alias("score"),
            "doc_id")
        pp = chat_ops.preference_pairs(resp, "prompt", "response",
                                       "score", "doc_id",
                                       min_margin=0.05)
        parts.append(
            pp.select(F.lit("dpo").alias("kind"),
                      F.col("prompt").alias("key"),
                      F.col("n_candidates").cast("long").alias("n_docs"),
                      (F.col("chosen_id") * 100003
                       + F.col("rejected_id")).alias("n_hits")))
    if kind in (None, "datasheet"):
        # kind='datasheet' (r8): the corpus datasheet's deterministic
        # sections value-checked end-to-end THROUGH
        # pipeline/datasheet.py itself (not re-derived inline): volume
        # counts (n_docs / n_null_text / total_tokens / total_chars)
        # and the language mix — all integer-valued, so the cast to the
        # fold's long n_hits is exact. The approximate sections
        # (percentile sketches, HLL dup rate) stay pytest-gated; the
        # pii section is skipped here because kind='pii' already
        # value-checks pii_stats with planted hits (the base corpus
        # carries none). Catalyst prunes the unused datasheet branches
        # via the constant section filter.
        from ..pipeline.datasheet import corpus_datasheet

        sheet = corpus_datasheet(d.select("doc_id", "text"),
                                 "text", "doc_id")
        parts.append(
            sheet.filter(F.col("section").isin("volume", "langs"))
            .select(F.lit("datasheet").alias("kind"),
                    F.concat_ws(":", "section", "key").alias("key"),
                    F.lit(None).cast("long").alias("n_docs"),
                    F.col("value").cast("long").alias("n_hits")))
    if not parts:
        raise ValueError(f"unknown corpus_filter_stats kind {kind!r}")
    out = parts[0]
    for pf in parts[1:]:
        out = out.unionByName(pf)
    return out
