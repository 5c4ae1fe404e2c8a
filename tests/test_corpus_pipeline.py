"""End-to-end corpus pipeline: the composed recipe must chain the
operators coherently — monotone stage counts, rewritten text, packing
invariants, sharded release — with one run record accounting for it."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from australia_company_etl_pipeline_spark.catalog import table
from australia_company_etl_pipeline_spark.operators import staging
from australia_company_etl_pipeline_spark.pipeline.corpus import (
    prepare_training_corpus,
)


def test_prepare_training_corpus_end_to_end(spark, sf_dir, tmp_path):
    docs = table(spark, sf_dir, "documents").select("doc_id", "text",
                                                    "lang")
    # planted near-dups (suffix tweak) + an eval slice for decontamination
    dups = (docs.filter(F.col("doc_id") % 7 == 0)
            .select((F.col("doc_id") + 100000).alias("doc_id"),
                    F.concat("text", F.lit(" tail")).alias("text"),
                    "lang"))
    corpus = docs.unionByName(dups)
    benchmark = docs.filter(F.col("doc_id") % 13 == 0)

    out_dir = str(tmp_path / "release")
    packed, report = prepare_training_corpus(
        corpus, benchmark, segment_words=8, pack_budget=512,
        pack_partition_col="lang", out_dir=out_dir, shards=4)
    rep = report.collect()[0]
    counts = json.loads(rep["stage_counts"])
    order = ["ingested", "quality_filtered", "exact_deduped",
             "near_deduped", "decontaminated", "segment_deduped",
             "packed"]
    assert list(counts) == sorted(order)  # sorted-key JSON
    assert counts["ingested"] == corpus.count()
    # every stage can only shrink the corpus (packing is 1:1)
    for a, b in zip(order, order[1:]):
        assert counts[b] <= counts[a], (a, b, counts)
    assert counts["packed"] == counts["decontaminated"]
    assert counts["near_deduped"] < counts["exact_deduped"]  # dups died
    assert counts["decontaminated"] < counts["near_deduped"]  # eval out

    rows = packed.collect()
    assert len(rows) == counts["packed"]
    for r in rows:
        assert 0 <= r["pack_offset"] < 512
        assert r["pack_id"] >= 0 and r["n_tokens"] > 0
    # the release hit disk, range-sharded
    files = spark.read.parquet(out_dir)
    assert files.count() == counts["packed"]


def test_prepare_training_corpus_minimal_knobs(spark, sf_dir):
    """No benchmark, no segment stage, no sink — optional stages absent
    from the report, pipeline still coherent."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    packed, report = prepare_training_corpus(docs, pack_budget=1024)
    counts = json.loads(report.collect()[0]["stage_counts"])
    assert "decontaminated" not in counts
    assert "segment_deduped" not in counts
    assert counts["packed"] == packed.count() > 0


def test_prepare_training_corpus_cap_and_mixture(spark, sf_dir):
    """The anti-over-representation knobs: ≤N docs per domain before
    dedup, token-budget mixture sampling before packing."""
    docs = (table(spark, sf_dir, "documents")
            .select("doc_id", "text", "lang")
            .withColumn("domain",
                        F.concat(F.lit("host"),
                                 (F.col("doc_id") % 5).cast("string"))))
    langs = [r.lang for r in docs.select("lang").distinct().collect()]
    weights = {lg: 1.0 / len(langs) for lg in langs}
    packed, report = prepare_training_corpus(
        docs, domain_cap=("domain", 20),
        mixture=("lang", weights, 2000), pack_budget=512)
    counts = json.loads(report.collect()[0]["stage_counts"])
    assert counts["domain_capped"] <= counts["quality_filtered"]
    assert counts["domain_capped"] <= 5 * 20
    assert counts["mixture_sampled"] <= counts["near_deduped"]
    assert counts["packed"] == counts["mixture_sampled"]
    # per-domain cap actually enforced on the output
    per_dom = (packed.groupBy("domain")
               .agg(F.count(F.lit(1)).alias("n")).collect())
    assert all(r.n <= 20 for r in per_dom)
    cfg = json.loads(report.collect()[0]["config"])
    assert cfg["domain_cap"] == ["domain", 20]
    assert cfg["mixture"][0] == "lang" and cfg["mixture"][2] == 2000


def test_prepare_training_corpus_keep_best_member(spark, sf_dir):
    """near_keep_col: the kept member of each near-dup cluster is the
    LONGEST text, not the min id — the planted longer near-copy with a
    HIGHER id must survive in place of its original."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    longer = (docs.filter(F.col("doc_id") % 11 == 0)
              .select((F.col("doc_id") + 500000).alias("doc_id"),
                      F.concat("text", F.lit(" extra tail words here"))
                      .alias("text")))
    corpus = docs.unionByName(longer).withColumn("n_chars",
                                                 F.length("text"))
    packed, _ = prepare_training_corpus(
        corpus, near_keep_col="n_chars", pack_budget=2048)
    kept = {r.doc_id for r in packed.select("doc_id").collect()}
    planted = {r.doc_id for r in longer.select("doc_id").collect()}
    # most planted longer copies should win their cluster; their
    # originals should be gone (near-dup detection at the default
    # 0.8 threshold may miss very short docs, so assert majority)
    won = len(kept & planted)
    assert won >= len(planted) * 0.6, (won, len(planted))
    # whenever the pair WAS detected (exactly one side survived),
    # the survivor must be the longer planted copy — an original
    # kept while its longer twin was dropped means min-id election
    # leaked through
    shorter_won = {p for p in planted
                   if p not in kept and (p - 500000) in kept}
    assert not shorter_won, shorter_won


def test_prepare_training_corpus_semantic_and_bpe(spark, sf_dir):
    """The r4 knobs: paraphrase-level semantic dedup via embeddings
    (texts differ → lexical stages keep both; vectors match → semdedup
    drops one per pair) and real trained-BPE token budgets for packing.
    Docs without an embedding row must pass through untouched."""
    import random

    from australia_company_etl_pipeline_spark.operators import bpe

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = docs.count()

    # unique random unit-ish vectors (dim 64 → pairwise cosine ≪ 0.9);
    # every 25th doc is a "paraphrase" of its successor: same vector,
    # different text — only the embedding space can see the duplication
    rng = random.Random(7)
    vecs, leads = {}, []
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    for did in ids:
        if did % 100 >= 90:
            continue                     # no embedding row for this doc
        vecs[did] = [rng.gauss(0, 1) for _ in range(64)]
    for i in range(0, len(ids) - 1, 25):
        a, b = ids[i], ids[i + 1]
        if a in vecs and b in vecs:
            vecs[b] = [x + rng.gauss(0, 0.001) for x in vecs[a]]
            leads.append((a, b))
    emb = spark.createDataFrame(
        [(k, v) for k, v in vecs.items()],
        "doc_id long, embedding array<float>")

    merges = bpe.train_bpe(docs, "text", n_merges=20, max_words=500)
    assert merges                          # corpus text is compressible
    packed, report = prepare_training_corpus(
        docs, semantic_embeddings=emb, semantic_threshold=0.9,
        semantic_clusters=8, bpe_merges=merges, pack_budget=1024)
    counts = json.loads(report.collect()[0]["stage_counts"])
    assert "semantic_deduped" in counts
    # earlier lexical stages may kill a pair member first; the
    # semantic stage drops one member of every pair that REACHES it
    dropped = counts["near_deduped"] - counts["semantic_deduped"]
    assert 0 < dropped <= len(leads), (dropped, len(leads))
    surviving = {r.doc_id for r in packed.select("doc_id").collect()}
    for a, b in leads:                 # never both: one per pair dies
        assert not (a in surviving and b in surviving), (a, b)
    # diff vs the same recipe WITHOUT the semantic stage: the only
    # additional casualties must be planted-pair members (no
    # spurious semantic drops, and embedding-less docs are exempt)
    base, _ = prepare_training_corpus(docs, bpe_merges=merges,
                                      pack_budget=1024)
    base_surviving = {r.doc_id for r in base.select("doc_id")
                      .collect()}
    extra = base_surviving - surviving
    paired = {x for p in leads for x in p}
    assert extra and extra <= paired, (sorted(extra)[:5], dropped)
    # packing used the trained tokenizer, not the unit upper bound
    sample = packed.select("doc_id", "text", "n_tokens").limit(20)
    checked = sample.withColumn(
        "direct", bpe.token_count(F.col("text"), merges)).collect()
    assert checked and all(r.n_tokens == r.direct for r in checked)


def test_prepare_training_corpus_line_dedup_and_classifier(spark,
                                                           sf_dir):
    """r5 stages: boilerplate-line removal runs BEFORE the fuzzy dedups
    (shared footers must not create false near-dup pairs), and the
    learned quality gate drops the classifier's low-probability docs.
    Both stage counts must appear in the run record."""
    import json

    from australia_company_etl_pipeline_spark.pipeline import learn

    docs = table(spark, sf_dir, "documents").select("doc_id", "text",
                                                    "lang")
    # every doc gains a shared footer line; every 5th is spam — made
    # unique per doc (id suffix) so the BOILERPLATE stage can't kill it
    # (identical spam across 100 docs would count as a common line) and
    # the drop is attributable to the classifier stage
    spam = "buy now click free " * 8
    corpus = docs.select(
        "doc_id",
        F.concat(
            F.when(F.col("doc_id") % 5 == 0,
                   F.concat(F.lit(spam), F.col("doc_id").cast("string")))
            .otherwise(F.col("text")),
            F.lit("\ncopyright footer all rights reserved")).alias("text"),
        "lang")

    labeled = corpus.select(
        "text", (F.col("doc_id") % 5 != 0).cast("int").alias("label"))
    model = learn.fit_text_classifier(labeled, "text", "label", dim=32,
                                      reg_param=0.01)
    packed, report = prepare_training_corpus(
        corpus, line_dedup_mode="common", line_min_docs=3,
        quality_classifier=(model, 0.5), pack_budget=1024)
    counts = json.loads(report.collect()[0]["stage_counts"])
    assert "line_deduped" in counts and "classifier_filtered" in counts
    # the footer is gone from every surviving text
    rows = packed.collect()
    assert rows
    assert all("copyright footer" not in r.text for r in rows)
    # spam docs (doc_id % 5 == 0) were classifier-dropped
    assert all(r.doc_id % 5 != 0 for r in rows)
    assert counts["classifier_filtered"] < counts["line_deduped"]


def test_prepare_training_corpus_lm_gate(spark, sf_dir, tmp_path):
    """The batch LM perplexity gate: documents scoring above the frozen
    reference LM's NLL ceiling are dropped with their own stage count —
    the same gate the streaming ingest applies, so backfills and live
    arrivals admit identical corpora."""
    import json
    import math

    from australia_company_etl_pipeline_spark.operators import lm

    # fluent reference: sentences over a SMALL recurring vocabulary so
    # every transition is observed many times and self-scores far below
    # the OOV floor -ln(1/(V+1)). (The sf documents corpus would NOT
    # work here: with a near-unique vocabulary, a rare-but-real
    # transition after a frequent context scores WORSE than pure OOV —
    # the documented add-k caveat that the threshold must be calibrated
    # per corpus, e.g. from a scored reference percentile.)
    sentences = ["the quick brown fox jumps over the lazy dog",
                 "a stitch in time saves nine every single day",
                 "practice makes perfect when the work is steady"]
    fluent = spark.createDataFrame(
        [(i, sentences[i % 3] + " " + sentences[(i + 1) % 3], "en")
         for i in range(500)],
        "doc_id long, text string, lang string")
    lm_path = str(tmp_path / "lm_ref")
    lm.save_bigram_lm(fluent, "text", lm_path)
    v = spark.read.parquet(f"{lm_path}/meta").collect()[0]["v"]
    floor = round(-math.log(1.0 / (v + 1)), 6)

    spam = spark.createDataFrame(
        [(900000 + i,
          " ".join(f"zzq{i}x{j}" for j in range(25)),  # all-OOV salad
          "en") for i in range(40)],
        "doc_id long, text string, lang string")
    corpus = fluent.unionByName(spam)
    packed, report = prepare_training_corpus(
        corpus, lm_gate=(lm_path, floor - 0.1), pack_budget=1024)
    counts = json.loads(report.collect()[0]["stage_counts"])
    assert "lm_gated" in counts
    ids = {r.doc_id for r in packed.select("doc_id").collect()}
    assert not any(i >= 900000 for i in ids)   # spam gated
    # fluent docs pass the gate (exact dedup then collapses the
    # 3 distinct sentence-pair texts to 3 survivors)
    assert counts["lm_gated"] == counts["classifier_filtered"] - 40 \
        if "classifier_filtered" in counts else True
    assert counts["lm_gated"] == counts["quality_filtered"] - 40
    assert ids and all(i < 900000 for i in ids)


def test_prepare_training_corpus_containment_decontamination(spark,
                                                             sf_dir):
    """decontaminate_metric='containment': a corpus doc that EMBEDS a
    benchmark doc inside much longer text must be dropped — the case
    the default whole-document jaccard metric is blind to."""
    import json

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    # per-doc UNIQUE filler: shared filler would make the embedded docs
    # near-dups of EACH OTHER and the near-dedup stage would eat them
    # before decontamination could be attributed
    filler = F.array_join(
        F.transform(F.sequence(F.lit(1), F.lit(300)),
                    lambda i: F.concat(F.lit("pad"),
                                       F.col("doc_id").cast("string"),
                                       F.lit("x"), i.cast("string"))),
        " ")
    embedded = (bench.select(
        (F.col("doc_id") + 700000).alias("doc_id"),
        F.concat(filler, F.lit(" "), F.col("text"),
                 F.lit(" "), filler).alias("text")))
    corpus = docs.unionByName(embedded)
    packed_j, _ = prepare_training_corpus(
        corpus, bench, pack_budget=2048)
    kept_j = {r.doc_id for r in packed_j.select("doc_id").collect()}
    staging.release()
    packed_c, report = prepare_training_corpus(
        corpus, bench, decontaminate_metric="containment",
        pack_budget=2048)
    kept_c = {r.doc_id for r in packed_c.select("doc_id").collect()}
    planted = {r.doc_id for r in embedded.select("doc_id").collect()}
    # jaccard keeps the embedded leaks; containment removes them all
    assert planted <= kept_j
    assert not (planted & kept_c)
    cfg = json.loads(report.collect()[0]["config"])
    assert cfg["decontaminate_metric"] == "containment"


def test_prepare_training_corpus_span_segment_mode(spark, sf_dir):
    """segment_mode='span' in the recipe: a grid-straddling copied span
    is stripped from the later doc (the exact-substring rule), a doc
    that is ENTIRELY a later copy drops, and the run report records the
    mode. mode='grid' on the same corpus keeps the straddler — the
    documented approximation gap."""
    import json

    import pytest

    base = " ".join(f"orig{i}" for i in range(24))
    copied = " ".join(f"orig{i}" for i in range(4, 17))   # 13 tokens
    docs = spark.createDataFrame(
        [(1, base),
         (2, "junk0 junk1 junk2 " + copied + " junk3 junk4"),
         (3, base),                                        # pure copy
         (4, " ".join(f"other{i}" for i in range(30)))],
        "doc_id long, text string")
    packed, report = prepare_training_corpus(
        docs, segment_words=8, segment_mode="span", pack_budget=4096,
        near_threshold=1.01)      # isolate the span stage: exact
    # dedup still eats doc 3 (identical text), near-dup disabled
    rows = {r.doc_id: r.text for r in
            packed.select("doc_id", "text").collect()}
    assert rows[2] == "junk0 junk1 junk2 junk3 junk4"
    assert rows[1] == base
    assert 3 not in rows and 4 in rows
    cfg = json.loads(report.collect()[0]["config"])
    assert cfg["segment_mode"] == "span"
    counts = json.loads(report.collect()[0]["stage_counts"])
    assert counts["segment_deduped"] == 3
    staging.release()

    packed_g, _ = prepare_training_corpus(
        docs, segment_words=8, segment_mode="grid", pack_budget=4096,
        near_threshold=1.01)
    grid = {r.doc_id: r.text for r in
            packed_g.select("doc_id", "text").collect()}
    assert copied in grid[2]      # the grid provably misses it
    with pytest.raises(ValueError, match="unknown segment_mode"):
        prepare_training_corpus(docs, segment_words=8,
                                segment_mode="suffix")


def test_prepare_training_corpus_lm_gate_calibrated(spark, tmp_path):
    """lm_gate=('pct', p, reference_df) pins the documented percentile
    rule end-to-end: the ceiling is resolved from the trusted reference
    slice (no magic max_nll number), spam still gates, and the run
    report records BOTH the resolved ceiling and the percentile."""
    import json

    from australia_company_etl_pipeline_spark.operators import lm

    sentences = ["the quick brown fox jumps over the lazy dog",
                 "a stitch in time saves nine every single day",
                 "practice makes perfect when the work is steady"]
    fluent = spark.createDataFrame(
        [(i, sentences[i % 3] + " " + sentences[(i + 1) % 3], "en")
         for i in range(300)],
        "doc_id long, text string, lang string")
    lm_path = str(tmp_path / "lm_cal")
    lm.save_bigram_lm(fluent, "text", lm_path)
    spam = spark.createDataFrame(
        [(900000 + i, " ".join(f"zzq{i}x{j}" for j in range(25)), "en")
         for i in range(30)],
        "doc_id long, text string, lang string")
    packed, report = prepare_training_corpus(
        fluent.unionByName(spam),
        lm_gate=(lm_path, ("pct", 0.95, fluent)), pack_budget=1024)
    ids = {r.doc_id for r in packed.select("doc_id").collect()}
    assert ids and not any(i >= 900000 for i in ids)
    cfg = json.loads(report.collect()[0]["config"])
    assert cfg["lm_gate_pct"] == 0.95
    # the resolved ceiling is the reference's own 95th percentile —
    # a real finite number the reference itself passes under
    expected = lm.lm_threshold_from_reference(
        fluent, "text", "doc_id", lm_path, pct=0.95)
    assert abs(cfg["lm_gate"] - expected) < 1e-9

    import pytest

    with pytest.raises(ValueError, match="calibration mode"):
        prepare_training_corpus(
            fluent, lm_gate=(lm_path, ("quantile", 0.95, fluent)))


def test_prepare_training_corpus_dsir_selection(spark, sf_dir):
    """dsir_selection=(target_df, k) keeps exactly k surviving docs,
    tilted toward the target slice's vocabulary, AFTER the dedup chain
    (the stage count appears between segment/decontaminate and mixture
    in the report) — and the helper column never leaks into the output."""
    import json

    target_rows = [(9000 + i,
                    "quantum physics entanglement decoherence lectures "
                    "gauge fields computing noise") for i in range(5)]
    pool_rows = (
        [(i, "entanglement decoherence in quantum gauge physics "
             "computing lectures noise fields today") for i in range(20)]
        + [(100 + i, " ".join(
            f"travel{i}x{j} deals{j} hotel{i} flight{j} booking{i}"
            for j in range(4))) for i in range(20)])
    pool = spark.createDataFrame(pool_rows, "doc_id long, text string")
    target = spark.createDataFrame(target_rows, "doc_id long, text string")
    packed, report = prepare_training_corpus(
        pool, dsir_selection=(target, 10), pack_budget=1024)
    counts = json.loads(report.collect()[0]["stage_counts"])
    assert counts["dsir_selected"] == 10
    assert counts["packed"] == 10
    ids = {r.doc_id for r in packed.select("doc_id").collect()}
    assert len(ids) == 10
    # exact dedup collapses the 20 identical physics docs to their
    # keep-first survivor (doc 0); it matches the target vocabulary
    # and must win a selection slot over the travel docs
    assert 0 in ids
    assert "logw" not in packed.columns
    cfg = json.loads(report.collect()[0]["config"])
    assert cfg["dsir"] == [10, 4096]


def test_prepare_training_corpus_classifier_calibrated(spark, sf_dir):
    """quality_classifier=(model, ('pct', p, reference_df)) pins the
    percentile keep-floor end-to-end: the threshold resolves from the
    trusted slice, spam still gates, and the report records both the
    resolved floor and the percentile — the LM gate's calibration
    discipline, now on the learned-quality side."""
    import json

    import pytest

    from australia_company_etl_pipeline_spark.pipeline import learn

    docs = table(spark, sf_dir, "documents").select("doc_id", "text",
                                                    "lang")
    spam = "buy now click free " * 8
    corpus = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.lit(spam), F.col("doc_id").cast("string")))
        .otherwise(F.col("text")).alias("text"),
        "lang")
    clean_ref = corpus.filter(F.col("doc_id") % 5 != 0)
    labeled = corpus.select(
        "text", (F.col("doc_id") % 5 != 0).cast("int").alias("label"))
    model = learn.fit_text_classifier(labeled, "text", "label", dim=32,
                                      reg_param=0.01)
    packed, report = prepare_training_corpus(
        corpus, quality_classifier=(model, ("pct", 0.05, clean_ref)),
        pack_budget=1024)
    rows = packed.collect()
    assert rows and all(r.doc_id % 5 != 0 for r in rows)
    cfg = json.loads(report.collect()[0]["config"])
    assert cfg["quality_classifier_pct"] == 0.05
    expected = learn.classifier_threshold_from_reference(
        clean_ref, "text", model, pct=0.05)
    assert abs(cfg["quality_classifier"] - expected) < 1e-9
    # ~95% of the trusted slice itself passes the floor
    kept_ref = learn.score_documents(
        clean_ref, "text", model, prob_col="p") \
        .filter(F.col("p") >= expected).count()
    assert kept_ref >= 0.9 * clean_ref.count()

    with pytest.raises(ValueError, match="calibration mode"):
        prepare_training_corpus(
            corpus, quality_classifier=(model, ("quantile", 0.05,
                                                clean_ref)))


def test_prepare_training_corpus_url_stages(spark, sf_dir):
    """url_col drives stage-0 URL dedup; domain_cap=(url_col, n) caps on
    the registrable domain derived from it."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text",
                                                    "lang")
    # siblings 2k / 2k+1 share one page; the odd sibling carries the
    # messy variant (scheme case, www, tracking param) -> stage-0 must
    # collapse each pair to its even (min-id) member. Host alternates
    # per page so the registrable-domain cap sees two domains.
    page = (F.col("doc_id") - F.col("doc_id") % 2).cast("string")
    host = F.when((F.col("doc_id") / 2).cast("long") % 2 == 0,
                  F.lit("hosta.example.com")) \
            .otherwise(F.lit("b.example-b.org"))
    base = docs.withColumn(
        "url",
        F.when(F.col("doc_id") % 2 == 1,
               F.concat(F.lit("HTTP://WWW."), host, F.lit("/page/"),
                        page, F.lit("/?utm_source=x")))
        .otherwise(F.concat(F.lit("http://"), host, F.lit("/page/"),
                            page)))
    packed, report = prepare_training_corpus(
        base, url_col="url", domain_cap=("url", 10),
        pack_budget=2048)
    import json as _json
    counts = _json.loads(report.collect()[0]["stage_counts"])
    n_pages = base.select(
        (F.col("doc_id") - F.col("doc_id") % 2)).distinct().count()
    # stage 0 kept exactly one row per page -- the even sibling
    assert counts["url_deduped"] == n_pages
    kept_ids = [r.doc_id for r in packed.select("doc_id").collect()]
    assert all(i % 2 == 0 for i in kept_ids)
    # registrable-domain cap: at most 10 per domain, 2 domains
    assert counts["domain_capped"] <= 20
    assert counts["domain_capped"] < counts["url_deduped"]


def test_prepare_training_corpus_c4_stage(spark, sf_dir):
    """c4_rules drives stage-0b page/line cleaning: pages are rewritten
    to their surviving lines BEFORE the quality filter, page-rule
    failures drop, and the stage count lands in the report."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text",
                                                    "lang")
    good = ("This is a perfectly reasonable first sentence here.\n"
            "The second sentence also reads quite naturally too.\n"
            "A third sentence keeps the page above the floor.")
    base = docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 5 == 0,
               F.lit(good + "\nSome lorem ipsum filler got pasted in."))
        .otherwise(F.concat(
            F.lit(good + "\nHome | About | Contact\n"),
            F.lit("Trailing doc marker number "),
            F.col("doc_id").cast("string"), F.lit("."))))
    packed, report = prepare_training_corpus(
        base, c4_rules={}, pack_budget=2048)
    import json as _json
    counts = _json.loads(report.collect()[0]["stage_counts"])
    n = base.count()
    n_lorem = base.filter(F.col("doc_id") % 5 == 0).count()
    # page rule dropped every lorem page
    assert counts["c4_cleaned"] == n - n_lorem
    assert counts["ingested"] == n
    # line rules rewrote the text: nav chrome gone, prose kept
    texts = [r.text for r in packed.select("text").limit(5).collect()]
    for t in texts:
        assert "Home | About" not in t
        assert t.startswith("This is a perfectly reasonable")


def test_prepare_training_corpus_split_spec(spark, sf_dir):
    """split_spec adds the cluster-hash split column that survives to
    the packed output; every near-dup cluster's survivors share one
    split label and all three labels materialize."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text",
                                                    "lang")
    packed, report = prepare_training_corpus(
        docs, split_spec={"train": 0.8, "val": 0.1, "test": 0.1},
        pack_budget=2048)
    rows = packed.select("doc_id", "split").collect()
    labels = {r.split for r in rows}
    assert labels <= {"train", "val", "test"}
    assert "train" in labels and len(labels) >= 2
    n_train = sum(r.split == "train" for r in rows)
    assert 0.6 <= n_train / len(rows) <= 0.95


def test_prepare_training_corpus_authority_weighted_cap(spark, sf_dir):
    """authority_weights steers the domain cap: with two hosts per
    registrable domain and a rank table favouring one, every capped
    survivor comes from the favoured host (r8 — closes the loop
    graph.pagerank's docstring promises)."""
    docs = (table(spark, sf_dir, "documents")
            .select("doc_id", "text", "lang")
            .filter(F.col("doc_id") < 200))
    host = F.when(F.col("doc_id") % 2 == 0,
                  F.lit("good.example.com")) \
            .otherwise(F.lit("spam.example.com"))
    base = docs.withColumn(
        "url", F.concat(F.lit("http://"), host, F.lit("/d/"),
                        F.col("doc_id").cast("string")))
    ranks = spark.createDataFrame(
        [("good.example.com", 0.9), ("spam.example.com", 0.1)],
        "node string, rank double")
    packed, report = prepare_training_corpus(
        base, url_col="url", domain_cap=("url", 25),
        authority_weights=ranks, pack_budget=2048)
    import json as _json
    counts = _json.loads(report.collect()[0]["stage_counts"])
    assert counts["domain_capped"] <= 25
    kept_ids = [r.doc_id for r in packed.select("doc_id").collect()]
    # only the favoured host's (even-id) docs survive the cap
    assert kept_ids and all(i % 2 == 0 for i in kept_ids)

    import pytest
    with pytest.raises(ValueError, match="authority_weights"):
        prepare_training_corpus(base, authority_weights=ranks)
    with pytest.raises(ValueError, match="authority_weights"):
        prepare_training_corpus(base, domain_cap=("lang", 5),
                                authority_weights=ranks)
