"""End-to-end training-corpus preparation — the composed pipeline.

The individual operators (quality filter, exact/near dedup,
decontamination, packing, sharded release) are each driver-gated or
pytest-pinned on their own; this module is the recipe that chains them
the way a production pretraining-data run does, with the reference's
run-record observability (``/root/reference/src/pipeline.py:255-281``
stage accounting, here ONE unioned count plan instead of per-stage
re-counts) attached to every stage boundary.

Stage frames are staged (``staging.stage``, at the staging default
level) because two consumers pull on each: the next stage and the
stage-count report.  Without the persist, the report's count job and
the downstream stage would both recompute the full prefix of the
pipeline.  Run the call and its terminal action inside
``staging.scope()``, which releases every stage frame and every frame
the operators staged along the way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import dedup as dd
from ..operators import textstats as ts
from ..operators.audit import pipeline_run_record
from ..operators.staging import stage

# Only an alias: the benchmark harness (perfbench/harness.py) imports it.
from ..operators.staging import release as release_corpus_cache  # noqa: F401


def prepare_training_corpus(
        docs: DataFrame,
        benchmark: DataFrame | None = None,
        *,
        text_col: str = "text",
        id_col: str = "doc_id",
        run_id: str = "corpus-run",
        near_threshold: float = 0.8,
        num_hashes: int = 32,
        bands: int = 8,
        near_keep_col: str | None = None,
        split_spec: dict[str, float] | None = None,
        split_seed: int = 42,
        decontaminate_metric: str = "jaccard",
        benchmark_embeddings: DataFrame | None = None,
        semantic_decon_threshold: float = 0.9,
        semantic_embeddings: DataFrame | None = None,
        semantic_threshold: float = 0.95,
        semantic_clusters: int = 16,
        semantic_keep: str = "far",
        bpe_merges: list[tuple[str, str]] | None = None,
        url_col: str | None = None,
        c4_rules: dict | None = None,
        domain_cap: tuple[str, int] | None = None,
        authority_weights: DataFrame | None = None,
        line_dedup_mode: str | None = None,
        line_min_docs: int = 3,
        quality_classifier=None,
        lm_gate: tuple[str, float] | None = None,
        mixture: tuple[str, dict[str, float], int] | None = None,
        mixture_unknown: str = "error",
        segment_words: int | None = None,
        segment_mode: str = "grid",
        dsir_selection: tuple[DataFrame, int] | None = None,
        dsir_buckets: int = 4096,
        pack_budget: int = 2048,
        pack_partition_col: str | None = None,
        filter_kwargs: dict | None = None,
        out_dir: str | None = None,
        shards: int = 8) -> tuple[DataFrame, DataFrame]:
    """Raw documents → packed, deduplicated, decontaminated corpus.

    Stages (each optional knob noted):

    0. URL dedup (only when ``url_col`` is given) — ``urls.url_dedup``
       collapses refetches of one page under scheme/www/tracking-param
       variants (min-id keep) BEFORE anything content-level runs: the
       cheapest pass goes first;
    0b. C4 page/line cleaning (only when ``c4_rules`` is given — a
       kwargs dict for ``c4.c4_clean``, ``{}`` for the paper defaults)
       — the Raffel-2020 web-cleaning recipe: line rules (terminal
       punctuation, min words, javascript) rewrite each page, page
       rules (lorem ipsum, curly brace, blocklist, min sentences) drop
       it. Runs BEFORE the quality filter, per the original pipeline's
       ordering: nav chrome and boilerplate lines would otherwise skew
       the punctuation/stopword quality metrics of pages whose actual
       prose is fine. One extra shuffle-free projection;
    1. quality filter — ``corpus_filter`` one-pass gate, drop reasons
       attributed (``filter_kwargs`` forwards thresholds);
    1b. domain cap (only when ``domain_cap=(key_col, n)`` is given) —
       ``cap_per_key`` keeps at most n docs per key (host/domain
       over-representation guard), BEFORE dedup so a boilerplate-heavy
       host can't dominate the shingle/cluster stages either; pass
       ``key_col == url_col`` to cap on the URL column's REGISTRABLE
       DOMAIN (``urls.domain_cap``, the FineWeb-style host
       downsampling) instead of a raw column value; with
       ``authority_weights`` (a ``(node, rank)`` frame from
       ``graph.pagerank`` over ``host_graph(granularity='host')``)
       the keep order is highest-authority-first — the domain keeps
       its best-ranked subdomains' docs under the cap;
    1c. line-level boilerplate removal (only when ``line_dedup_mode``
       is 'first' or 'common') — ``dedup.line_dedup`` rewrites each
       doc without its boilerplate lines (``line_min_docs`` gates the
       'common' rule). Runs BEFORE the fuzzy stages — the OPPOSITE of
       the segment stage's late placement — because boilerplate is
       chrome, not content: shared footers otherwise create false
       near-dup pairs between unrelated pages AND dilute real content
       similarity (CCNet dedups paragraphs before anything else for
       the same reason). Docs left without content lines are dropped;
    1d. learned quality gate (only when ``quality_classifier=(model,
       threshold)`` is given — a ``learn.TextClassifierModel``) —
       ``learn.score_documents`` + drop below threshold: the
       trained-classifier stage (GPT-3/CCNet style) layered on top of
       the heuristic filter, pure codegen scoring. ``threshold`` is a
       raw probability float or the CALIBRATED form ``('pct', p,
       reference_df)`` — the keep-floor is then
       ``classifier_threshold_from_reference``'s p-th percentile over
       a trusted slice (sigmoid probabilities are corpus-relative, so
       the percentile rule survives model refits where a magic 0.5
       silently shifts meaning), resolved once and recorded;
    1e. LM perplexity gate (only when ``lm_gate=(lm_path, max_nll)``
       is given — a ``lm.save_bigram_lm`` artifact) — drop documents
       whose mean transition NLL against the FROZEN reference LM
       exceeds ``max_nll`` (documents with no transitions fail); the
       same gate ``stream_dedup_ingest`` applies per trigger, so batch
       backfills and the live stream admit identical corpora.
       ``max_nll`` is either a raw float or the CALIBRATED form
       ``('pct', p, reference_df)`` — the ceiling is then
       ``lm_threshold_from_reference``'s p-th percentile of a trusted
       reference slice ("drop what reads worse than p of text we
       trust"), resolved once here and recorded in the run report;
    2. exact dedup — content-digest keep-first;
    3. near dedup — MinHash+LSH pairs → connected components → keep each
       cluster's canonical member: min id by default, or the member
       with the highest ``near_keep_col`` value (RefinedWeb-style
       keep-the-best — pass a quality/length column present on the
       docs) via ``cluster_keepers``;
    3a. leakage-safe split (only when ``split_spec`` is given, e.g.
       ``{'train': .9, 'val': .05, 'test': .05}``) — adds a ``split``
       column assigned by hashing each survivor's NEAR-DUP CLUSTER id
       from stage 3 (``splits.leakage_safe_split``), not its doc id.
       Two properties doc-id hashing lacks: any members of one cluster
       that survive (or re-enter on a later run with new data) land in
       the SAME split, and a keeper re-election cannot move a
       cluster's content across splits (the cluster id, not the
       winner's id, drives the bucket). The column rides every later
       stage through to the packed output;
    3b. semantic dedup (only when ``semantic_embeddings`` is given — a
       frame of ``(id_col, embedding)`` for the surviving docs) —
       ``ann.semdedup`` drops paraphrase-level duplicates the lexical
       stages can't see (same meaning, different tokens → Jaccard ≈ 0);
       runs AFTER MinHash so embedding clustering never pays for the
       verbatim copies, with ``semantic_keep`` electing each group's
       survivor ('far' = the paper's diversity rule). Docs without an
       embedding row pass through unexamined (a missing vector must not
       silently delete the doc);
    4. decontamination (only when ``benchmark`` is given) — drop docs
       near-duplicating the eval set; ``decontaminate_metric``
       chooses whole-document 'jaccard' (MinHash+LSH candidates),
       'containment' (GPT-3-style n-gram overlap — catches a benchmark
       passage EMBEDDED in a longer doc, which Jaccard dilutes to ~0
       and whose MinHash candidates LSH cannot generate), or
       'semantic' (r7 — embedding-cosine ≥ ``semantic_decon_threshold``
       against ``benchmark_embeddings``, corpus vectors from
       ``semantic_embeddings``: the PARAPHRASED eval leak both lexical
       metrics structurally miss; docs without an embedding row pass
       through unexamined);
    5. segment dedup (only when ``segment_words`` is set) — sub-document
       keep-first, text REWRITTEN to the deduplicated form.
       ``segment_mode='grid'`` (default) is the fixed-window
       approximation (``segment_dedup``); ``'span'`` is EXACT
       substring-level dedup (``span_dedup``, Lee et al. 2022) —
       stride-1 windows catch copies at any alignment, and docs
       stripped to nothing (pure later-copies) drop.  Runs AFTER the
       fuzzy stages on purpose (RefinedWeb/C4 ordering): rewriting
       first would shred near-copies into fragments whose
       jaccard-vs-original is ~0, so they'd evade near-dedup and
       benchmark matching and ship as junk;
    5a. DSIR data selection (only when ``dsir_selection=(target_df,
       k)`` is given) — ``dsir.dsir_select`` keeps the k surviving docs
       whose hashed-n-gram distribution best matches the trusted target
       slice (Xie et al. 2023 importance resampling). Runs AFTER the
       dedup chain on purpose (the paper's ordering): duplicates would
       otherwise spend the selection budget on the same content k
       times, and the importance weights are computed over the FINAL
       rewritten text the training job will see;
    5b. mixture sampling (only when ``mixture=(stratum_col, weights,
       token_budget)`` is given) — ``mixture_sample`` downsamples each
       stratum toward the target composition over BPE-ish token counts.
       In the recipe, strata missing from ``weights`` are an ERROR by
       default (``mixture_unknown='error'``): a typo'd weight key or a
       new source value silently deleting a whole stratum from the
       shipped corpus is the worst failure mode of a curated run; pass
       ``mixture_unknown='drop'`` to get the operator's permissive
       default back.
       NOTE: this stage runs a driver-side action at build time (the
       per-stratum availability aggregate), as does the semantic-dedup
       stage (its k-means and connected-components loops materialize
       per round) — with neither knob set the recipe stays fully lazy
       until the caller's first action; with them, the persisted stage
       prefixes keep the eager work a single incremental pass.
       The per-stratum detail report
       is not returned here; call ``textstats.mixture_sample`` directly
       when you need it;
    6. packing — greedy token-budget sequence packing over a BPE-ish
       token count, or over REAL trained-tokenizer counts when
       ``bpe_merges`` (from ``operators.bpe.train_bpe``) is given — the
       one Arrow crossing that buys budgets matching what the training
       job will actually see.  Pass ``pack_partition_col`` (e.g. a language or
       shard column) at scale — without it the running-sum window is a
       single global partition, the funnel the registered ``pack_docs``
       plan test forbids;
    7. release (only when ``out_dir`` is set) — range-sharded, locally
       sorted parquet via ``write_sharded_corpus``.

    Returns ``(packed, report)``: the packed corpus (original columns +
    ``n_tokens, pack_id, pack_offset, spans_packs``) and the one-row
    pipeline_runs record whose ``stage_counts`` JSON carries every stage
    boundary ('ingested' → … → 'packed').  Both are lazy; the report's
    count job and the packed frame share the staged stage prefixes —
    the caller's staging scope releases them.
    """
    stages: dict[str, DataFrame] = {"ingested": docs}

    if url_col is not None:
        # Stage 0: URL-level dedup FIRST — the cheapest pass in a crawl
        # pipeline (pure string canonicalization + one keyed
        # aggregation), removing refetches of one page under
        # http/https/www/tracking-param variants before any
        # content-level stage pays for them.
        from ..operators import urls as url_ops

        docs = stage(url_ops.url_dedup(docs, url_col, id_col))
        stages["url_deduped"] = docs

    if c4_rules is not None:
        # Stage 0b: C4 page/line cleaning — rewrite pages to their
        # surviving lines, drop pages failing the page rules, BEFORE
        # the quality metrics see the text (chrome-free prose scores
        # honestly). Same scan; no shuffle.
        from ..operators import c4 as c4_ops

        cleaned = c4_ops.c4_clean(docs, text_col, **c4_rules)
        docs = stage(cleaned.filter(F.col("c4_reason").isNull())
                     .withColumn(text_col, F.col("c4_text"))
                     .drop("c4_reason", "c4_text", "c4_sentences",
                           "c4_lines_kept", "c4_lines_total"))
        stages["c4_cleaned"] = docs

    flagged = ts.corpus_filter(docs, text_col, **(filter_kwargs or {}))
    kept = stage(flagged.filter(F.col("drop_reason").isNull())
                 .drop("drop_reason"))
    stages["quality_filtered"] = kept

    if domain_cap is not None:
        cap_col, cap_n = domain_cap
        if url_col is not None and cap_col == url_col:
            # cap over the REGISTRABLE DOMAIN derived from the URL
            # column (FineWeb-style host downsampling), not the raw
            # URL string — passing the url_col selects this form.
            # authority_weights (a (node, rank) frame from
            # graph.pagerank over host_graph(granularity='host'))
            # makes the keep order highest-authority-first: under the
            # cap, a domain keeps its best-ranked subdomains' docs
            # instead of a hash-random sample
            from ..operators import urls as url_ops

            kept = stage(url_ops.domain_cap(
                kept, url_col, cap_n, authority=authority_weights))
        else:
            if authority_weights is not None:
                raise ValueError(
                    "authority_weights needs the URL-derived cap: pass "
                    "domain_cap=(url_col, n) with url_col set")
            kept = stage(ts.cap_per_key(kept, [cap_col], cap_n))
        stages["domain_capped"] = kept
    elif authority_weights is not None:
        raise ValueError("authority_weights does nothing without "
                         "domain_cap — pass domain_cap=(url_col, n)")

    if line_dedup_mode is not None:
        ld = dd.line_dedup(kept, id_col=id_col, text_col=text_col,
                           mode=line_dedup_mode, min_docs=line_min_docs)
        kept = stage(
            kept.drop(text_col)
            .join(ld.filter(F.col("n_kept") > 0)
                  .select(id_col, F.col("text_dedup").alias(text_col)),
                  id_col))
        stages["line_deduped"] = kept

    qc_threshold = qc_pct = None
    if quality_classifier is not None:
        from . import learn

        qc_model, qc_gate = quality_classifier
        if isinstance(qc_gate, tuple):
            # calibrated form ('pct', p, reference_df) — the same
            # percentile rule the LM gate takes: keep what scores at
            # least as well as all but the worst p of trusted text
            # (classifier_threshold_from_reference), resolved once
            # here and recorded in the run report
            mode, qc_pct, qc_ref = qc_gate
            if mode != "pct":
                raise ValueError(
                    f"unknown quality_classifier calibration mode "
                    f"{mode!r}: use ('pct', percentile, reference_df) "
                    "or a raw probability float")
            qc_threshold = learn.classifier_threshold_from_reference(
                qc_ref, text_col, qc_model, pct=qc_pct)
        else:
            qc_threshold = float(qc_gate)
        kept = stage(
            learn.score_documents(kept, text_col, qc_model,
                                  prob_col="__qprob")
            .filter(F.col("__qprob") >= qc_threshold).drop("__qprob"))
        stages["classifier_filtered"] = kept

    lm_max_nll = lm_pct = None
    if lm_gate is not None:
        from ..operators import lm as lm_ops

        lm_path, gate = lm_gate
        if isinstance(gate, tuple):
            # calibration-in-the-loop: ('pct', p, reference_df) pins
            # the documented percentile rule ("drop what reads worse
            # than p of text we trust", lm_threshold_from_reference)
            # instead of a magic max_nll number — the curated-run form
            mode, lm_pct, ref = gate
            if mode != "pct":
                raise ValueError(
                    f"unknown lm_gate calibration mode {mode!r}: use "
                    "('pct', percentile, reference_df) or a raw "
                    "max_nll float")
            lm_max_nll = lm_ops.lm_threshold_from_reference(
                ref, text_col, id_col, lm_path, pct=lm_pct)
        else:
            lm_max_nll = float(gate)
        fluent = (lm_ops.score_with_bigram_lm(kept, text_col, id_col,
                                              lm_path)
                  .filter(F.col("avg_nll") <= lm_max_nll).select(id_col))
        kept = stage(kept.join(fluent, id_col, "left_semi"))
        stages["lm_gated"] = kept

    exact = stage(dd.exact_dedup(kept, [text_col], id_col))
    stages["exact_deduped"] = exact
    current = exact

    clusters = dd.dedup_clusters(current, text_col, id_col,
                                 threshold=near_threshold,
                                 method="minhash", num_hashes=num_hashes,
                                 bands=bands)
    if near_keep_col is not None:
        clusters = dd.cluster_keepers(
            clusters.select(id_col, "cluster_id"),
            current.select(id_col, near_keep_col), id_col, near_keep_col)
    keepers = clusters.filter("is_canonical").select(id_col)
    current = stage(current.join(keepers, id_col, "left_semi"))
    stages["near_deduped"] = current

    if split_spec is not None:
        # Stage 3a: leakage-safe split — hash the CLUSTER id, so the
        # assignment is stable under keeper re-election and any
        # same-cluster content (now or on a later run) shares a split
        from ..operators import splits as sp_ops

        current = sp_ops.leakage_safe_split(
            current, clusters.select(id_col, "cluster_id"), split_spec,
            id_col=id_col, seed=split_seed)
        stages["split_assigned"] = current

    if semantic_embeddings is not None:
        from ..operators.ann import semdedup

        # only embeddings of SURVIVING docs cluster (left_semi) — the
        # k-means and pair stages never pay for rows dedup already killed
        emb = semantic_embeddings.join(current.select(id_col), id_col,
                                       "left_semi")
        sem = semdedup(emb, threshold=semantic_threshold,
                       n_clusters=semantic_clusters, id_col=id_col,
                       keep=semantic_keep)
        dropped = sem.filter(~F.col("is_canonical")).select(id_col)
        current = stage(current.join(dropped, id_col, "left_anti"))
        stages["semantic_deduped"] = current

    if benchmark is not None or (decontaminate_metric == "semantic"
                                 and benchmark_embeddings is not None):
        if decontaminate_metric == "semantic":
            # the paraphrase leak: match in embedding space, not token
            # space; corpus vectors are the same frame semdedup uses
            from ..operators.ann import semantic_decontaminate

            if semantic_embeddings is None or benchmark_embeddings is None:
                raise ValueError(
                    "decontaminate_metric='semantic' needs BOTH "
                    "semantic_embeddings (corpus side) and "
                    "benchmark_embeddings")
            emb = semantic_embeddings.join(current.select(id_col),
                                           id_col, "left_semi")
            current = stage(semantic_decontaminate(
                current, emb, benchmark_embeddings, id_col,
                threshold=semantic_decon_threshold))
        else:
            extra = ({} if decontaminate_metric == "containment"
                     else {"num_hashes": num_hashes, "bands": bands})
            current = stage(dd.decontaminate(
                current, benchmark, text_col, id_col,
                threshold=near_threshold, metric=decontaminate_metric,
                **extra))
        stages["decontaminated"] = current

    if segment_words is not None:
        if segment_mode == "grid":
            seg = dd.segment_dedup(current, id_col=id_col,
                                   text_col=text_col,
                                   words_per_seg=segment_words)
        elif segment_mode == "span":
            # exact substring-level dedup (Lee et al. 2022): stride-1
            # windows catch grid-straddling copies the fixed grid
            # misses; docs stripped to nothing (pure later-copies)
            # drop
            seg = dd.span_dedup(current, id_col=id_col,
                                text_col=text_col,
                                span_words=segment_words) \
                .filter(F.col("n_kept") > 0)
        else:
            raise ValueError(f"unknown segment_mode {segment_mode!r}: "
                             "use 'grid' or 'span'")
        current = stage(
            current.drop(text_col)
            .join(seg.select(id_col,
                             F.col("text_dedup").alias(text_col)), id_col))
        stages["segment_deduped"] = current

    if dsir_selection is not None:
        from ..operators import dsir

        dsir_target, dsir_k = dsir_selection
        current = stage(dsir.dsir_select(
            current.sparkSession, current, dsir_target, text_col, id_col,
            k=dsir_k, n_buckets=dsir_buckets).drop("logw"))
        stages["dsir_selected"] = current

    if bpe_merges is not None:
        from ..operators import bpe

        counted = current.withColumn(
            "n_tokens", bpe.token_count(F.col(text_col), bpe_merges))
    else:
        counted = current.withColumn(
            "n_tokens", ts.bpe_ish_token_count(F.col(text_col)))
    if mixture is not None:
        mix_col, mix_weights, mix_budget = mixture
        counted, _ = ts.mixture_sample(
            counted, mix_col, mix_weights, id_col=id_col,
            budget=mix_budget, token_count_col="n_tokens",
            unknown=mixture_unknown)
        counted = stage(counted)
        stages["mixture_sampled"] = counted
    # packed has up to THREE consumers (sharded write, the report's
    # count, the returned frame) — persist it like every other stage so
    # the pack window + join run once, not per consumer
    packed = stage(counted.join(
        ts.pack_sequences(counted, "n_tokens", id_col, budget=pack_budget,
                          partition_col=pack_partition_col)
        .select(id_col, "pack_id", "pack_offset", "spans_packs"), id_col))
    stages["packed"] = packed

    if out_dir is not None:
        from ..sources.sinks import write_sharded_corpus
        write_sharded_corpus(packed, out_dir, sort_col=id_col,
                             shards=shards)

    report = pipeline_run_record(
        stages, run_id=run_id, pipeline_name="prepare-training-corpus",
        config={"near_threshold": near_threshold,
                "num_hashes": num_hashes, "bands": bands,
                "near_keep_col": near_keep_col,
                "semantic": ([semantic_threshold, semantic_clusters,
                              semantic_keep]
                             if semantic_embeddings is not None else None),
                "bpe_merges": (len(bpe_merges)
                               if bpe_merges is not None else None),
                "domain_cap": list(domain_cap) if domain_cap else None,
                "line_dedup": ([line_dedup_mode, line_min_docs]
                               if line_dedup_mode else None),
                # the RESOLVED keep-floor (a float either way), plus
                # the percentile when the calibrated form was used
                "quality_classifier": qc_threshold,
                "quality_classifier_pct": qc_pct,
                # the RESOLVED ceiling (a float either way), plus the
                # percentile when the calibrated form was used — the
                # audit record a curated run needs to reproduce itself
                "lm_gate": lm_max_nll,
                "lm_gate_pct": lm_pct,
                "decontaminate_metric": (decontaminate_metric
                                         if benchmark is not None
                                         else None),
                "dsir": ([dsir_selection[1], dsir_buckets]
                         if dsir_selection is not None else None),
                "mixture": list(mixture) if mixture else None,
                "segment_words": segment_words,
                "segment_mode": (segment_mode if segment_words is not None
                                 else None),
                "pack_budget": pack_budget})
    return packed, report
