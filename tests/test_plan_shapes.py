"""Physical-plan regression tests: the scale properties the engine is
designed around (small-side broadcast, scan-level filter pushdown, heavy
binary columns pruned from metadata-only queries) asserted on the actual
Catalyst plans, so a refactor can't silently trade them away. Explain-only
— no query execution."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from australia_company_etl_pipeline_spark import plans


def _plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_fk_join_broadcasts_small_dim(spark, sf_dir):
    """promo_revenue_by_brand must broadcast the filtered part dim (the
    reference broadcast its 2M-row side — inverted here by design)."""
    plan = _plan(plans.REGISTRY["promo_revenue_by_brand"]
                 .builder(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_fk_join_filter_pushed_to_scan(spark, sf_dir):
    """The p_type = 'PROMO' predicate must reach the parquet scan."""
    plan = _plan(plans.REGISTRY["promo_revenue_by_brand"]
                 .builder(spark, sf_dir))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and any("p_type" in ln for ln in pushed), pushed


def test_blocking_join_broadcasts(spark, sf_dir):
    """The entity-match blocking join must be a broadcast join, never a
    full shuffle of both sides."""
    plan = _plan(plans.REGISTRY["entity_match_blocking"]
                 .builder(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_media_metadata_query_prunes_payload(spark, sf_dir):
    """The frame-offsets half of media_report derives everything from
    doc_id arithmetic — its scan must not read the (stand-in for
    multi-KB binary) text column. Checked on the scan's ReadSchema."""
    from australia_company_etl_pipeline_spark.plans.multimodal import (
        _frame_rows,
    )
    plan = _plan(_frame_rows(spark, sf_dir))
    schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert schemas, "no scan ReadSchema line in formatted plan"
    assert all("text" not in ln for ln in schemas), schemas


def test_top1_per_group_uses_partial_aggregation(spark, sf_dir):
    """entity_match_blocking takes top-1 via max(struct) aggregation —
    the plan must show a hash aggregate (map-side partial), never a
    window over the full scored pair set. (best_supplier_match keeps the
    row_number window form deliberately, for W1 parity coverage.)"""
    plan = _plan(plans.REGISTRY["entity_match_blocking"]
                 .builder(spark, sf_dir))
    # struct-typed max() buffers lower to SortAggregate (still two-phase
    # partial+final); any aggregate strategy is fine — a Window is not
    assert any(agg in plan for agg in
               ("HashAggregate", "ObjectHashAggregate", "SortAggregate"))
    assert "Window" not in plan


def _node_counts(plan: str):
    import re
    from collections import Counter

    return Counter(re.findall(r"^\(\d+\) (\w+)", plan, re.M))


def test_cascade_single_pass_and_broadcast(spark, sf_dir):
    """The r1 single-pass cascade rewrite bought three properties; lock
    them: (a) the block-join subtree is scanned ONCE — no high/uncertain
    DAG fork (both cascade sides derive from `part`, so exactly 2 scans;
    a fork would double them); (b) the pandas_udf stage did not break the
    small-side broadcast; (c) the LLM udf materializes exactly ONE
    ArrowEvalPython stage — Catalyst must not inline the call into the
    final-score filter and evaluate the Arrow transfer twice (prevented
    by asNondeterministic; regressed silently before r4)."""
    plan = _plan(plans.REGISTRY["match_cascade_best"]
                 .builder(spark, sf_dir))
    counts = _node_counts(plan)
    assert counts["Scan"] == 2, counts
    assert counts["BroadcastHashJoin"] >= 1, counts
    assert counts["SortMergeJoin"] == 0, counts
    assert counts["ArrowEvalPython"] == 1, counts


def test_cascade_arrow_payload_trimmed(spark, sf_dir):
    """The stub scorer declares context_cols=(crawl_name, abr_name): the
    struct crossing the Arrow boundary must carry only those two (band-
    masked) fields plus fuzzy_score — not the full 7-column pair
    context for every row ≥ the LLM band floor."""
    import re

    plan = _plan(plans.REGISTRY["match_cascade_best"]
                 .builder(spark, sf_dir))
    m = re.search(r"^\(\d+\) ArrowEvalPython.*?(?=^\(\d+\) )",
                  plan, re.M | re.S)
    assert m, "no ArrowEvalPython node in formatted plan"
    args = [ln for ln in m.group(0).splitlines()
            if ln.startswith("Arguments")][0]
    assert "crawl_url" not in args and "postcode" not in args, args
    # band mask applied OUTSIDE the udf: context fields are CASE-guarded
    assert "CASE WHEN" in args, args


def test_doc_profile_single_scan_no_shuffle(spark, sf_dir):
    """The r4 fold's claim: all 13 profile metrics collapse into ONE
    scan + projection — no Exchange, no second scan, and the staged
    token array survives as a single split (the plan would show the
    split inlined per metric if CollapseProject duplicated it)."""
    plan = _plan(plans.REGISTRY["doc_profile"].builder(spark, sf_dir))
    counts = _node_counts(plan)
    assert counts["Scan"] == 1, counts
    assert counts["Exchange"] == 0, counts


def test_pack_docs_single_window_pass(spark, sf_dir):
    """Sequence packing is ONE running-total window over the shard key:
    exactly one exchange (hash partitioning on lang), one Window, no
    join, no global single-partition sort. The r4 chunk branch adds a
    second scan but must stay shuffle-free; the r5 bpe branch adds a
    third scan and ONE Arrow crossing (the greedy-merge pandas_udf),
    also shuffle-free; the r7 fertility branch adds a fourth scan, a
    second Arrow crossing (the tokenizer encode) and exactly ONE
    partial-aggregated exchange (the per-lang fertility rollup —
    map-side combine, so the shuffle moves one row per (lang,
    partition), never the corpus); the r8 whole-sample branch adds
    two scans (the fits/misfits split) and two keyed windows with
    their exchanges (class rank + within-pack offset — both
    partitioned by (lang, class...), never a single global order)."""
    plan = _plan(plans.REGISTRY["pack_docs"].builder(spark, sf_dir))
    counts = _node_counts(plan)
    assert counts["Window"] == 3, counts
    assert counts["Exchange"] == 4, counts
    assert counts["Scan"] == 6, counts
    assert counts["ArrowEvalPython"] == 2, counts
    assert "SinglePartition" not in plan, "global-order funnel"


def test_cobucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    """Two tables bucketed on the join key must join with NO Exchange in
    the plan (the write-once-shuffle-never-again contract of
    write_bucketed_parquet) and produce the same rows as the plain join."""
    from australia_company_etl_pipeline_spark.catalog import table
    from australia_company_etl_pipeline_spark.sources import sinks

    c = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    o = (table(spark, sf_dir, "orders")
         .select(F.col("o_custkey").alias("c_custkey"), "o_orderkey"))
    expected = c.join(o, "c_custkey").count()

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        sinks.write_bucketed_parquet(c, "b_cust", ["c_custkey"], 8)
        sinks.write_bucketed_parquet(o, "b_ord", ["c_custkey"], 8)
        j = spark.table("b_cust").join(spark.table("b_ord"), "c_custkey")
        plan = _plan(j)
        assert "Exchange" not in plan, plan
        assert j.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_cust")
        spark.sql("DROP TABLE IF EXISTS b_ord")


def test_purchase_attribution_has_no_nested_loop(spark, sf_dir):
    """The temporal query must stay nested-loop-free end to end: the
    as-of half is a window merge, the window-features half a bucketed
    equi-join — a regression to a non-equi join would surface as
    BroadcastNestedLoopJoin/CartesianProduct here."""
    plan = _plan(plans.REGISTRY["purchase_attribution"]
                 .builder(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_segment_dedup_single_scan_two_exchanges(spark, sf_dir):
    """The salted-window rewrite's claim: one corpus scan (no
    tails/firsts DAG fork), exactly two shuffles (salted segment digest
    for the keep-first window, doc_id for reassembly). Pinned on the
    OPERATOR's plan — the registered query is a multi-branch union
    since the r5 line-dedup fold. The line branches get their own pins:
    BOTH modes are partial-aggregated groupBy(line) passes + join-back
    (r6 de-skewed the keep-first mode: a min(struct(id,idx)) aggregate
    replaces the per-line row_number window, so a corpus-universal
    boilerplate line is map-side-combined instead of funneled into one
    window task)."""
    from australia_company_etl_pipeline_spark.catalog import table
    from australia_company_etl_pipeline_spark.operators import dedup as dd

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    plan = _plan(dd.segment_dedup(docs, id_col="doc_id",
                                  text_col="text", words_per_seg=8))
    counts = _node_counts(plan)
    assert counts["Scan"] == 1, counts
    assert counts["Exchange"] == 2, counts
    assert counts["Window"] == 1, counts

    lf = _plan(dd.line_dedup(docs, mode="first"))
    cf = _node_counts(lf)
    # NO window on the first-mode path: the global-first-occurrence
    # rule is a partial aggregate (hot boilerplate lines collapse
    # map-side), same shape as mode='common'
    assert "Window" not in lf, lf
    assert any(k.endswith("HashAggregate") or k == "SortAggregate"
               for k in cf), cf
    assert cf["Scan"] == 2, cf
    assert cf["Exchange"] <= 4, cf

    sp = _plan(dd.span_dedup(docs, span_words=8))
    cs = _node_counts(sp)
    # span dedup (r6): keep-first is a min(struct) PARTIAL aggregate on
    # the window digest — no window functions anywhere in the plan, no
    # per-digest task pile-up on a corpus-universal span
    assert "Window" not in sp, sp
    assert any(k.endswith("HashAggregate") or k == "SortAggregate"
               for k in cs), cs
    assert "CartesianProduct" not in sp and "NestedLoop" not in sp, sp

    lc = _plan(dd.line_dedup(docs, mode="common", min_docs=3))
    cc = _node_counts(lc)
    # the doc-frequency count and the probe side each scan (Catalyst
    # forks the uncached base — the recompute-vs-cache default for a
    # cheap scan); the defining claims are NO window pile-up on hot
    # boilerplate lines and a partial-agg + (broadcastable) join
    assert cc["Scan"] == 2, cc
    assert "Window" not in lc, lc
    assert cc["Exchange"] <= 4, cc


def test_profile_sketch_mode_avoids_expand(spark, sf_dir):
    """profile_table's exact mode plans one count(DISTINCT) per column,
    which Catalyst lowers to an Expand node replicating every input row
    (k+1)x before the shuffle — the documented non-scale path. The
    sketch mode (HLL++) must plan as an ordinary partial aggregate:
    no Expand anywhere in the physical plan."""
    from australia_company_etl_pipeline_spark.catalog import table
    from australia_company_etl_pipeline_spark.operators.profile import (
        profile_table)

    li = table(spark, sf_dir, "lineitem")
    cols = ["l_quantity", "l_extendedprice", "l_returnflag"]
    exact = _plan(profile_table(li, "lineitem", cols))
    sketch = _plan(profile_table(li, "lineitem", cols,
                                 distinct="approx",
                                 percentile_mode="approx"))
    assert "Expand" in exact
    assert "Expand" not in sketch
    # both stay single-aggregate plans: no join, no cartesian product
    for plan in (exact, sketch):
        assert "Join" not in plan and "CartesianProduct" not in plan


def test_mixture_sample_filter_shuffle_free(spark, sf_dir):
    """mixture_sample's output plan must be a pure scan+filter — the
    per-stratum fractions arrive as a literal map, so sampling adds NO
    exchange (the one availability aggregate runs eagerly at build
    time, not in the returned plan)."""
    from australia_company_etl_pipeline_spark.catalog import table
    from australia_company_etl_pipeline_spark.operators.textstats import (
        mixture_sample)

    docs = table(spark, sf_dir, "documents").select("doc_id", "lang",
                                                    "text")
    langs = [r.lang for r in docs.select("lang").distinct().collect()]
    sampled, _ = mixture_sample(
        docs, "lang", {lg: 1.0 / len(langs) for lg in langs},
        id_col="doc_id", budget=1000)
    plan = _plan(sampled)
    assert "Exchange" not in plan, plan
    assert "Join" not in plan


def test_registry_wide_no_unexpected_nested_loops(spark, sf_dir):
    """Sweep EVERY registered query's physical plan: a CartesianProduct
    or BroadcastNestedLoopJoin may appear only where it is the
    documented design — broadcast-scalar cross joins (J10, the
    match-rate fixture), broadcast query×corpus ANN baselines, and the
    guarded O(n²) correctness oracles. Anything else is a plan
    regression a refactor must not introduce silently."""
    allowed = {
        "ann_bruteforce_topk",     # broadcast queries × corpus baseline
        "ann_approx_topk",         # IVF: broadcast-k centroid assignment
        "global_stats_cross_join", # J10 scalar cross join by definition
        "ngram_jaccard_dup_pairs", # guarded quadratic baseline
        "embedding_dup_pairs",     # method='exact' guarded baseline
        "dq_suite_report",         # 1×1 scalar cross join (match rate)
        "doc_search_bm25",         # broadcast 1-row (n_docs, avgdl) stats
                                   # + releval's broadcast 1-row metric
                                   # aggregates
        "vocab_ngram_counts",      # kl: vocabulary × broadcast strata
                                   # grid — bounded by VOCAB size × a
                                   # handful of langs, never the corpus
        "events_window_counts",    # resample gap-fill: distinct-groups ×
                                   # generated time axis — both sides
                                   # bounded (span/interval), not data
    }
    offenders = {}
    for name, q in plans.REGISTRY.items():
        plan = _plan(q.builder(spark, sf_dir))
        marks = [m for m in ("CartesianProduct",
                             "BroadcastNestedLoopJoin") if m in plan]
        if marks and name not in allowed:
            offenders[name] = marks
    assert not offenders, offenders


# Per-query budget of DISTINCT parquet-scan nodes (r9, after the r8
# doc_search_bm25 fold silently accreted 14 -> 37 scans): the number of
# scheduled base-table passes each registered plan may make. Formatted
# explain reprints a CACHED subtree under every consumer with the SAME
# node id, so this counts real scheduled scans, not plan-tree mentions.
# Raising a number is a REVIEWED decision: a new fold branch may add
# its one scan here, but an uncached multi-consumer frame fanning out
# (the r8 failure mode) must show up as a loud diff in this table.
_SCAN_BUDGET = {
    "abn_validate_format": 1,
    "abr_xml_shred": 1,
    "ann_approx_topk": 13,      # r11 (2nd cut): ivf probe ranking is a
    #                             shuffle-free projection over the
    #                             driver-cached centroid literal — the
    #                             centroid scan and the crossJoin's
    #                             second query scan left the plan
    #                             (15 -> 13). Earlier r11 notes:
    #                             the PQ codebook is now a direct
    #                             parquet scan feeding the LUT join
    #                             (was collect + createDataFrame — a
    #                             per-probe driver round trip); +1
    #                             artifact read, one driver job less.
    #                             12 -> 15: semdedup's assignment is a
    #                             LAZY staged persist instead of an
    #                             eager localCheckpoint — the eager
    #                             checkpoint RAN the same three scans
    #                             at build time but hid them behind a
    #                             LogicalRDD, so the static count now
    #                             SEES passes that always happened
    #                             (each still executes once, inside
    #                             the cache fill)
    "ann_bruteforce_topk": 13,
    "best_order_per_customer": 1,
    "best_supplier_match": 2,
    "cohort_retention": 2,
    "completeness_score": 1,
    "corpus_filter_stats": 1,   # r10: all 14 gate branches read ONE
    #                             staged (doc_id, lang, text) projection
    "customer_order_activity": 4,
    "date_parse_multi": 1,
    "dedup_clusters": 0,        # answers from its materialized pair set
    "dedup_events": 4,
    "doc_profile": 1,
    "doc_search_bm25": 12,      # r11 (2nd cut): the rag branch's ivf
    #                             probe inlines the centroid literal —
    #                             2 index-root scans gone (14 -> 12).
    #                             5 corpus + 2 embeddings build scans
    #                             (one per staged frame, r9) + 7 reads
    #                             of the kind='rag' persisted index
    #                             root — artifact reads, not corpus
    #                             passes (split pinned in
    #                             test_retrieval's scan-sharing test)
    "dq_metrics_long": 7,
    "dq_status_violations": 1,
    "dq_suite_report": 11,      # six tables, one scan per DQ check
    "duplicate_keys_having": 1,
    "embedding_dup_pairs": 5,   # was 62 before the r9 staging fix
    "entity_match_blocking": 2,
    "event_funnel": 6,          # was 14 before persisted frontiers
    "events_by_type_ordered": 1,
    "events_session_windows": 1,
    "events_window_counts": 5,
    "exact_dedup_docs": 3,
    "global_stats_cross_join": 4,
    "golden_record_merge": 4,
    "hashed_dup_pairs": 7,   # r10: fp persisted in banded_hamming_pairs
    "match_cascade_best": 2,
    "match_cascade_stats": 2,
    "match_feature_vector": 1,
    "media_report": 4,
    "monthly_order_stats": 1,
    "name_truncation": 1,
    "ngram_jaccard_dup_pairs": 7,   # r10: simhash verify reads the
    #                                 shared shingle cache; fp persisted;
    #                                 containment's benchmark side reads
    #                                 the staged corpus shingles (was 10)
    "order_enrichment_left": 2,
    "order_rank_and_lag": 2,
    "pack_docs": 6,
    "pipeline_run_summary": 4,
    "pricing_summary": 1,
    "promo_revenue_by_brand": 2,
    "purchase_attribution": 4,
    "run_audit_log": 3,
    "segment_dedup_docs": 11,
    "stats_rollup": 1,
    "union_score_bands": 2,
    "user_sessions_pandas": 1,
    "vocab_ngram_counts": 3,   # r11: token/zipf/cms share ONE staged
    #                            vocabulary aggregate (was 3 separate
    #                            tokenize passes) and kl derives all
    #                            its frames from ONE staged
    #                            (stratum, token) aggregate (was 3)
    "wet_scan_shred": 1,
}

# Where grouped/arrow Python map stages are ALLOWED to appear (r10):
# the pandas sessionizer is the SURVEY U-3 parity exhibit of the
# native session_windows (its registration doc says so), and the
# multimodal featurizer is the documented decode-plumbing crossing.
# Everything else must stay JVM-side (plain pandas_udf projections —
# ArrowEvalPython — are governed separately by the cascade plan pins).
_PY_MAP_ALLOWED = {
    "FlatMapGroupsInPandas": {"user_sessions_pandas"},
    "MapInPandas": {"media_report"},
    "PythonMapInArrow": set(),
}


def test_registry_wide_scan_count_budgets(spark, sf_dir):
    """Every registered query's distinct parquet-scan count must stay
    within _SCAN_BUDGET, and every query must HAVE a budget — a new
    registration or a fold that grows its scan count fails loudly here
    instead of silently scheduling extra corpus passes (at 100 TB each
    extra scan is a full I/O pass over the table)."""
    import re

    from australia_company_etl_pipeline_spark.operators import staging

    assert set(_SCAN_BUDGET) == set(plans.REGISTRY), (
        "budget table out of sync with the registry — add/remove the "
        "diff: " f"{set(_SCAN_BUDGET) ^ set(plans.REGISTRY)}")
    over = {}
    actual = {}
    py_offenders = []
    for name, q in plans.REGISTRY.items():
        plan = _plan(q.builder(spark, sf_dir))
        n = len(set(re.findall(r"\((\d+)\) Scan parquet", plan)))
        actual[name] = n
        if n > _SCAN_BUDGET[name]:
            over[name] = (n, _SCAN_BUDGET[name])
        # Python-group-map confinement (r10, VERDICT task 7): the
        # pandas sessionizer twin is a PARITY EXHIBIT, not a
        # composition path — nothing else may silently grow a
        # grouped/arrow Python map stage (row-shipping Python in a
        # hot path is the classic 10-100x scale regression).
        for node, ok_names in _PY_MAP_ALLOWED.items():
            if node in plan and name not in ok_names:
                py_offenders.append((name, node))
        # release per-query staged frames so later queries in this
        # sweep plan against a clean cache
        staging.release()
    # Budget ratchet report (r10): slack between the pinned budget and
    # the measured count invites silent creep UP TO the pin — write the
    # per-query budget−actual table so tightening opportunities are a
    # reviewable artifact each round (report, not assert: a one-scan
    # slack can be deliberate headroom for a known upcoming branch).
    import os

    report = os.path.join(os.path.dirname(__file__),
                          "scan_budget_report.txt")
    with open(report, "w") as f:
        f.write("query\tactual\tbudget\tslack\n")
        for name in sorted(actual):
            f.write(f"{name}\t{actual[name]}\t{_SCAN_BUDGET[name]}\t"
                    f"{_SCAN_BUDGET[name] - actual[name]}\n")
    assert not over, f"scan budget exceeded (got, budget): {over}"
    assert not py_offenders, (
        "grouped/arrow Python map stage outside the allowed exhibits "
        f"(see _PY_MAP_ALLOWED): {py_offenders}")


def test_dsir_scoring_single_shuffle_broadcast_model(spark, sf_dir):
    """DSIR scoring must be ONE shuffle: the dense 4096-row log-ratio
    model broadcast-joins the exploded features map-side and the
    per-doc decimal sum partial-aggregates before its exchange. The
    model-fit aggregates (bucket counts, totals) are their own tiny
    exchanges; what may never appear is a shuffle join of corpus-sized
    inputs (SortMergeJoin) or a per-doc re-shuffle beyond the final
    aggregate."""
    from australia_company_etl_pipeline_spark.catalog import table
    from australia_company_etl_pipeline_spark.operators import dsir

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    target = docs.filter(F.col("doc_id") % 5 == 0)
    ratio = dsir.log_ratio_table(
        spark, dsir.bucket_counts(target, "text"),
        dsir.bucket_counts(docs, "text"))
    plan = _plan(dsir.importance_weights(docs, "text", "doc_id", ratio))
    counts = _node_counts(plan)
    assert counts["SortMergeJoin"] == 0, counts
    assert counts["BroadcastHashJoin"] >= 1, counts
    # partial+final HashAggregate pairs confirm map-side combine on the
    # scoring sum (4 aggregates: 2 bucket fits, 2 totals, 1 scoring —
    # each split partial/final)
    assert counts["HashAggregate"] >= 2, counts
    # exchanges: one per model-fit aggregate + broadcasts + ONE for the
    # per-doc scoring sum — corpus-sized data crosses the wire once
    plain_exchanges = plan.count("+- Exchange hashpartitioning")
    assert plain_exchanges <= 5, plan


def test_jaccard_similarity_join_plan_shape(spark, sf_dir):
    """The prefix-filtered exact similarity join must stay bucketed:
    candidates come from an equi-join on the prefix shingle (sort-merge
    or shuffled-hash — a JOIN with keys), never a cartesian/nested-loop
    pass, and the keep/verify aggregates are partial (map-side combine
    visible as HashAggregate pairs)."""
    from australia_company_etl_pipeline_spark.catalog import table
    from australia_company_etl_pipeline_spark.operators import dedup as dd

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = dd.shingle_frame(docs, "text", "doc_id", shingle=3,
                          persist=False)
    plan = _plan(dd.jaccard_similarity_join(sh, "doc_id", threshold=0.8))
    counts = _node_counts(plan)
    assert counts["CartesianProduct"] == 0, counts
    assert counts["BroadcastNestedLoopJoin"] == 0, counts
    assert counts["SortMergeJoin"] + counts["ShuffledHashJoin"] \
        + counts["BroadcastHashJoin"] >= 3, counts  # freq join-back,
    #                                   candidate self-join, 2 verifies
    assert counts["HashAggregate"] >= 4, counts


def test_span_dup_rate_estimate_windows_per_doc(spark, sf_dir):
    """The winnow argmin must ride a PER-DOC window (partitioned by id
    — skew bounded by document length), never a global single-partition
    window, and the whole probe carries no join at all."""
    from australia_company_etl_pipeline_spark.catalog import table
    from australia_company_etl_pipeline_spark.operators import dedup as dd

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    plan = _plan(dd.span_dup_rate_estimate(docs, span_words=8,
                                           winnow_k=4))
    counts = _node_counts(plan)
    assert counts["Window"] >= 1, counts
    assert "SinglePartition" not in plan.split("Window")[1][:400], plan
    for node in ("SortMergeJoin", "BroadcastHashJoin",
                 "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert counts[node] == 0, counts


# ---------------------------------------------------------------------------
# r7 operators: URL shaping, ccnet tiers (plan shapes)
# ---------------------------------------------------------------------------

def test_canonicalize_url_is_pure_projection(spark, sf_dir):
    """Canonicalization must stay a shuffle-free codegen projection —
    no Exchange, no Python evaluation."""
    from australia_company_etl_pipeline_spark.catalog import table
    from australia_company_etl_pipeline_spark.operators import urls as U

    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.concat(F.lit("http://h.com/"),
                           F.col("doc_id").cast("string")).alias("url"))
    plan = _plan(d.select(U.canonicalize_url("url"), U.url_key("url"),
                          U.registrable_domain("url")))
    assert "Exchange" not in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # formatted mode marks codegen stages with '*'; the higher-order
    # param-filter lambda keeps the outermost Project interpreted, but
    # the chain must stay scan→project only
    assert "* Project" in plan or "* ColumnarToRow" in plan, plan


def test_url_dedup_uses_partial_agg_not_window(spark, sf_dir):
    """url_dedup's keep-first must be the skew-safe partial-aggregated
    groupBy(min) + join shape — no window funnel per URL key."""
    from australia_company_etl_pipeline_spark.catalog import table
    from australia_company_etl_pipeline_spark.operators import urls as U

    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.concat(F.lit("http://h.com/"),
                           (F.col("doc_id") % 50).cast("string"))
        .alias("url"))
    plan = _plan(U.url_dedup(d, "url", "doc_id"))
    assert "Window" not in plan, plan
    assert "partial_min" in plan or "HashAggregate" in plan, plan


def test_ccnet_buckets_lazy_bounded_boundary_plan(spark):
    """r11: the tier boundaries are computed IN-PLAN — construction
    runs ZERO eager jobs (the pre-r11 form ran count + two
    exact_order_stat driver probes, five jobs per call), every join in
    the read path is broadcast (the boundary pivot is one row), and the
    persisted scored frame is scanned a bounded number of times
    (histogram + in-bin probe + final projection), never through a
    corpus-wide window or sort-merge join."""
    from australia_company_etl_pipeline_spark.operators import lm as lm_ops

    sc = spark.sparkContext

    def _max_job():
        ids = sc.statusTracker().getJobIdsForGroup(None)
        return max(ids) if ids else -1

    df = spark.createDataFrame([(i, float(i % 7)) for i in range(50)],
                               "doc_id long, avg_nll double")
    j0 = _max_job()
    out = lm_ops.ccnet_buckets(df, "avg_nll", "doc_id")
    plan = _plan(out)
    assert _max_job() == j0, "ccnet_buckets ran eager driver jobs"
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # exactly three passes over the persisted scored frame: histogram,
    # in-bin boundary probe, final projection (formatted explain prints
    # each node twice — once in the tree, once in the details section)
    assert plan.count("InMemoryTableScan") <= 6, plan
    # the corpus-wide read is projection + 1-row broadcast only: every
    # Window in the plan is keyed (boundary index / histogram bins),
    # never an unpartitioned pass over the scored rows' ids
    assert "windowspecdefinition(doc_id" not in plan, plan


def test_cap_per_key_no_window_on_raw_key_over_full_input(spark, sf_dir):
    """Skew pin (r8): the cap's level-1 window must partition on
    (key, __salt) — never on the raw key alone over the full input —
    so a mega-host fans out over salt_buckets tasks. The raw-key
    window is allowed only on level 2, downstream of the level-1
    row_number filter (a bounded <= salt_buckets*n survivor set)."""
    from australia_company_etl_pipeline_spark.catalog import table
    from australia_company_etl_pipeline_spark.operators import (
        textstats as ts,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id", "lang",
                                                    "text")
    plan = _plan(ts.cap_per_key(docs, ["lang"], n=5))
    counts = _node_counts(plan)
    assert counts["Window"] == 2, counts
    # parse each Window node's detail block: windowspecdefinition(...)
    # carries the partition spec; node ids increase downstream, so the
    # raw-key (unsalted) window must come AFTER the __rn1 filter node
    import re
    win_nodes = [(int(m.group(1)), m.group(2)) for m in re.finditer(
        r"\((\d+)\) Window\s*\n((?:.+\n)+?)\n", plan)]
    assert len(win_nodes) == 2, plan
    salted = [nid for nid, d in win_nodes if "__salt" in d]
    raw = [nid for nid, d in win_nodes if "__salt" not in d]
    assert len(salted) == 1 and len(raw) == 1, win_nodes
    rn1_filter = re.search(r"\((\d+)\) Filter\s*\n(?:.+\n)*?"
                           r".*__rn1.*<= 5", plan)
    assert rn1_filter, plan
    assert raw[0] > int(rn1_filter.group(1)) > salted[0], (
        salted, raw, rn1_filter.group(1))
    # map-side top-n pruning must survive: both shuffles preceded by a
    # partial WindowGroupLimit so only <=n rows per group per map task
    # ever enter an exchange
    assert plan.count("WindowGroupLimit") >= 2, plan


def test_cap_per_key_salt_disabled_single_window(spark, sf_dir):
    """salt_buckets=1 must reproduce the single-window form (no salt
    column, one Window) for callers that know their keys are tiny."""
    from australia_company_etl_pipeline_spark.catalog import table
    from australia_company_etl_pipeline_spark.operators import (
        textstats as ts,
    )

    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    plan = _plan(ts.cap_per_key(docs, ["lang"], n=5, salt_buckets=1))
    counts = _node_counts(plan)
    assert counts["Window"] == 1, counts
    assert "__salt" not in plan, plan


def test_top10_fold_uses_takeordered_and_broadcast(spark, sf_dir):
    """r8 fold pin: order_rank_and_lag's global top-10 must lower to
    TakeOrderedAndProject (per-partition top-k + driver merge — no
    global sort shuffle) and rejoin via broadcast, never a sort-merge
    join or a single-partition global Sort."""
    from australia_company_etl_pipeline_spark import plans

    plan = _plan(plans.REGISTRY["order_rank_and_lag"].builder(
        spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    counts = _node_counts(plan)
    assert counts["SortMergeJoin"] == 0, counts
