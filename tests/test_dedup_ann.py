"""Recall/consistency tests for the hash-based operators the DuckDB oracle
can't check (MinHash/SimHash signatures, LSH/IVF search) — verified against
their exact in-engine baselines instead."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from australia_company_etl_pipeline_spark import plans
from australia_company_etl_pipeline_spark.operators import ann
from australia_company_etl_pipeline_spark.operators import dedup as dd
from australia_company_etl_pipeline_spark.operators import staging


def _pairs(df):
    return {(r.id_a, r.id_b) for r in df.collect()}


def test_minhash_recall_vs_exact(spark, sf_dir):
    """LSH candidates are verified with exact Jaccard → precision is 1.0
    by construction; recall of planted near-dups must be high (with the
    fast 32-hash/8-band preset the registered query uses)."""
    exact = _pairs(plans.REGISTRY["ngram_jaccard_dup_pairs"]
                   .builder(spark, sf_dir)
                   .filter(F.col("method") == "exact"))
    merged = plans.REGISTRY["hashed_dup_pairs"].builder(spark, sf_dir)
    lsh = _pairs(merged.filter(F.col("method") == "minhash"))
    assert lsh <= exact                       # verified pairs: no false hits
    assert exact, "baseline found no planted near-dups — fixture broken"
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.9, f"LSH recall {recall} too low"


def test_simhash_finds_planted_dups(spark, sf_dir):
    """Exact copies have hamming 0; near copies (one appended token) stay
    within the hamming ball."""
    merged = plans.REGISTRY["hashed_dup_pairs"].builder(spark, sf_dir)
    pairs = merged.filter(F.col("method") == "simhash")
    got = {(r.id_a, r.id_b): r.score for r in pairs.collect()}
    exact_copy_pairs = [(i, i + 100000) for i in range(0, 500, 10)]
    found = [p for p in exact_copy_pairs if p in got]
    assert len(found) >= 0.9 * len(exact_copy_pairs)
    assert all(got[p] == 0.0 for p in found)  # identical text → hamming 0


def test_cross_corpus_branch_in_hashed_dup_pairs(spark, sf_dir):
    """The method='cross_corpus' rows are decontamination hits: corpus
    docs (incl. the planted copies) that near-duplicate a benchmark doc
    (every 13th original). Identical texts share every MinHash band, so
    self-leaks and exact-copy leaks are found with certainty at 1.0."""
    merged = plans.REGISTRY["hashed_dup_pairs"].builder(spark, sf_dir)
    cc = {(r.id_a, r.id_b): r.score
          for r in merged.filter(F.col("method") == "cross_corpus")
          .collect()}
    assert cc, "no cross-corpus rows"
    # benchmark side is always an original doc from the eval slice
    assert all(b % 13 == 0 and b < 100000 for _, b in cc)
    # every benchmark doc is itself in the corpus → self-leak at 1.0
    for b in range(0, 500, 13):
        assert cc[(b, b)] == 1.0
    # exact corpus copies (+100000, every 10th) of benchmark docs
    for b in (0, 130, 260, 390):
        assert cc[(b + 100000, b)] == 1.0


def test_exact_dedup_keeps_lowest_id(spark, sf_dir):
    rows = plans.REGISTRY["exact_dedup_docs"].builder(spark, sf_dir).collect()
    kept = {r.keeper_id for r in rows}
    # originals all kept; exact copies (+100000) all dropped
    assert all(i in kept for i in range(0, 500, 10))
    assert all(i + 100000 not in kept for i in range(0, 500, 10))
    # group sizes: every planted exact copy forms a >1 group on its hash
    n_by_keeper = {r.keeper_id: r.n_docs for r in rows}
    assert all(n_by_keeper[i] >= 2 for i in range(0, 500, 10))


def test_ngram_pairs_size_guard(spark):
    big = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc text number "), F.col("id")).alias("text"))
    import pytest

    with pytest.raises(ValueError, match="O\\(n²\\)"):
        dd.ngram_jaccard_pairs(big, "text", "doc_id",
                               max_unblocked_rows=100).count()
    # waived explicitly -> runs
    assert dd.ngram_jaccard_pairs(big, "text", "doc_id",
                                  max_unblocked_rows=None).count() >= 0


def test_ngram_pairs_blocked_matches_unblocked(spark):
    """With a blocking column covering the true pairs, the blocked join
    returns exactly the unblocked result (pairs only form within
    blocks)."""
    rows = []
    for g in range(5):
        base = f"group {g} common words shared by this cluster of docs"
        rows += [(g * 10 + i, f"blk{g}", base + (" tail" if i else ""))
                 for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, blk string, text string")
    unblocked = _pairs(dd.ngram_jaccard_pairs(df, "text", "doc_id",
                                              threshold=0.7))
    blocked = _pairs(dd.ngram_jaccard_pairs(df, "text", "doc_id",
                                            threshold=0.7,
                                            block_col="blk"))
    assert blocked == unblocked and unblocked


def test_connected_components_chain_transitive(spark):
    """A~B and B~C must land in ONE cluster even when A~C is below
    threshold (transitive closure, not greedy pair-drop)."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    toks = base.split()
    doc_a = " ".join(toks)
    doc_b = " ".join(toks + ["extra1"])            # ~A: high overlap
    doc_c = " ".join(toks + ["extra1", "extra2", "extra3", "extra4"])
    df = spark.createDataFrame(
        [(1, doc_a), (2, doc_b), (3, doc_c),
         (9, "totally unrelated words nothing shared at all here now")],
        "doc_id long, text string")
    pairs = dd.ngram_jaccard_pairs(df, "text", "doc_id", n=3, threshold=0.7)
    got = _pairs(pairs)
    assert (1, 2) in got and (2, 3) in got and (1, 3) not in got, \
        f"fixture must form an open chain, got {got}"
    cc = dd.connected_components(pairs, nodes=df.select("doc_id"),
                                 node_col="doc_id")
    labels = {r.id: r.cluster_id for r in cc.collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 9: 9}


def test_connected_components_long_chain_and_singletons(spark):
    """A 40-link path (worst-case diameter) converges via pointer jumping;
    ids absent from pairs keep their own label."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)]
        + [(100, 101), (101, 102)], "id_a long, id_b long")
    nodes = spark.range(0, 120).select(F.col("id"))
    cc = dd.connected_components(pairs, nodes=nodes)
    labels = {r.id: r.cluster_id for r in cc.collect()}
    assert all(labels[i] == 0 for i in range(41))
    assert labels[100] == labels[101] == labels[102] == 100
    assert all(labels[i] == i for i in range(41, 100))


def test_connected_components_nonconvergence_warns(spark):
    """Exhausting max_iter with labels still moving must be observable —
    silent split clusters would emit multiple canonicals downstream."""
    import pytest

    pairs = spark.createDataFrame([(i, i + 1) for i in range(40)],
                                  "id_a long, id_b long")
    with pytest.warns(RuntimeWarning, match="without converging"):
        dd.connected_components(pairs, max_iter=2)


def test_connected_components_folded_convergence_saves_jobs(spark):
    """check_every=2 must schedule fewer Spark jobs than checking each
    round (the VERDICT item: one action per round, not two)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(16)], "id_a long, id_b long")
    nodes = spark.range(0, 20).select(F.col("id"))

    def n_jobs(tag, **kw):
        sc = spark.sparkContext
        sc.setJobGroup(tag, tag)
        out = dd.connected_components(pairs, nodes=nodes, **kw)
        res = {r.id: r.cluster_id for r in out.collect()}
        sc.setJobGroup("other", "other")
        assert all(res[i] == 0 for i in range(17))
        return len(sc.statusTracker().getJobIdsForGroup(tag))

    every = n_jobs("cc-every-round", check_every=1)
    folded = n_jobs("cc-folded", check_every=2)
    assert folded < every, (folded, every)


def test_reliable_checkpoint_requires_dir(spark):
    """checkpoint='reliable' without setCheckpointDir must fail with a
    clear message, not an opaque executor error. (Runs before the test
    below, which sets a session-wide checkpoint dir.)"""
    import pytest

    from australia_company_etl_pipeline_spark.session import materialize

    if spark.sparkContext.getCheckpointDir():
        pytest.skip("checkpoint dir already set in this session")
    with pytest.raises(ValueError, match="setCheckpointDir"):
        materialize(spark.range(3), checkpoint="reliable")
    with pytest.raises(ValueError, match="unknown checkpoint mode"):
        materialize(spark.range(3), checkpoint="bogus")


def test_reliable_checkpoint_matches_local(spark, sf_dir, tmp_path):
    """checkpoint='reliable' (durable, for preemptible clusters) must
    produce bit-identical clusters and centroids to the default
    executor-local path."""
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    nodes = spark.range(0, 15).select(F.col("id"))
    loc = {(r.id, r.cluster_id)
           for r in dd.connected_components(pairs, nodes=nodes).collect()}
    rel = {(r.id, r.cluster_id)
           for r in dd.connected_components(
               pairs, nodes=nodes, checkpoint="reliable").collect()}
    assert loc == rel

    from australia_company_etl_pipeline_spark.catalog import table

    corpus = table(spark, sf_dir, "embeddings")
    c_loc = sorted((r.centroid_id, tuple(r.centroid_vec)) for r in
                   ann.kmeans_centroids(corpus, n_centroids=4,
                                        max_iter=2).collect())
    c_rel = sorted((r.centroid_id, tuple(r.centroid_vec)) for r in
                   ann.kmeans_centroids(corpus, n_centroids=4, max_iter=2,
                                        checkpoint="reliable").collect())
    assert c_loc == c_rel


def test_dedup_clusters_canonical_members(spark, sf_dir):
    out = plans.REGISTRY["dedup_clusters"].builder(spark, sf_dir)
    rows = out.collect()
    labels = {r.doc_id: r.cluster_id for r in rows}
    canon = {r.doc_id for r in rows if r.is_canonical}
    # exact copies (+100000) cluster with their originals
    assert all(labels[i + 100000] == labels[i] for i in range(0, 500, 10))
    # every cluster id is a canonical member, and it's the min
    assert canon == set(labels.values())
    for doc, cl in labels.items():
        assert cl <= doc


def test_lsh_topk_recall(spark, sf_dir):
    """Since the r6 fold both methods live in ONE registered query (the
    value-checked ann_bruteforce_topk): the lsh branch answers from the
    persisted bucket index and must keep its recall floor vs brute."""
    both = plans.REGISTRY["ann_bruteforce_topk"].builder(spark, sf_dir)
    b = {(r.query_id, r.vec_id)
         for r in both.filter(F.col("method") == "brute").collect()}
    l = {(r.query_id, r.vec_id)
         for r in both.filter(F.col("method") == "lsh").collect()}
    # every query must at least find itself (same bucket trivially)
    assert all((q, q) in l for q in range(5))
    # bucketed search returns a subset of the corpus scored exactly →
    # any returned pair that's also in brute's top-k has the same score.
    # Floor 0.6: the registered config (4 planes, hamming<=2 multiprobe)
    # measures 0.76-0.9 across sf0.001/0.01/0.1 — a bucketing regression
    # (broken probe set, broken equi-join) cannot hide under this pin.
    recall = len(b & l) / len(b)
    assert recall >= 0.6, f"LSH recall {recall} too low"


def test_lsh_index_topk_matches_direct_lsh(spark, sf_dir):
    """The persisted bucket index is a pure layout change: probing it
    must return EXACTLY what lsh_topk computes on the fly with the same
    planes, and the probe's scan must be partition-pruned to the probe
    set."""
    from australia_company_etl_pipeline_spark.plans.ann import (
        LSH_DIM, LSH_MULTIPROBE, LSH_PLANES, LSH_SEED, _ann_topk_branches)
    from australia_company_etl_pipeline_spark.plans.ann import (
        _corpus, _queries_df)

    direct = ann.lsh_topk(_corpus(spark, sf_dir),
                          _queries_df(spark, sf_dir), k=10,
                          n_planes=LSH_PLANES, dim=LSH_DIM,
                          seed=LSH_SEED, multiprobe=LSH_MULTIPROBE)
    want = {(r.query_id, r.vec_id, r.cosine_sim, r.rank)
            for r in direct.collect()}
    indexed = _ann_topk_branches(spark, sf_dir, "lsh")
    got = {(r.query_id, r.vec_id, r.cosine_sim, r.rank)
           for r in indexed.collect()}
    assert got == want
    # partition pruning reached the scan: the bucket column filter
    # shows up as PartitionFilters on the index read
    plan = indexed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "bucket" in plan.split("PartitionFilters:")[1][:200]


def test_ivf_topk_recall(spark, sf_dir):
    brute = plans.REGISTRY["ann_bruteforce_topk"].builder(spark, sf_dir)
    merged = plans.REGISTRY["ann_approx_topk"].builder(spark, sf_dir)
    b = {(r.query_id, r.vec_id)
         for r in brute.filter(F.col("method") == "brute").collect()}
    i = {(r.query_id, r.vec_id)
         for r in merged.filter(F.col("method") == "ivf").collect()}
    assert all((q, q) in i for q in range(5))
    recall = len(b & i) / len(b)
    assert recall >= 0.6, f"IVF recall {recall} too low for k-means lists"


def test_ann_approx_semdedup_branch(spark, sf_dir):
    """The registered semdedup fold must agree with the operator run
    directly on the same planted corpus, under the documented column
    mapping (query_id=member, vec_id=group, rank=is_canonical)."""
    from australia_company_etl_pipeline_spark.plans.dedup import (
        _embeddings_with_dups)

    from australia_company_etl_pipeline_spark.plans.ann import _ivf_path

    merged = plans.REGISTRY["ann_approx_topk"].builder(spark, sf_dir)
    got = {(r.query_id, r.vec_id, r.rank) for r in
           merged.filter(F.col("method") == "semdedup").collect()}
    # the registered fold reuses the persisted IVF index's centroids
    # (built by the builder call above) instead of retraining
    cents = spark.read.parquet(
        f"{_ivf_path(spark, sf_dir)}/centroids")
    want = {(r.vec_id, r.group_id, int(r.is_canonical)) for r in
            ann.semdedup(_embeddings_with_dups(spark, sf_dir),
                         threshold=0.99, vec_col="v", keep="far",
                         centroids=cents).collect()}
    assert got == want
    # the planted perturbed copies (ids+100k, every 5th) must land in the
    # same group as their originals, with exactly one canonical member
    groups = {}
    for member, group, canon in got:
        groups.setdefault(group, []).append((member, canon))
    planted = [g for g, ms in groups.items() if len(ms) > 1]
    assert planted, "no multi-member semantic-dup groups found"
    for g in planted:
        assert sum(c for _, c in groups[g]) == 1


def test_kmeans_centroids_deterministic_and_shaped(spark, sf_dir):
    from australia_company_etl_pipeline_spark.catalog import table

    corpus = table(spark, sf_dir, "embeddings")
    c1 = ann.kmeans_centroids(corpus, n_centroids=8, max_iter=3)
    c2 = ann.kmeans_centroids(corpus, n_centroids=8, max_iter=3)
    r1 = sorted((r.centroid_id, tuple(r.centroid_vec)) for r in c1.collect())
    r2 = sorted((r.centroid_id, tuple(r.centroid_vec)) for r in c2.collect())
    assert r1 == r2, "k-means must be bit-deterministic across runs"
    assert 1 <= len(r1) <= 8
    dim = len(corpus.select("embedding").head().embedding)
    assert all(len(v) == dim for _, v in r1)


def test_unpersist_shingles_releases_cache(spark):
    """minhash_dup_pairs stages its shingle projection (it feeds both
    the signature build and the verify join); staging.release() must
    unpersist everything the scope staged and drain it."""
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon zeta"),
         (3, "totally different words in this one here")],
        "doc_id long, text string")
    pairs = dd.minhash_dup_pairs(corpus, "text", "doc_id", threshold=0.8)
    assert pairs.count() >= 1
    assert staging.release() >= 1
    assert staging.release() == 0


def test_kmeans_empty_cluster_reseed_vs_drop(spark):
    """A corpus with only two distinct vectors but k=3 forces the Lloyd's
    degeneracy: a duplicated init centroid loses every max(struct) tie to
    its lower-id twin and wins no vectors. on_empty='reseed' (default)
    must refill the vacated id from the deterministic reserve so exactly
    k centroids come back; on_empty='drop' pins the classic shrink."""
    corpus = spark.createDataFrame(
        [(i, [1.0, 0.0] if i % 2 == 0 else [0.0, 1.0]) for i in range(8)],
        "vec_id long, embedding array<double>")
    reseeded = ann.kmeans_centroids(corpus, n_centroids=3, max_iter=2)
    rows = reseeded.collect()
    assert len(rows) == 3, "reseed must return exactly n_centroids rows"
    assert sorted(r.centroid_id for r in rows) == [1, 2, 3]
    dropped = ann.kmeans_centroids(corpus, n_centroids=3, max_iter=2,
                                   on_empty="drop")
    assert dropped.count() < 3, "duplicate-init corpus should shrink k"
    # deterministic across runs with reseeding in the loop
    again = sorted((r.centroid_id, tuple(r.centroid_vec))
                   for r in ann.kmeans_centroids(
                       corpus, n_centroids=3, max_iter=2).collect())
    assert again == sorted((r.centroid_id, tuple(r.centroid_vec))
                           for r in rows)


def test_minhash_signature_similar_docs_collide(spark):
    """Two texts sharing most shingles agree on most signature slots."""
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "the quick brown fox jumps over the lazy dog tonight"),
         (3, "completely different words entirely unrelated content here")],
        "doc_id long, text string")
    sig = df.select("doc_id",
                    dd.minhash_signature(F.col("text"), 64, 3).alias("s"))
    rows = {r.doc_id: r.s for r in sig.collect()}
    agree_12 = sum(a == b for a, b in zip(rows[1], rows[2])) / 64
    agree_13 = sum(a == b for a, b in zip(rows[1], rows[3])) / 64
    assert agree_12 > 0.5 > agree_13
    assert agree_13 == 0.0


def test_cosine_native_matches_python(spark):
    import math
    a = [1.0, 2.0, 3.0]
    b = [-1.0, 0.5, 2.0]
    exp = (sum(x * y for x, y in zip(a, b))
           / (math.sqrt(sum(x * x for x in a))
              * math.sqrt(sum(y * y for y in b))))
    got = spark.range(1).select(
        ann.cosine(F.array(*[F.lit(x) for x in a]),
                   F.array(*[F.lit(y) for y in b])).alias("c")).head().c
    assert abs(got - exp) < 1e-12


def test_simhash_table_matches_column_form(spark):
    """The explode-aggregate fingerprint (scale path) must equal the
    Column-level simhash() bit-for-bit, including tokenless docs → 0."""
    df = spark.createDataFrame(
        [(1, "the quick brown fox the quick"),
         (2, "completely different words entirely"),
         (3, ""), (4, "   ")],
        "doc_id long, text string")
    fast = {r.doc_id: r["__sh"]
            for r in dd.simhash_table(df, "text", "doc_id").collect()}
    slow = {r.doc_id: r.s for r in df.select(
        "doc_id", dd.simhash(F.col("text")).alias("s")).collect()}
    assert fast == slow
    assert fast[3] == 0 and fast[4] == 0


def test_minhash_explode_signature_matches_column_form(spark):
    """The explode-aggregate signature (scale path) must equal the
    Column-level minhash_signature() slot-for-slot."""
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta"),
         (2, "one two three four five six seven eight")],
        "doc_id long, text string")
    sh = df.select("doc_id", dd.word_ngrams(F.col("text"), 3).alias("__sh"))
    exploded = sh.select("doc_id", F.explode("__sh").alias("__g"))
    fast = exploded.select(
        "doc_id", F.xxhash64("__g").alias("__h")).groupBy("doc_id").agg(*[
            F.min(F.hash(F.col("__h"), F.lit(s))).alias(f"m{s}")
            for s in range(16)])
    fast_rows = {r.doc_id: [r[f"m{s}"] for s in range(16)]
                 for r in fast.collect()}
    slow_rows = {r.doc_id: list(r.s) for r in df.select(
        "doc_id",
        dd.minhash_signature(F.col("text"), 16, 3).alias("s")).collect()}
    assert fast_rows == slow_rows


def test_embedding_dup_pairs_lsh_recall(spark, sf_dir):
    """The LSH-bucketed embedding near-dup path (scale form) must find
    ≥90% of the exact baseline's planted perturbed-copy pairs, with
    exact precision (every emitted pair verified by true cosine)."""
    folded = plans.REGISTRY["embedding_dup_pairs"].builder(spark, sf_dir)
    exact = _pairs(folded.filter(F.col("method") == "exact"))
    assert exact, "exact baseline found no planted near-dups"

    from australia_company_etl_pipeline_spark.plans.dedup import (
        _embeddings_with_dups,
    )

    corpus = _embeddings_with_dups(spark, sf_dir)
    got = _pairs(ann.embedding_dup_pairs_lsh(
        corpus, threshold=0.99, vec_col="v"))
    assert got <= exact                          # exact-verified: no FPs
    recall = len(got & exact) / len(exact)
    assert recall >= 0.9, f"embedding LSH recall {recall} too low"


def test_segment_dedup_basics(spark):
    """Keep-first across docs, internal repeats deduped, partial tails
    always kept, reassembly preserves order."""
    docs = spark.createDataFrame(
        [(1, "a b c d e f"),        # segs: 'a b c' 'd e f'
         (2, "a b c x y z tail"),   # 'a b c' dup of doc1 seg0; 'tail' partial
         (3, "d e f d e f")],       # second 'd e f' dups doc1's AND its own
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in dd.segment_dedup(
        docs, words_per_seg=3).collect()}
    assert out[1]["text_dedup"] == "a b c d e f"
    assert (out[1]["n_segs"], out[1]["n_kept"]) == (2, 2)
    # doc2 loses 'a b c' (doc1 saw it first) but keeps the partial tail
    assert out[2]["text_dedup"] == "x y z tail"
    assert (out[2]["n_segs"], out[2]["n_kept"]) == (3, 2)
    # doc3: both its segments duplicate doc1's 'd e f'
    assert out[3]["text_dedup"] == ""
    assert (out[3]["n_segs"], out[3]["n_kept"]) == (2, 0)


def test_segment_dedup_within_doc_first_wins(spark):
    """A repeat INSIDE one doc keeps only the earliest position."""
    docs = spark.createDataFrame([(7, "p q p q")],
                                 "doc_id long, text string")
    row = dd.segment_dedup(docs, words_per_seg=2).collect()[0]
    assert row["text_dedup"] == "p q"
    assert (row["n_segs"], row["n_kept"]) == (2, 1)


def test_segment_dedup_validates_width(spark):
    import pytest as _pytest
    docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        dd.segment_dedup(docs, words_per_seg=0)


def test_segment_dedup_no_false_merges_on_real_corpus(spark, sf_dir):
    """On the real corpus: token totals shrink by exactly the duplicated
    full segments; no doc gains text; unique docs are untouched."""
    from australia_company_etl_pipeline_spark.catalog import table
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    out = dd.segment_dedup(docs, words_per_seg=8)
    joined = (docs.join(out, "doc_id")
              .select("doc_id", "text", "text_dedup", "n_segs", "n_kept")
              .collect())
    assert len(joined) == docs.count()
    shrunk = 0
    for r in joined:
        assert r["n_kept"] <= r["n_segs"]
        assert len(r["text_dedup"]) <= len(r["text"])
        if r["n_kept"] == r["n_segs"]:
            assert r["text_dedup"] == r["text"]
        else:
            shrunk += 1
    assert shrunk > 0  # the corpus does contain cross-doc repeats


def test_segment_dedup_fuzz_vs_python_oracle(spark):
    """Randomized parity vs an independent pure-Python implementation:
    tiny vocabulary forces heavy cross-doc and in-doc collisions."""
    import math
    import random
    rng = random.Random(23)
    vocab = ["a", "b", "c"]
    docs = [(i, " ".join(rng.choice(vocab)
                         for _ in range(rng.randint(1, 17))))
            for i in range(120)]
    w = 3

    seen: set[str] = set()
    want = {}
    for doc_id, text in docs:           # global first = lowest (id, idx)
        toks = text.split(" ")
        kept, n_kept = [], 0
        n_segs = math.ceil(len(toks) / w)
        for idx in range(n_segs):
            seg = " ".join(toks[idx * w:(idx + 1) * w])
            full = (idx + 1) * w <= len(toks)
            if not full or seg not in seen:
                kept.append(seg)
                n_kept += 1
            if full:
                seen.add(seg)
        want[doc_id] = (n_segs, n_kept, " ".join(kept))

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_segs"], r["n_kept"], r["text_dedup"])
           for r in dd.segment_dedup(df, words_per_seg=w).collect()}
    assert got == want


def _inc_corpus():
    """40-token docs; every 4th doc gets a 1-token-edited near-copy
    (trigram jaccard ≈ 0.85) appended with a later id."""
    import random
    rng = random.Random(31)
    vocab = [f"w{i}" for i in range(400)]
    docs = [(i, " ".join(rng.choice(vocab) for _ in range(40)))
            for i in range(30)]
    nid = 100
    for i, text in list(docs):
        if i % 4 == 0:
            toks = text.split()
            toks[7] = "EDITED"
            docs.append((nid, " ".join(toks)))
            nid += 1
    return sorted(docs)


def _run_chunks(spark, tmp_path, docs, chunks, tag):
    idx = str(tmp_path / f"idx_{tag}")
    kept: list[int] = []
    start = 0
    for size in chunks:
        batch = spark.createDataFrame(docs[start:start + size],
                                      "doc_id long, text string")
        out = dd.incremental_dedup(batch, idx, "text", "doc_id",
                                   threshold=0.8)
        kept += [r["doc_id"] for r in out.select("doc_id").collect()]
        start += size
    assert start == len(docs)
    return sorted(kept)


def test_incremental_dedup_chunk_invariance(spark, tmp_path):
    """Re-chunking the arrival stream must never change the outcome —
    the property that makes the persisted index trustworthy."""
    docs = _inc_corpus()
    n = len(docs)
    whole = _run_chunks(spark, tmp_path, docs, [n], "whole")
    halves = _run_chunks(spark, tmp_path, docs, [n // 2, n - n // 2],
                         "halves")
    thirds = _run_chunks(spark, tmp_path, docs,
                         [n // 3, n // 3, n - 2 * (n // 3)], "thirds")
    assert whole == halves == thirds
    # the planted near-copies (ids >= 100) were dropped; originals kept
    assert all(i < 100 for i in whole)
    assert len(whole) == 30


def test_incremental_dedup_transitive_chain_across_batches(spark,
                                                          tmp_path):
    """a~b and b~c but a≁c: b drops against a; c must still drop against
    the ALREADY-DROPPED b (dropped docs index too) — in every chunking."""
    base = [f"t{i}" for i in range(40)]
    b_toks = list(base)
    b_toks[5] = "X"       # a~b ≈ 0.85
    c_toks = list(b_toks)
    c_toks[25] = "Y"      # b~c ≈ 0.85, a~c ≈ 0.73 < 0.8
    docs = [(1, " ".join(base)), (2, " ".join(b_toks)),
            (3, " ".join(c_toks))]
    for tag, chunks in (("one", [3]), ("ab_c", [2, 1]), ("a_bc", [1, 2]),
                        ("singles", [1, 1, 1])):
        assert _run_chunks(spark, tmp_path, docs, chunks,
                           f"chain_{tag}") == [1], tag


def test_incremental_dedup_portable_backend_index_roundtrip(spark,
                                                            tmp_path):
    """hash_fn='portable' writes LONG band hashes (the polynomial fold)
    where the native backend writes ints — the index read schema must
    derive from the computed frame, not hardcode int (which made every
    second-batch read fail with a parquet INT64/int32 mismatch). Also
    pins verdict parity with the native backend on a corpus where both
    band families catch the planted dups."""
    docs = _inc_corpus()
    n = len(docs)
    native = _run_chunks(spark, tmp_path, docs, [n // 2, n - n // 2],
                         "native_be")
    idx = str(tmp_path / "idx_portable_be")
    kept: list[int] = []
    for lo, hi in ((0, n // 2), (n // 2, n)):
        batch = spark.createDataFrame(docs[lo:hi],
                                      "doc_id long, text string")
        out = dd.incremental_dedup(batch, idx, "text", "doc_id",
                                   threshold=0.8, hash_fn="portable")
        kept += [r["doc_id"] for r in out.select("doc_id").collect()]
    assert sorted(kept) == native == list(range(30))


def test_incremental_dedup_replay_is_safe(spark, tmp_path):
    """Re-running a batch after its index append (the at-least-once
    orchestrator retry) must return the SAME kept set, not drop the
    whole batch as self-duplicates of its first run."""
    docs = _inc_corpus()
    idx = str(tmp_path / "idx_replay")
    batch = spark.createDataFrame(docs, "doc_id long, text string")
    first = sorted(r["doc_id"] for r in dd.incremental_dedup(
        batch, idx, "text", "doc_id", threshold=0.8).collect())
    replay = sorted(r["doc_id"] for r in dd.incremental_dedup(
        batch, idx, "text", "doc_id", threshold=0.8).collect())
    assert replay == first and len(first) == 30


def test_cluster_keepers_quality_election(spark):
    """Keeper re-election: the highest-quality member wins its cluster
    (ties → min id), replacing the min-id default."""
    from australia_company_etl_pipeline_spark.operators.dedup import (
        cluster_keepers)

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (20, 20)],
        "doc_id long, cluster_id long")
    quality = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9),     # tie on 0.9 → min id 2 wins
         (10, None), (11, 0.1),            # NULL ranks below any score
         (20, 0.5)],
        "doc_id long, q double")
    out = cluster_keepers(clusters, quality, "doc_id", "q")
    keepers = {r.cluster_id: r.doc_id for r in out.collect()
               if r.is_canonical}
    assert keepers == {1: 2, 10: 11, 20: 20}
    assert out.count() == 6  # every member still labeled
    # ascending election: keep the SMALLEST score instead
    asc = cluster_keepers(clusters, quality, "doc_id", "q",
                          descending=False)
    akeep = {r.cluster_id: r.doc_id for r in asc.collect()
             if r.is_canonical}
    assert akeep[1] == 1  # 0.2 is the lowest real score


def test_cluster_keepers_string_ids(spark):
    """Keeper election must work for non-numeric ids (UUID-style) — a
    numeric-negation tie-break would break analysis on strings."""
    from australia_company_etl_pipeline_spark.operators.dedup import (
        cluster_keepers)

    clusters = spark.createDataFrame(
        [("b", "a"), ("a", "a"), ("c", "a")],
        "doc_id string, cluster_id string")
    quality = spark.createDataFrame(
        [("a", 0.5), ("b", 0.9), ("c", 0.9)], "doc_id string, q double")
    out = cluster_keepers(clusters, quality, "doc_id", "q")
    keepers = {r.doc_id for r in out.collect() if r.is_canonical}
    assert keepers == {"b"}  # 0.9 tie -> min string id


def test_cluster_keepers_nan_missing_and_nonnumeric(spark):
    """Review regressions: a NaN score must LOSE the election (Spark
    sorts NaN above every double), members missing a score row stay
    labeled (lowest rank, not dropped), and a non-numeric order column
    raises instead of silently degrading to min-id."""
    import pytest

    from australia_company_etl_pipeline_spark.operators.dedup import (
        cluster_keepers)

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 1)], "doc_id long, cluster_id long")
    # doc 4 has NO score row at all; doc 1 scores NaN
    quality = spark.createDataFrame(
        [(1, float("nan")), (2, 0.9), (3, 0.1)], "doc_id long, q double")
    out = {r.doc_id: r.is_canonical
           for r in cluster_keepers(clusters, quality, "doc_id", "q")
           .collect()}
    assert out == {1: False, 2: True, 3: False, 4: False}
    asc = {r.doc_id: r.is_canonical
           for r in cluster_keepers(clusters, quality, "doc_id", "q",
                                    descending=False).collect()}
    assert asc[3] and not asc[1]  # lowest real score wins; NaN loses
    strings = spark.createDataFrame([(1, "high")], "doc_id long, q string")
    with pytest.raises(ValueError, match="must be numeric"):
        cluster_keepers(clusters, strings, "doc_id", "q")


def _semdedup_fixture(spark):
    """4 orthogonal concepts × 4 near-copies each (perturbations well
    inside the 0.95 cosine ball) + 4 orthogonal singletons, dim 16."""
    rows = []
    vid = 0
    for c in range(4):                       # concepts on axes e0..e3
        for j, eps in enumerate((0.0, 0.01, 0.02, 0.04)):
            v = [0.0] * 16
            v[c] = 1.0
            v[8 + c] = eps                   # perturb a dedicated axis
            rows.append((vid, v))
            vid += 1
    for s in range(4):                       # singletons on axes e4..e7
        v = [0.0] * 16
        v[4 + s] = 1.0
        rows.append((vid, v))
        vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_semdedup_groups_and_far_election(spark):
    """SemDeDup invariants: each planted concept collapses to ONE
    semantic-dup group with exactly one canonical member; orthogonal
    concepts never merge; singletons stay canonical; keep='far' elects
    the group's minimum-centroid-sim member and keep='near' its
    maximum (the paper rule and its exemplar variant)."""
    corpus = _semdedup_fixture(spark)
    out = ann.semdedup(corpus, threshold=0.95, n_clusters=4,
                       kmeans_iter=3, keep="far").collect()
    assert len(out) == 20                      # one row per input id
    by_group = {}
    for r in out:
        by_group.setdefault(r.group_id, []).append(r)
    # the 4 concepts: ids 0-3, 4-7, 8-11, 12-15 → groups keyed by min id
    for lead in (0, 4, 8, 12):
        members = by_group[lead]
        assert sorted(r.vec_id for r in members) == list(
            range(lead, lead + 4))
        canon = [r for r in members if r.is_canonical]
        assert len(canon) == 1
        # farthest-from-centroid member wins under keep='far'
        assert canon[0].centroid_sim == min(r.centroid_sim
                                            for r in members)
    for sid in (16, 17, 18, 19):               # singletons: own group
        (r,) = by_group[sid]
        assert r.is_canonical
    near = ann.semdedup(corpus, threshold=0.95, n_clusters=4,
                        kmeans_iter=3, keep="near").collect()
    for lead in (0, 4, 8, 12):
        members = [r for r in near if r.group_id == lead]
        canon = [r for r in members if r.is_canonical]
        assert len(canon) == 1
        assert canon[0].centroid_sim == max(r.centroid_sim
                                            for r in members)


def test_semdedup_min_id_and_bad_mode(spark):
    import pytest

    corpus = _semdedup_fixture(spark)
    out = ann.semdedup(corpus, threshold=0.95, n_clusters=4,
                       kmeans_iter=3, keep="min_id").collect()
    for lead in (0, 4, 8, 12):
        canon = [r.vec_id for r in out
                 if r.group_id == lead and r.is_canonical]
        assert canon == [lead]                 # min id IS the group label
    with pytest.raises(ValueError, match="keep mode"):
        ann.semdedup(corpus, keep="best")


def test_semdedup_quarantines_nonfinite_vectors(spark):
    """Spark evaluates NaN > 0 and NaN >= threshold as TRUE — an
    unguarded NaN embedding would 'pair' with its whole k-means cluster
    and delete it. Corrupt vectors must come back canonical in their own
    singleton group with NULL centroid columns, leaving every other
    group exactly as in the clean run."""
    corpus = _semdedup_fixture(spark)
    bad = spark.createDataFrame(
        [(100, [float("nan")] * 16), (101, [float("inf")] * 16),
         (102, None)],  # NULL embedding: NULL norm makes BOTH branch
        #                 predicates not-TRUE — must quarantine, not vanish
        "vec_id long, embedding array<float>")
    out = ann.semdedup(corpus.unionByName(bad), threshold=0.95,
                       n_clusters=4, kmeans_iter=3, keep="far").collect()
    assert len(out) == 23
    by_id = {r.vec_id: r for r in out}
    for vid in (100, 101, 102):
        r = by_id[vid]
        assert r.is_canonical and r.group_id == vid
        assert r.centroid_id is None and r.centroid_sim is None
    clean = ann.semdedup(corpus, threshold=0.95, n_clusters=4,
                         kmeans_iter=3, keep="far").collect()
    assert {(r.vec_id, r.group_id, r.is_canonical) for r in clean} == {
        (r.vec_id, r.group_id, r.is_canonical) for r in out
        if r.vec_id < 100}


def test_ivf_index_build_probe_and_prune(spark, sf_dir, tmp_path):
    """The persisted IVF layout must answer exactly like the in-memory
    IVF kernel (same centroids: same seed, same deterministic Lloyd's),
    and the probe scan must actually PRUNE: only probed inverted-list
    partition directories may appear among the scan's input files."""
    from australia_company_etl_pipeline_spark.catalog import table

    corpus = table(spark, sf_dir, "embeddings")
    queries = (corpus.filter(F.col("vec_id") < 2)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_vec")))
    path = str(tmp_path / "ivf")
    ann.build_ivf_index(corpus, path, n_centroids=8, kmeans_iter=3)

    got = ann.ivf_index_topk(spark, path, queries, k=10, n_probe=2)
    want = ann.ivf_topk(corpus, queries, k=10, n_centroids=8,
                        kmeans_iter=3, n_probe=2)
    assert ({(r.query_id, r.vec_id, r.cosine_sim, r.rank)
             for r in got.collect()}
            == {(r.query_id, r.vec_id, r.cosine_sim, r.rank)
                for r in want.collect()})

    # pruning: the probe filter must land as a PARTITION filter on the
    # list scan (directory-level skip), not a post-scan predicate —
    # and must name a strict subset of the 8 lists
    import contextlib
    import io
    import re as _re

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        got.explain("formatted")
    pf = [ln for ln in buf.getvalue().splitlines()
          if "PartitionFilters" in ln and "centroid_id" in ln
          and " IN " in ln]
    assert pf, buf.getvalue()
    probed = {int(x) for x in
              _re.search(r" IN \(([\d,]+)\)", pf[0]).group(1).split(",")}
    all_lists = {r.centroid_id for r in
                 spark.read.parquet(f"{path}/lists")
                 .select("centroid_id").distinct().collect()}
    assert probed and probed < all_lists      # strict subset: pruned
    assert spark.read.parquet(f"{path}/centroids").count() == 8


def test_ivf_index_append_grows_lists_consistently(spark, sf_dir,
                                                   tmp_path):
    """Appending new vectors must assign them with the ORIGINAL
    centroids (no retrain) so an index built on the full corpus and an
    index built-then-appended answer queries identically."""
    from australia_company_etl_pipeline_spark.catalog import table

    corpus = table(spark, sf_dir, "embeddings")
    first = corpus.filter(F.col("vec_id") % 2 == 0)
    rest = corpus.filter(F.col("vec_id") % 2 == 1)
    queries = (corpus.filter(F.col("vec_id") < 3)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_vec")))
    grown = str(tmp_path / "grown")
    ann.build_ivf_index(first, grown, n_centroids=8, kmeans_iter=3)
    ann.append_to_ivf_index(rest, grown)

    got = {(r.query_id, r.vec_id, r.cosine_sim, r.rank)
           for r in ann.ivf_index_topk(spark, grown, queries, k=5,
                                       n_probe=8).collect()}
    # n_probe=8 probes EVERY list → results must equal exact brute force
    want = {(r.query_id, r.vec_id, r.cosine_sim, r.rank)
            for r in ann.brute_force_topk(corpus, queries, k=5).collect()}
    assert got == want
    # appended rows live in existing list dirs, all rows present
    lists = spark.read.parquet(f"{grown}/lists")
    assert lists.count() == corpus.count()
    # orchestrator retry of the append job: the id anti-join makes the
    # re-append a no-op instead of doubling rows (which would surface as
    # duplicate (query_id, vec_id) pairs from ivf_index_topk)
    ann.append_to_ivf_index(rest, grown)
    assert spark.read.parquet(f"{grown}/lists").count() == corpus.count()


def test_compact_dedup_index_removes_replay_duplicates(spark, tmp_path):
    """A replayed batch appends its bucket/shingle rows twice; compaction
    must shrink both tables back to distinct rows without changing the
    dedup verdicts of the next batch."""
    index = str(tmp_path / "idx")

    def doc(i, copy_of=None):
        base = " ".join(f"q{copy_of if copy_of is not None else i}y{j}"
                        for j in range(20))
        return (i, base + (" extra" if copy_of is not None else ""))

    schema = "doc_id long, text string"
    b1 = spark.createDataFrame([doc(i) for i in range(5)], schema)
    dd.incremental_dedup(b1, index, "text", "doc_id")
    staging.release()
    dd.incremental_dedup(b1, index, "text", "doc_id")  # replay: re-append
    staging.release()
    dup_rows = spark.read.parquet(f"{index}/shingles").count()
    removed = dd.compact_dedup_index(spark, index)
    assert removed["shingles"] == dup_rows // 2 > 0
    assert removed["buckets"] > 0
    assert (spark.read.parquet(f"{index}/shingles").count()
            == dup_rows // 2)
    # post-compaction verdicts unchanged: a near-copy of doc 2 still dies
    b2 = spark.createDataFrame([doc(10, copy_of=2), doc(11)], schema)
    kept = dd.incremental_dedup(b2, index, "text", "doc_id")
    assert sorted(r.doc_id for r in kept.collect()) == [11]


def test_incremental_dedup_refuses_crashed_compaction_state(spark,
                                                            tmp_path):
    """A compaction swap that crashed between its two renames leaves a
    table missing but its .__old backup (or the sibling table) present.
    The next batch must FAIL LOUDLY, not read the missing table as an
    empty history — an empty history silently re-admits every known
    duplicate while appending to a forked index (the r5 ADVICE hole)."""
    import os
    import shutil

    import pytest

    schema = "doc_id long, text string"
    b1 = spark.createDataFrame(
        [(i, " ".join(f"w{i}x{j}" for j in range(20)))
         for i in range(4)], schema)

    def crashed(mutate):
        idx = str(tmp_path / f"idx_{mutate.__name__}")
        dd.incremental_dedup(b1, idx, "text", "doc_id")
        staging.release()
        mutate(idx)
        with pytest.raises(IOError, match="crashed compaction"):
            dd.incremental_dedup(b1.select(
                (F.col("doc_id") + 10).alias("doc_id"), "text"),
                idx, "text", "doc_id")

    # buckets mid-swap: renamed to .__old, replacement never landed
    def buckets_old(idx):
        os.rename(f"{idx}/buckets", f"{idx}/buckets.__old")

    # shingles mid-swap: same window on the other table
    def shingles_old(idx):
        os.rename(f"{idx}/shingles", f"{idx}/shingles.__old")

    # shingles gone while buckets remain: appends write shingles FIRST,
    # so established history can never legitimately look like this
    def shingles_lost(idx):
        shutil.rmtree(f"{idx}/shingles")

    for mutate in (buckets_old, shingles_old, shingles_lost):
        crashed(mutate)

    # the harmless orphan window stays harmless: shingles present,
    # buckets missing, NO backup — the documented first-append crash
    # between the two writes reads as an empty bucket history
    idx = str(tmp_path / "idx_orphan")
    dd.incremental_dedup(b1, idx, "text", "doc_id")
    staging.release()
    shutil.rmtree(f"{idx}/buckets")
    kept = dd.incremental_dedup(
        b1.select((F.col("doc_id") + 10).alias("doc_id"), "text"),
        idx, "text", "doc_id")
    assert kept.count() == 4     # no bucket history -> nothing drops


def test_portable_sketch_backends_precision_and_planted_recall(spark):
    """The portable (FNV/LCG) MinHash and SimHash backends must keep the
    family contracts: verified minhash pairs are a SUBSET of the exact
    Jaccard pairs at the same threshold (precision 1.0 by construction),
    planted exact copies are always found (identical text → identical
    signatures / hamming 0), and fingerprints are deterministic across
    repeated runs."""
    rows = []
    for g in range(6):
        base = " ".join(f"grp{g} tok{g}{j} word{j}" for j in range(12))
        rows.append((g * 10, base))
        rows.append((g * 10 + 1, base))                  # exact copy
    rows.append((990, "entirely different text with no overlap at all"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    exact = _pairs(dd.ngram_jaccard_pairs(df, "text", "doc_id",
                                          threshold=0.8))
    mh = _pairs(dd.minhash_dup_pairs(df, "text", "doc_id", threshold=0.8,
                                     num_hashes=16, bands=4,
                                     hash_fn="portable"))
    assert mh <= exact                       # exact verify → no false hits
    copies = {(g * 10, g * 10 + 1) for g in range(6)}
    assert copies <= mh                      # identical text always found

    sp1 = {(r.id_a, r.id_b): r.hamming for r in
           dd.simhash_dup_pairs(df, "text", "doc_id", max_hamming=8,
                                hash_fn="portable").collect()}
    sp2 = {(r.id_a, r.id_b): r.hamming for r in
           dd.simhash_dup_pairs(df, "text", "doc_id", max_hamming=8,
                                hash_fn="portable").collect()}
    assert sp1 == sp2                        # deterministic
    for p in copies:
        assert sp1[p] == 0                   # identical text → hamming 0


def test_minhash_bad_hash_fn_raises(spark):
    import pytest

    df = spark.createDataFrame([(1, "a b c d e f")],
                               "doc_id long, text string")
    with pytest.raises(ValueError, match="hash_fn"):
        dd.minhash_dup_pairs(df, "text", "doc_id",
                             hash_fn="md5").count()
    with pytest.raises(ValueError, match="hash_fn"):
        dd.simhash_dup_pairs(df, "text", "doc_id",
                             hash_fn="md5").count()


def test_dimension_mismatch_raises_not_zeroes(spark, sf_dir, tmp_path):
    """A 32-dim query against a 64-dim index (or mismatched supplied
    centroids in semdedup) must raise, not silently score 0.0 against
    everything via zip_with NULL padding."""
    import pytest

    from australia_company_etl_pipeline_spark.catalog import table

    corpus = table(spark, sf_dir, "embeddings").select("vec_id",
                                                       "embedding")
    path = str(tmp_path / "ivf64")
    ann.build_ivf_index(corpus, path, n_centroids=4, kmeans_iter=2)
    bad_q = spark.createDataFrame([(0, [1.0] * 32)],
                                  "query_id long, query_vec array<double>")
    with pytest.raises(ValueError, match="dimension"):
        ann.ivf_index_topk(spark, path, bad_q, k=3).count()

    cents = spark.read.parquet(f"{path}/centroids")
    bad_corpus = spark.createDataFrame(
        [(1, [1.0] * 32), (2, [0.5] * 32)],
        "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="dimension"):
        ann.semdedup(bad_corpus, centroids=cents).count()


def test_token_frame_derived_families_match_direct(spark):
    """The staged-tokenization forms (token_frame → shingle_frame /
    simhash_table via tokens_df=) must produce exactly what the direct
    from-text forms produce — the scan-expensive-corpus option stays a
    pure plumbing change, never a semantic one."""
    df = spark.createDataFrame(
        [(1, "Alpha beta GAMMA delta epsilon"),
         (2, "alpha beta gamma delta epsilon"),
         (3, "unrelated words entirely here now"),
         (4, ""), (5, None)],
        "doc_id long, text string")
    toks = dd.token_frame(df, "text", "doc_id")

    direct_sh = {(r[0], tuple(r[1])) for r in
                 dd.shingle_frame(df, "text", "doc_id", shingle=3,
                                  persist=False).collect()}
    derived_sh = {(r[0], tuple(r[1])) for r in
                  dd.shingle_frame(df, "text", "doc_id", shingle=3,
                                   persist=False,
                                   tokens_df=toks).collect()}
    assert direct_sh == derived_sh

    direct_fp = {r[0]: r[1] for r in
                 dd.simhash_table(df, "text", "doc_id").collect()}
    derived_fp = {r[0]: r[1] for r in
                  dd.simhash_table(df, "text", "doc_id",
                                   tokens_df=toks).collect()}
    assert direct_fp == derived_fp


def test_line_dedup_first_vs_common_semantics(spark):
    """Hand-built corpus pinning the two modes' defining difference:
    keep-first drops EVERY later repeat (including within one doc);
    the boilerplate rule drops only lines spanning >= min_docs DISTINCT
    docs, so an intra-doc repeat survives it. Whitespace-only lines
    vanish in both modes and never count."""
    docs = spark.createDataFrame(
        [(1, "alpha\nFOOTER\nalpha\n   "),   # intra-doc repeat + blank
         (2, "bravo\nFOOTER"),
         (3, "charlie\nFOOTER"),
         (4, "delta")],
        "doc_id long, text string")

    first = {r.doc_id: r for r in
             dd.line_dedup(docs, mode="first").collect()}
    assert first[1].n_lines == 3            # blank line not counted
    assert first[1].text_dedup == "alpha\nFOOTER"  # repeat dropped
    assert first[2].text_dedup == "bravo"   # FOOTER already seen
    assert first[3].text_dedup == "charlie"
    assert first[4].text_dedup == "delta"

    common = {r.doc_id: r for r in
              dd.line_dedup(docs, mode="common", min_docs=3).collect()}
    # FOOTER spans 3 distinct docs -> boilerplate, dropped everywhere;
    # doc 1's intra-doc repeat is NOT boilerplate (1 distinct doc)
    assert common[1].text_dedup == "alpha\nalpha"
    assert common[2].text_dedup == "bravo"
    assert common[3].text_dedup == "charlie"
    assert common[4].n_kept == 1

    import pytest

    with pytest.raises(ValueError, match="unknown mode"):
        dd.line_dedup(docs, mode="both")
    with pytest.raises(ValueError, match="min_docs"):
        dd.line_dedup(docs, mode="common", min_docs=0)


def test_ivf_recall_probe_full_vs_narrow(spark, tmp_path):
    """The index-health monitor: probing EVERY list recovers the exact
    top-k (recall 1.0 — the probe and brute force agree when nothing is
    pruned); a 1-list probe over a multi-cluster corpus must lose
    ground truth (recall < 1) yet stay positive (self-matches live in
    the probed list). Deterministic across repeated calls."""
    import numpy as np

    rng = np.random.default_rng(5)
    centers = rng.normal(size=(4, 16))
    rows = []
    for i in range(80):
        v = centers[i % 4] + 0.05 * rng.normal(size=16)
        rows.append((i, [float(x) for x in v]))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "ivf_probe")
    ann.build_ivf_index(corpus, path, n_centroids=4, kmeans_iter=4,
                        seed=1)

    full = ann.ivf_recall_probe(spark, path, k=5, n_probe=4,
                                sample=16).collect()[0]
    assert full.recall == 1.0
    assert (full.n_queries, full.k, full.n_probe, full.n_lists) == \
        (16, 5, 4, 4)

    narrow = ann.ivf_recall_probe(spark, path, k=5, n_probe=1,
                                  sample=16).collect()[0]
    assert 0.0 < narrow.recall <= 1.0
    again = ann.ivf_recall_probe(spark, path, k=5, n_probe=1,
                                 sample=16).collect()[0]
    assert again.recall == narrow.recall


def test_line_dedup_fuzz_vs_python_oracle(spark):
    """Randomized multi-line corpora vs a pure-Python oracle for BOTH
    modes — keep rules, blank-line normalization and reassembly order
    must agree exactly."""
    import random

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    lines_pool = [f"line {i} content" for i in range(12)] + ["   ", ""]

    @settings(max_examples=8, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(st.lists(st.lists(st.integers(0, len(lines_pool) - 1),
                             min_size=0, max_size=6),
                    min_size=1, max_size=8),
           st.integers(2, 4))
    def check(doc_specs, min_docs):
        docs = [(i, "\n".join(lines_pool[j] for j in spec))
                for i, spec in enumerate(doc_specs)]
        df = spark.createDataFrame(docs, "doc_id long, text string")

        # python oracle
        content = [(i, idx, ln)
                   for i, text in docs
                   for idx, ln in enumerate(text.split("\n"))
                   if ln.strip() != ""]
        seen = set()
        first_keep = set()
        for i, idx, ln in sorted(content, key=lambda t: (t[0], t[1])):
            if ln not in seen:
                seen.add(ln)
                first_keep.add((i, idx))
        from collections import defaultdict
        docs_per_line = defaultdict(set)
        for i, _, ln in content:
            docs_per_line[ln].add(i)

        def expect(mode):
            out = {}
            for i, _ in docs:
                mine = [(idx, ln) for (d, idx, ln) in content if d == i]
                if not mine:
                    continue
                if mode == "first":
                    kept = [(idx, ln) for idx, ln in mine
                            if (i, idx) in first_keep]
                else:
                    kept = [(idx, ln) for idx, ln in mine
                            if len(docs_per_line[ln]) < min_docs]
                out[i] = (len(mine), len(kept),
                          "\n".join(ln for _, ln in sorted(kept)))
            return out

        for mode in ("first", "common"):
            got = {r.doc_id: (r.n_lines, r.n_kept, r.text_dedup)
                   for r in dd.line_dedup(
                       df, mode=mode, min_docs=min_docs).collect()}
            assert got == expect(mode), mode

    check()


def test_jaccard_similarity_join_equals_quadratic_baseline(spark):
    """The prefix-filtered exact similarity join (AllPairs/PPJoin) must
    emit EXACTLY the quadratic baseline's pairs — the filter is a
    candidate reducer, never a recall trade — across thresholds and
    with planted near-dups, exact copies, disjoint docs and tiny
    shingle sets (prefix length edge: |S|=1)."""
    import pytest

    rows = []
    for g in range(5):
        base = " ".join(f"g{g}w{j} tok{j}" for j in range(10))
        rows.append((g * 10, base))
        rows.append((g * 10 + 1, base))                   # exact copy
        rows.append((g * 10 + 2, base + " extra trailer"))  # near copy
    rows.append((900, "solitary"))                        # 1 token
    rows.append((901, "solitary"))                        # its copy
    rows.append((950, "completely different text here now"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    for t in (0.5, 0.8, 1.0):
        sh = dd.shingle_frame(df, "text", "doc_id", shingle=3,
                              persist=False)
        want = {(r.id_a, r.id_b, r.jaccard) for r in
                dd.ngram_jaccard_pairs(df, "text", "doc_id", n=3,
                                       threshold=t).collect()}
        got = {(r.id_a, r.id_b, r.jaccard) for r in
               dd.jaccard_similarity_join(sh, "doc_id",
                                          threshold=t).collect()}
        assert got == want, f"threshold {t}"
        assert want, f"threshold {t}: baseline found nothing to compare"

    with pytest.raises(ValueError, match="threshold"):
        dd.jaccard_similarity_join(
            dd.shingle_frame(df, "text", "doc_id", persist=False),
            "doc_id", threshold=0.0)


def test_jaccard_similarity_join_fuzz_vs_quadratic(spark):
    """Randomized shingle universes: prefix filtering must never miss a
    pair the quadratic baseline finds (the float-slack ceil can only
    lengthen a prefix)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    pool = [f"w{i}" for i in range(8)]

    @settings(max_examples=6, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(st.lists(st.lists(st.integers(0, len(pool) - 1),
                             min_size=1, max_size=10),
                    min_size=2, max_size=8),
           st.sampled_from([0.3, 0.6, 0.9]))
    def check(doc_specs, t):
        docs = [(i, " ".join(pool[j] for j in spec))
                for i, spec in enumerate(doc_specs)]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        sh = dd.shingle_frame(df, "text", "doc_id", shingle=2,
                              persist=False)
        want = {(r.id_a, r.id_b, r.jaccard) for r in
                dd.ngram_jaccard_pairs(df, "text", "doc_id", n=2,
                                       threshold=t).collect()}
        got = {(r.id_a, r.id_b, r.jaccard) for r in
               dd.jaccard_similarity_join(sh, "doc_id",
                                          threshold=t).collect()}
        assert got == want

    check()


def test_span_dedup_catches_straddling_span_segment_dedup_misses(spark):
    """The defining case: a 13-token copy embedded at offset 3 of doc B
    straddles segment_dedup's aligned 8-word grid (no full grid segment
    of B equals any of A's), so the fixed-window pass ships it twice —
    span_dedup's stride-1 windows match at every offset and must strip
    the whole later copy, junk padding untouched."""
    a_toks = [f"a{i}" for i in range(20)]
    copied = a_toks[4:17]                       # 13 tokens >= span 8
    b_toks = ["j0", "j1", "j2"] + copied + ["j3", "j4"]
    docs = spark.createDataFrame(
        [(1, " ".join(a_toks)), (2, " ".join(b_toks))],
        "doc_id long, text string")

    seg = {r.doc_id: r for r in dd.segment_dedup(
        docs, id_col="doc_id", text_col="text",
        words_per_seg=8).collect()}
    assert seg[2].text_dedup == " ".join(b_toks)   # provably missed

    sp = {r.doc_id: r for r in dd.span_dedup(
        docs, span_words=8).collect()}
    assert sp[1].text_dedup == " ".join(a_toks)    # first copy intact
    assert sp[2].text_dedup == "j0 j1 j2 j3 j4"    # later copy stripped
    assert (sp[2].n_tokens, sp[2].n_kept) == (18, 5)


def test_span_dedup_semantics(spark):
    """Pinned rules: intra-doc repeats drop their later occurrence;
    copies shorter than span_words are below resolution and survive;
    a doc that is ENTIRELY a later copy comes back as a row with empty
    text (caller decides its fate); NULL text rows drop; span_words
    validation."""
    import pytest

    span = [f"s{i}" for i in range(8)]
    docs = spark.createDataFrame(
        [(1, " ".join(span + ["mid"] + span)),        # intra-doc repeat
         (2, " ".join(span[:7] + ["tail1", "tail2"])),  # 7 < 8: survives
         (3, " ".join(span)),                          # whole doc = copy
         (4, None)],
        "doc_id long, text string")
    got = {r.doc_id: r for r in dd.span_dedup(docs, span_words=8).collect()}
    assert got[1].text_dedup == " ".join(span + ["mid"])
    assert (got[1].n_tokens, got[1].n_kept) == (17, 9)
    assert got[2].text_dedup == " ".join(span[:7] + ["tail1", "tail2"])
    assert got[3].text_dedup == "" and got[3].n_kept == 0
    assert got[3].n_tokens == 8
    assert 4 not in got
    with pytest.raises(ValueError, match="span_words"):
        dd.span_dedup(docs, span_words=0)


def test_span_dedup_fuzz_vs_python_oracle(spark):
    """Randomized corpora vs a pure-Python oracle of the exact rule: a
    token is dropped iff covered by a window occurrence that is not the
    globally first occurrence of its content."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    pool = [f"t{i}" for i in range(6)]

    @settings(max_examples=8, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(st.lists(st.lists(st.integers(0, len(pool) - 1),
                             min_size=0, max_size=14),
                    min_size=1, max_size=6),
           st.integers(2, 4))
    def check(doc_specs, k):
        docs = [(i, " ".join(pool[j] for j in spec))
                for i, spec in enumerate(doc_specs)]
        df = spark.createDataFrame(docs, "doc_id long, text string")

        # python oracle
        toks = {i: t.split(" ") for i, t in docs}
        first = {}
        for i in sorted(toks):
            tt = toks[i]
            for p in range(len(tt) - k + 1):
                key = tuple(tt[p:p + k])
                first.setdefault(key, (i, p))
        expect = {}
        for i, tt in toks.items():
            dropped = set()
            for p in range(len(tt) - k + 1):
                if first[tuple(tt[p:p + k])] != (i, p):
                    dropped.update(range(p, p + k))
            kept = [t for j, t in enumerate(tt) if j not in dropped]
            expect[i] = (len(tt), len(kept), " ".join(kept))

        try:
            got = {r.doc_id: (r.n_tokens, r.n_kept, r.text_dedup)
                   for r in dd.span_dedup(df, span_words=k).collect()}
        finally:
            # span_dedup stages its digest frame; release per example
            # or the fuzz pins one frame per case
            staging.release()
        assert got == expect

    check()


def test_containment_catches_embedded_leak_jaccard_misses(spark):
    """The decontamination gap containment exists for: a benchmark doc
    pasted verbatim inside a much longer corpus doc has containment 1.0
    but whole-document Jaccard ~0.1 — below any sane threshold — AND
    near-zero MinHash collision probability, so the LSH jaccard path
    cannot even see the candidate. decontaminate(metric='containment')
    must drop it; metric='jaccard' at the same threshold must not."""
    bench_text = " ".join(f"eval{i}" for i in range(12))
    filler = " ".join(f"w{i}" for i in range(120))
    corpus = spark.createDataFrame(
        [(1, filler + " " + bench_text + " " + filler),  # embedded leak
         (2, " ".join(f"clean{i}" for i in range(50)))],
        "doc_id long, text string")
    bench = spark.createDataFrame([(900, bench_text)],
                                  "doc_id long, text string")

    pairs = dd.containment_pairs(corpus, bench, "text", "doc_id",
                                 threshold=0.8).collect()
    assert [(r.corpus_id, r.benchmark_id, r.containment)
            for r in pairs] == [(1, 900, 1.0)]

    kept_c = {r.doc_id for r in dd.decontaminate(
        corpus, bench, "text", "doc_id", threshold=0.8,
        metric="containment").collect()}
    kept_j = {r.doc_id for r in dd.decontaminate(
        corpus, bench, "text", "doc_id", threshold=0.8,
        metric="jaccard").collect()}
    assert kept_c == {2}           # leak removed
    assert kept_j == {1, 2}        # whole-doc jaccard blind to it

    import pytest

    with pytest.raises(ValueError, match="unknown metric"):
        dd.decontaminate(corpus, bench, "text", "doc_id", metric="lcs")
    with pytest.raises(ValueError, match="containment metric takes"):
        dd.decontaminate(corpus, bench, "text", "doc_id",
                         metric="containment", num_hashes=16)


def test_containment_excludes_sub_shingle_benchmark_rows(spark):
    """A benchmark row shorter than the shingle size is below n-gram
    resolution: it must be EXCLUDED (matching 1-2 common words verbatim
    would flag every document), while normal-length benchmark rows in
    the same batch still match. The default surfacing is fully LAZY —
    building the plan triggers NO Spark job (a registered query
    re-builds it per invocation) — with the excluded rows auditable via
    the short_benchmark_rows companion; on_short='warn'/'error' are the
    eager loud modes."""
    import pytest

    long_bench = " ".join(f"eval{i}" for i in range(10))
    corpus = spark.createDataFrame(
        [(1, "filler words " + long_bench + " more filler"),
         (2, "the answer is here with other words entirely")],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(900, long_bench), (901, "the answer")],   # 901: 2 tokens < 3
        "doc_id long, text string")

    # default: plan BUILD runs no job...
    tracker = spark.sparkContext.statusTracker()
    jobs_before = len(tracker.getJobIdsForGroup(None) or [])
    plan = dd.containment_pairs(corpus, bench, "text", "doc_id",
                                threshold=0.8)
    assert len(tracker.getJobIdsForGroup(None) or []) == jobs_before, \
        "containment_pairs plan build must not trigger a Spark job"
    # ...and the action still excludes the sub-shingle row silently
    pairs = plan.collect()
    assert [(r.corpus_id, r.benchmark_id) for r in pairs] == [(1, 900)]

    # the lazy accounting companion lists exactly the excluded rows
    excluded = dd.short_benchmark_rows(bench, "text", "doc_id").collect()
    assert [(r.doc_id, r.text) for r in excluded] == [(901, "the answer")]

    # opt-in loud modes keep the old contract
    with pytest.warns(RuntimeWarning,
                      match="below\\s+n-gram resolution|below "):
        dd.containment_pairs(corpus, bench, "text", "doc_id",
                             threshold=0.8, on_short="warn")
    with pytest.raises(ValueError, match="below n-gram resolution"):
        dd.containment_pairs(corpus, bench, "text", "doc_id",
                             threshold=0.8, on_short="error")
    with pytest.raises(ValueError, match="unknown on_short"):
        dd.containment_pairs(corpus, bench, "text", "doc_id",
                             on_short="loud")


def test_containment_benchmark_shingles_side_matches_raw_text(spark):
    """containment_pairs keeps two benchmark sides — shingled from raw
    text here, or passed in as ``benchmark_shingles`` — and both must
    give identical pairs on the hostile rows: empty, NULL, 1-token,
    2-token, whitespace-only and whitespace-run benchmark docs."""
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"),
         (2, "Alpha  beta\tgamma and more words"),
         (3, "one two"),
         (4, ""),
         (5, None),
         (6, "zeta eta theta iota kappa")],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(900, ""), (901, None), (902, "alpha"), (903, "alpha beta"),
         (904, "   "), (905, "  alpha   beta \t gamma  "),
         (906, "eta theta iota"), (907, "one two")],
        "doc_id long, text string")
    bsh = dd.shingle_frame(bench, "text", "doc_id", 3, persist=False)

    def pairs(**kw):
        return sorted(map(tuple, dd.containment_pairs(
            corpus, bench, "text", "doc_id", threshold=0.0, shingle=3,
            **kw).collect()))

    raw = pairs()
    assert raw == pairs(benchmark_shingles=bsh)
    assert raw == [(1, 905, 1.0), (2, 905, 1.0), (6, 906, 1.0)]


def test_duplicate_rate_estimate(spark):
    """The planning sketch: ~0 on all-distinct data, ≈ the true rate on
    heavily duplicated data (HLL at rsd=0.02), clamped non-negative,
    NULL-safe on empty input — all from ONE shuffle-free aggregate."""
    import pytest

    distinct = spark.createDataFrame(
        [(i, f"unique text number {i} with words") for i in range(500)],
        "doc_id long, text string")
    r = dd.duplicate_rate_estimate(distinct, ["text"]).collect()[0]
    assert r.n_rows == 500
    assert r.dup_rate_est == pytest.approx(0.0, abs=0.05)

    duped = distinct.limit(100).unionByName(
        spark.createDataFrame(
            [(1000 + i, f"unique text number {i % 10} with words")
             for i in range(400)], "doc_id long, text string"))
    r = dd.duplicate_rate_estimate(duped, ["text"]).collect()[0]
    # 500 rows, ~100 distinct → true rate 0.8
    assert r.dup_rate_est == pytest.approx(0.8, abs=0.05)

    empty = distinct.filter("doc_id < 0")
    r = dd.duplicate_rate_estimate(empty, ["text"]).collect()[0]
    assert r.n_rows == 0 and r.dup_rate_est is None

    with pytest.raises(ValueError, match="rsd"):
        dd.duplicate_rate_estimate(distinct, ["text"], rsd=0.0)

    # shuffle-free: a sketch aggregate, no Exchange beyond the final
    # single-partition gather
    plan_df = dd.duplicate_rate_estimate(distinct, ["text"])
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        plan_df.explain("formatted")
    assert "Exchange hashpartitioning" not in buf.getvalue()


def test_span_dup_rate_estimate_winnowed(spark):
    """The winnowed span-duplication probe: a copied span of length >=
    span_words + winnow_k - 1 shares at least one anchor at ANY
    alignment (the content-defined property a strided sample lacks); a
    disjoint corpus estimates 0; an empty corpus returns NULL."""
    import pytest

    span, wk = 5, 3
    copied = " ".join(f"c{j}tok" for j in range(span + wk - 1 + 4))
    rows = [
        # the copied run sits at DIFFERENT offsets in the two docs
        (1, "aaa bbb " + copied + " zzz final"),
        (2, "x1 y2 z3 q4 " + copied),
        (3, " ".join(f"u{j}only" for j in range(20))),   # unique
        (4, " ".join(f"v{j}only" for j in range(20))),   # unique
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = dd.span_dup_rate_estimate(df, span_words=span,
                                  winnow_k=wk).collect()[0]
    assert r.n_dup_anchors >= 2            # both copies anchor the span
    assert 0 < r.dup_span_rate_est <= 1

    clean = df.filter("doc_id >= 3")
    r2 = dd.span_dup_rate_estimate(clean, span_words=span,
                                   winnow_k=wk).collect()[0]
    assert r2.n_dup_anchors == 0 and r2.dup_span_rate_est == 0.0
    assert r2.n_anchors > 0

    empty = df.filter("doc_id < 0")
    r3 = dd.span_dup_rate_estimate(empty, span_words=span,
                                   winnow_k=wk).collect()[0]
    assert r3.n_anchors == 0 and r3.dup_span_rate_est is None

    # heavily duplicated corpus -> high rate
    dup = spark.createDataFrame(
        [(i, "the same exact sentence repeated across the corpus body")
         for i in range(10)], "doc_id long, text string")
    r4 = dd.span_dup_rate_estimate(dup, span_words=span,
                                   winnow_k=wk).collect()[0]
    assert r4.dup_span_rate_est == 1.0

    with pytest.raises(ValueError, match="winnow_k"):
        dd.span_dup_rate_estimate(df, span_words=span, winnow_k=0)


def test_corpus_novelty_estimate(spark):
    """The sketch-only novelty probe: ~1 on a disjoint incoming corpus,
    ~0 on a re-crawl, ~half on a half-new mix (HLL rsd=0.02), NULL when
    the incoming side has no shingles."""
    import pytest

    def mk(prefix, n):
        return spark.createDataFrame(
            [(i, " ".join(f"{prefix}{i}w{j}" for j in range(12)))
             for i in range(n)], "doc_id long, text string")

    held = mk("base", 200)
    fresh = mk("new", 200)
    r = dd.corpus_novelty_estimate(held, fresh, "text").collect()[0]
    assert r.novelty_est == pytest.approx(1.0, abs=0.05)

    r = dd.corpus_novelty_estimate(held, held, "text").collect()[0]
    assert r.novelty_est == pytest.approx(0.0, abs=0.05)

    mixed = mk("base", 100).unionByName(
        mk("new", 100).select((F.col("doc_id") + 1000).alias("doc_id"),
                              "text"))
    r = dd.corpus_novelty_estimate(held, mixed, "text").collect()[0]
    assert r.novelty_est == pytest.approx(0.5, abs=0.07)

    empty = held.filter("doc_id < 0")
    r = dd.corpus_novelty_estimate(held, empty, "text").collect()[0]
    assert r.incoming_shingles == 0 and r.novelty_est is None

    with pytest.raises(ValueError, match="rsd"):
        dd.corpus_novelty_estimate(held, fresh, "text", rsd=1.5)


# ---------------------------------------------------------------------------
# id_buckets: partition-pruned shingle history (r7)
# ---------------------------------------------------------------------------

def _run_chunks_bucketed(spark, tmp_path, docs, chunks, tag, id_buckets):
    idx = str(tmp_path / f"idx_{tag}")
    kept: list[int] = []
    start = 0
    for size in chunks:
        batch = spark.createDataFrame(docs[start:start + size],
                                      "doc_id long, text string")
        out = dd.incremental_dedup(batch, idx, "text", "doc_id",
                                   threshold=0.8, id_buckets=id_buckets)
        kept += [r["doc_id"] for r in out.select("doc_id").collect()]
        start += size
    return sorted(kept)


def test_incremental_dedup_id_buckets_same_verdicts(spark, tmp_path):
    """The partitioned layout is a LAYOUT: kept sets must equal the flat
    layout's under every chunking."""
    docs = _inc_corpus()
    n = len(docs)
    flat = _run_chunks(spark, tmp_path, docs, [n // 2, n - n // 2],
                       "pbflat")
    for nb in (1, 8):
        got = _run_chunks_bucketed(
            spark, tmp_path, docs,
            [n // 3, n // 3, n - 2 * (n // 3)], f"pb{nb}", nb)
        assert got == flat, nb


def test_incremental_dedup_id_buckets_prunes_history_scan(spark,
                                                          tmp_path):
    """The verify join's history-shingle scan must carry a
    PartitionFilters predicate on __pb — the read-less-than-everything
    contract the layout exists for."""
    docs = _inc_corpus()
    idx = str(tmp_path / "idx_prune")
    b1 = spark.createDataFrame(docs[:20], "doc_id long, text string")
    dd.incremental_dedup(b1, idx, "text", "doc_id", id_buckets=16)
    staging.release()
    b2 = spark.createDataFrame(docs[20:], "doc_id long, text string")
    out = dd.incremental_dedup(b2, idx, "text", "doc_id", id_buckets=16)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted")
    assert "PartitionFilters: [__pb" in plan.replace("#", " #") or \
        "__pb" in plan.split("PartitionFilters")[1][:200], plan
    # and the partitioned table really is laid out in __pb= dirs
    import os
    subdirs = [d for d in os.listdir(f"{idx}/shingles")
               if d.startswith("__pb=")]
    assert subdirs, os.listdir(f"{idx}/shingles")


def test_compact_preserves_id_bucket_layout(spark, tmp_path):
    docs = _inc_corpus()
    idx = str(tmp_path / "idx_compact_pb")
    b = spark.createDataFrame(docs, "doc_id long, text string")
    dd.incremental_dedup(b, idx, "text", "doc_id", id_buckets=4)
    dd.incremental_dedup(b, idx, "text", "doc_id", id_buckets=4)  # replay
    staging.release()
    removed = dd.compact_dedup_index(spark, idx)
    assert removed["shingles"] > 0
    import os
    subdirs = [d for d in os.listdir(f"{idx}/shingles")
               if d.startswith("__pb=")]
    assert subdirs, "compaction flattened the partitioned layout"
    # the index still answers correctly after compaction
    extra = spark.createDataFrame(
        [(500, docs[0][1])], "doc_id long, text string")
    out = dd.incremental_dedup(extra, idx, "text", "doc_id",
                               id_buckets=4)
    assert out.count() == 0  # exact copy of doc 0 → dropped


# ---------------------------------------------------------------------------
# incremental_exact_dedup (r7)
# ---------------------------------------------------------------------------

def _exact_docs():
    # ids 0..19; content repeats every 7 → key collisions across the
    # whole range; '' and NULL keys sprinkled in (quarantined)
    rows = []
    for i in range(20):
        rows.append((i, f"content-{i % 7}"))
    rows.append((100, ""))
    rows.append((101, None))
    rows.append((102, ""))
    return rows


def _run_exact_chunks(spark, tmp_path, rows, chunks, tag, **kw):
    idx = str(tmp_path / f"xidx_{tag}")
    kept = []
    start = 0
    for size in chunks:
        batch = spark.createDataFrame(rows[start:start + size],
                                      "doc_id long, k string")
        out = dd.incremental_exact_dedup(batch, idx, "k", "doc_id", **kw)
        kept += [r.doc_id for r in out.select("doc_id").collect()]
        start += size
    assert start == len(rows)
    return sorted(kept)


def test_incremental_exact_dedup_chunk_invariance_and_quarantine(
        spark, tmp_path):
    rows = _exact_docs()
    n = len(rows)
    whole = _run_exact_chunks(spark, tmp_path, rows, [n], "w")
    thirds = _run_exact_chunks(spark, tmp_path, rows,
                               [n // 3, n // 3, n - 2 * (n // 3)], "t")
    assert whole == thirds
    # first 7 ids keep (distinct contents), later repeats drop; all
    # NULL/'' keyed rows pass through
    assert whole == [0, 1, 2, 3, 4, 5, 6, 100, 101, 102]


def test_incremental_exact_dedup_replay_is_idempotent(spark, tmp_path):
    rows = _exact_docs()
    idx = str(tmp_path / "xidx_replay")
    b = spark.createDataFrame(rows, "doc_id long, k string")
    first = sorted(r.doc_id for r in dd.incremental_exact_dedup(
        b, idx, "k", "doc_id").collect())
    n_index = spark.read.parquet(f"{idx}/keys").count()
    replay = sorted(r.doc_id for r in dd.incremental_exact_dedup(
        b, idx, "k", "doc_id").collect())
    assert first == replay
    # the keys table did NOT grow on replay — no compaction ever needed
    assert spark.read.parquet(f"{idx}/keys").count() == n_index == 7


def test_incremental_exact_dedup_column_expression_key(spark, tmp_path):
    """key can be an expression — the url_key use case."""
    from australia_company_etl_pipeline_spark.operators import urls as U

    idx = str(tmp_path / "xidx_url")
    rows = [(1, "http://www.page.net/a?utm_source=x"),
            (2, "https://page.net/a/"),
            (3, "http://other.net/b")]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = dd.incremental_exact_dedup(df, idx, U.url_key("url"), "doc_id")
    assert sorted(r.doc_id for r in out.collect()) == [1, 3]


def test_incremental_exact_dedup_bloom_sidecar(spark, tmp_path):
    """Verdicts are identical with the Bloom sidecar on — chunked or
    whole — and the sidecar + meta land on disk."""
    rows = _exact_docs()
    n = len(rows)
    kw = dict(bloom_bits=63 * 128, bloom_k=4)
    whole = _run_exact_chunks(spark, tmp_path, rows, [n], "bw", **kw)
    thirds = _run_exact_chunks(spark, tmp_path, rows,
                               [n // 3, n // 3, n - 2 * (n // 3)], "bt",
                               **kw)
    assert whole == thirds == [0, 1, 2, 3, 4, 5, 6, 100, 101, 102]
    idx = str(tmp_path / "xidx_bt")
    assert spark.read.parquet(f"{idx}/bloom/words").count() > 0
    meta = spark.read.parquet(f"{idx}/bloom/meta").head()
    assert (meta.m_bits, meta.k) == (63 * 128, 4)


def test_incremental_exact_dedup_bloom_replay_idempotent(spark, tmp_path):
    rows = _exact_docs()
    idx = str(tmp_path / "xidx_brep")
    b = spark.createDataFrame(rows, "doc_id long, k string")
    kw = dict(bloom_bits=63 * 128, bloom_k=4)
    first = sorted(r.doc_id for r in dd.incremental_exact_dedup(
        b, idx, "k", "doc_id", **kw).collect())
    words = {r.word_idx: r.bits for r in
             spark.read.parquet(f"{idx}/bloom/words").collect()}
    replay = sorted(r.doc_id for r in dd.incremental_exact_dedup(
        b, idx, "k", "doc_id", **kw).collect())
    assert first == replay
    assert spark.read.parquet(f"{idx}/keys").count() == 7
    # no new keys on replay → the sidecar did not change either
    assert {r.word_idx: r.bits for r in
            spark.read.parquet(f"{idx}/bloom/words").collect()} == words


def test_incremental_exact_dedup_bloom_meta_mismatch_raises(
        spark, tmp_path):
    idx = str(tmp_path / "xidx_bmeta")
    b = spark.createDataFrame([(1, "a")], "doc_id long, k string")
    dd.incremental_exact_dedup(b, idx, "k", "doc_id", bloom_bits=63 * 64)
    with pytest.raises(ValueError, match="mis-hash"):
        dd.incremental_exact_dedup(b, idx, "k", "doc_id",
                                   bloom_bits=63 * 128)


def test_incremental_exact_dedup_bloom_backfill(spark, tmp_path):
    """Enabling the sidecar on an index with pre-sidecar history
    backfills from the full keys table — known duplicates still drop
    (no false negatives against old history)."""
    rows = _exact_docs()
    idx = str(tmp_path / "xidx_bfill")
    b1 = spark.createDataFrame(rows[:10], "doc_id long, k string")
    dd.incremental_exact_dedup(b1, idx, "k", "doc_id")  # no bloom
    b2 = spark.createDataFrame(rows[10:], "doc_id long, k string")
    out = dd.incremental_exact_dedup(b2, idx, "k", "doc_id",
                                     bloom_bits=63 * 128)
    # rows 10..19 all repeat keys 0..6 → only quarantined rows survive
    assert sorted(r.doc_id for r in out.collect()) == [100, 101, 102]


def test_incremental_exact_dedup_bloom_with_id_buckets(spark, tmp_path):
    rows = _exact_docs()
    got = _run_exact_chunks(spark, tmp_path, rows, [10, len(rows) - 10],
                            "bpb", id_buckets=8, bloom_bits=63 * 128)
    assert got == [0, 1, 2, 3, 4, 5, 6, 100, 101, 102]


def test_incremental_exact_dedup_id_buckets_prunes(spark, tmp_path):
    rows = _exact_docs()
    idx = str(tmp_path / "xidx_pb")
    b1 = spark.createDataFrame(rows[:10], "doc_id long, k string")
    dd.incremental_exact_dedup(b1, idx, "k", "doc_id", id_buckets=8)
    b2 = spark.createDataFrame(rows[10:], "doc_id long, k string")
    out = dd.incremental_exact_dedup(b2, idx, "k", "doc_id",
                                     id_buckets=8)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted")
    assert "PartitionFilters" in plan and "__pb" in plan, plan
    import os
    assert any(d.startswith("__pb=")
               for d in os.listdir(f"{idx}/keys"))
    # verdicts equal the flat layout's
    flat = _run_exact_chunks(spark, tmp_path, rows, [10, len(rows) - 10],
                             "pbflat")
    got = sorted([r.doc_id for r in out.collect()]
                 + _run_exact_chunks(spark, tmp_path, rows[:10], [10],
                                     "pbhead", id_buckets=8))
    assert got == flat


def test_incremental_exact_dedup_blooomless_call_maintains_sidecar(
        spark, tmp_path):
    """ADVICE r7: a call that OMITS bloom_bits on an index whose
    sidecar exists must auto-adopt the pinned params and keep the
    filter in sync — otherwise its appended keys are invisible to
    every later bloom probe (false negatives: re-admitted dups and a
    doubled (__k, __first) row breaking one-row-per-key)."""
    idx = str(tmp_path / "xidx_stale")
    kw = dict(bloom_bits=63 * 64, bloom_k=4)
    b1 = spark.createDataFrame([(1, "a"), (2, "b")],
                               "doc_id long, k string")
    dd.incremental_exact_dedup(b1, idx, "k", "doc_id", **kw)
    # bloom-less call appends a NEW key 'c' — the sidecar must learn it
    b2 = spark.createDataFrame([(3, "c"), (4, "a")],
                               "doc_id long, k string")
    out2 = sorted(r.doc_id for r in dd.incremental_exact_dedup(
        b2, idx, "k", "doc_id").collect())
    assert out2 == [3]  # 'a' drops against history even without bloom
    # bloom-enabled call replays 'c': the probe must say maybe-seen
    # (no false negative), so 'c' drops and the keys table stays
    # one-row-per-key
    b3 = spark.createDataFrame([(5, "c"), (6, "d")],
                               "doc_id long, k string")
    out3 = sorted(r.doc_id for r in dd.incremental_exact_dedup(
        b3, idx, "k", "doc_id", **kw).collect())
    assert out3 == [6]
    keys = spark.read.parquet(f"{idx}/keys")
    assert keys.count() == keys.select("__k").distinct().count() == 4


def test_incremental_exact_dedup_id_buckets_mismatch_raises(
        spark, tmp_path):
    """ADVICE r7: id_buckets is pinned in layout_meta — probing with a
    different value (or a flat index probed WITH a value, or a
    partitioned index probed without) raises instead of silently
    pruning the history scan to wrong/NULL partitions."""
    b = spark.createDataFrame([(1, "a")], "doc_id long, k string")
    idx = str(tmp_path / "xidx_lay")
    dd.incremental_exact_dedup(b, idx, "k", "doc_id", id_buckets=4)
    with pytest.raises(ValueError, match="id_buckets"):
        dd.incremental_exact_dedup(b, idx, "k", "doc_id", id_buckets=8)
    with pytest.raises(ValueError, match="id_buckets"):
        dd.incremental_exact_dedup(b, idx, "k", "doc_id")
    flat = str(tmp_path / "xidx_flat")
    dd.incremental_exact_dedup(b, flat, "k", "doc_id")
    with pytest.raises(ValueError, match="id_buckets"):
        dd.incremental_exact_dedup(b, flat, "k", "doc_id", id_buckets=4)


def test_incremental_dedup_id_buckets_mismatch_raises(spark, tmp_path):
    """Same layout pin for the MinHash index's shingle history."""
    b = spark.createDataFrame([(1, "x y z w v u t s")],
                              "doc_id long, text string")
    idx = str(tmp_path / "midx_lay")
    dd.incremental_dedup(b, idx, "text", "doc_id", id_buckets=4)
    staging.release()
    with pytest.raises(ValueError, match="id_buckets"):
        dd.incremental_dedup(b, idx, "text", "doc_id", id_buckets=8)
    with pytest.raises(ValueError, match="id_buckets"):
        dd.incremental_dedup(b, idx, "text", "doc_id")


def test_incremental_exact_dedup_legacy_index_backfills_layout_meta(
        spark, tmp_path):
    """A pre-meta index (simulated by deleting layout_meta) validates
    by schema probe and backfills the meta on the next call."""
    import shutil

    b = spark.createDataFrame([(1, "a"), (2, "b")],
                              "doc_id long, k string")
    idx = str(tmp_path / "xidx_legacy")
    dd.incremental_exact_dedup(b, idx, "k", "doc_id", id_buckets=4)
    shutil.rmtree(f"{idx}/layout_meta")
    # wrong-shape probe on the legacy index fails loudly
    with pytest.raises(ValueError, match="layout"):
        dd.incremental_exact_dedup(b, idx, "k", "doc_id")
    # matching-shape probe works and re-pins the meta
    out = sorted(r.doc_id for r in dd.incremental_exact_dedup(
        b, idx, "k", "doc_id", id_buckets=4).collect())
    assert out == [1, 2]
    assert spark.read.parquet(f"{idx}/layout_meta").head()[
        "id_buckets"] == 4


def test_incremental_verdicts_cached_per_dataset_key(spark, sf_dir):
    """r8: the ngram query's incremental branch persists its verdict
    table once per (documents.parquet size+mtime, params) key — the
    second invocation must read the artifact, not replay the two-chunk
    ingest (steady-state headline cost)."""
    import os

    from australia_company_etl_pipeline_spark.plans import dedup as pd_

    root, path = pd_._verdicts_cache_path(sf_dir)
    first = pd_._ngram_jaccard_branches(spark, sf_dir, "incremental")
    n1 = first.count()
    assert os.path.isdir(path), path
    mtime = os.path.getmtime(path)
    again = pd_._ngram_jaccard_branches(spark, sf_dir, "incremental")
    assert again.count() == n1 > 0
    # unchanged artifact -> no rebuild happened
    assert os.path.getmtime(path) == mtime
    # the cached read IS the plan: a scan of the verdict table, no joins
    import contextlib
    import io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        again.explain("formatted")
    plan = buf.getvalue()
    assert "Join" not in plan and "Window" not in plan, plan


# ----------------------------------------------------- random projection

def test_random_projection_matches_python_twin(spark):
    """Each projected component is the LCG-plane dot product on the
    1e-6 grid — bit-replayable (the kind='rp' oracle inlines the same
    literals)."""
    import random

    rng = random.Random(5)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.vec_id: list(r.proj)
           for r in ann.random_projection(df, dim=8, out_dim=3,
                                          seed=11).collect()}
    planes = ann._planes(8, 3, seed=11)
    for vid, vec in rows:
        want = [round(sum(x * p for x, p in zip(vec, plane)), 6)
                for plane in planes]
        assert got[vid] == want, vid
    with pytest.raises(ValueError, match="out_dim"):
        ann.random_projection(df, dim=8, out_dim=0)


def test_rp_topk_refined_recall_floor_and_exact_scores(spark, sf_dir):
    """Two-stage JL search (16-d candidates at 10× oversample + exact
    rerank) recovers a solid share of the true 64-d top-10 on this
    deliberately weak-structure corpus (all cosines near 0 — the JL
    distortion worst case; measured ~0.7 at sf0.001), and every
    returned score is the EXACT original-space cosine."""
    from australia_company_etl_pipeline_spark.catalog import table

    emb = table(spark, sf_dir, "embeddings")
    q = (emb.filter(F.col("vec_id") < 3)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    truth = {r.query_id: {} for r in q.collect()}
    for r in ann.brute_force_topk(emb, q, k=10).collect():
        truth[r.query_id][r.vec_id] = r.cosine_sim
    got = ann.rp_topk(emb, q, k=10, dim=64, out_dim=16, seed=7,
                      oversample=10).collect()
    hits = sum(1 for r in got if r.vec_id in truth[r.query_id])
    recall = hits / sum(len(v) for v in truth.values())
    assert recall >= 0.5, recall
    # rerank scores are original-space cosines, not projected ones
    for r in got:
        if r.vec_id in truth[r.query_id]:
            assert r.cosine_sim == truth[r.query_id][r.vec_id]
    with pytest.raises(ValueError, match="oversample"):
        ann.rp_topk(emb, q, oversample=0)


# ------------------------------------------------- scalar quantization

def test_sq8_encode_matches_python_twin(spark):
    rows = [(1, [0.5, -1.0, 0.25, 0.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),          # all-zero: scale 0
            (3, [127.0, -63.5, 1.0, 0.4])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.vec_id: (r.sq_scale, list(r.sq_code))
           for r in ann.sq8_encode(df).collect()}
    from decimal import ROUND_HALF_UP, Decimal

    for vid, vec in rows:
        mx = max(abs(x) for x in vec)
        sc = mx / 127.0 if mx > 0 else 0.0
        codes = ([int(Decimal(str(x / sc)).quantize(
                     Decimal("1"), rounding=ROUND_HALF_UP))
                  for x in vec] if sc > 0 else [0] * len(vec))
        assert got[vid][0] == sc and got[vid][1] == codes, vid
    # codes bounded by construction
    assert all(-127 <= c <= 127 for _, cs in got.values() for c in cs)


def test_sq8_topk_near_exact_with_small_oversample(spark, sf_dir):
    """SQ8's per-component error is ~1/254, so candidates at 3x
    oversample recover (nearly) the exact top-10, and returned scores
    are the exact original cosines."""
    from australia_company_etl_pipeline_spark.catalog import table

    emb = table(spark, sf_dir, "embeddings")
    q = (emb.filter(F.col("vec_id") < 3)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("query_vec")))
    truth = {}
    for r in ann.brute_force_topk(emb, q, k=10).collect():
        truth.setdefault(r.query_id, {})[r.vec_id] = r.cosine_sim
    got = ann.sq8_topk(emb, q, k=10, oversample=3).collect()
    hits = sum(1 for r in got if r.vec_id in truth[r.query_id])
    recall = hits / sum(len(v) for v in truth.values())
    assert recall >= 0.9, recall
    for r in got:
        if r.vec_id in truth[r.query_id]:
            assert r.cosine_sim == truth[r.query_id][r.vec_id]
    with pytest.raises(ValueError, match="oversample"):
        ann.sq8_topk(emb, q, oversample=0)


# ----------------------------------------------------------- dedup eval

def _pairs_df(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def test_dedup_eval_hand_golden(spark):
    pred = _pairs_df(spark, [(1, 2), (1, 3)])
    truth = _pairs_df(spark, [(1, 2), (1, 4)])
    r = dd.dedup_eval(pred, truth).collect()[0]
    assert (r.n_truth, r.n_pred, r.n_hit) == (2, 2, 1)
    assert (r.precision, r.recall, r.f1) == (0.5, 0.5, 0.5)


def test_dedup_eval_canonicalizes_orientation_and_dupes(spark):
    # reversed orientation + duplicate emissions collapse to one pair
    pred = _pairs_df(spark, [(2, 1), (1, 2), (3, 1), (3, 1)])
    truth = _pairs_df(spark, [(1, 2), (1, 3)])
    r = dd.dedup_eval(pred, truth).collect()[0]
    assert (r.n_truth, r.n_pred, r.n_hit) == (2, 2, 2)
    assert r.f1 == 1.0


def test_dedup_eval_zero_guards(spark):
    empty = _pairs_df(spark, []).filter("id_a IS NOT NULL")
    truth = _pairs_df(spark, [(1, 2)])
    r = dd.dedup_eval(empty, truth).collect()[0]
    assert r.precision is None and r.recall == 0.0 and r.f1 is None
    r2 = dd.dedup_eval(truth, empty).collect()[0]
    assert r2.recall is None and r2.precision == 0.0 and r2.f1 is None
    # both defined but zero overlap -> f1 0
    r3 = dd.dedup_eval(_pairs_df(spark, [(1, 2)]),
                       _pairs_df(spark, [(3, 4)])).collect()[0]
    assert (r3.precision, r3.recall, r3.f1) == (0.0, 0.0, 0.0)


def test_ivf_inline_probe_matches_inplan_path(spark, sf_dir, tmp_path):
    """r11: small local centroid tables are inlined into the probe as a
    literal and ranked with a shuffle-free array_sort — the results
    must be IDENTICAL to the legacy crossJoin+window probe (same
    n_probe selection under ties, same dim guard), and the probe's
    centroid scan must leave the plan."""
    import contextlib
    import io

    from australia_company_etl_pipeline_spark.catalog import table

    corpus = table(spark, sf_dir, "embeddings")
    queries = (corpus.filter(F.col("vec_id") < 3)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_vec")))
    path = str(tmp_path / "ivf")
    ann.build_ivf_index(corpus, path, n_centroids=8, kmeans_iter=3)

    inline = ann.ivf_index_topk(spark, path, queries, k=10, n_probe=2)
    old_max = ann._CENTROID_INLINE_MAX
    try:
        ann._CENTROID_INLINE_MAX = 0  # force the legacy in-plan path
        legacy = ann.ivf_index_topk(spark, path, queries, k=10,
                                    n_probe=2)
    finally:
        ann._CENTROID_INLINE_MAX = old_max
    assert (sorted(map(tuple, inline.collect()))
            == sorted(map(tuple, legacy.collect())))

    # the inline probe must not scan the centroids table at all
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        inline.explain("formatted")
    assert "centroids" not in buf.getvalue()

    # the dim guard still fires on a mismatched query batch
    bad = queries.select("query_id",
                         F.slice("query_vec", 1, 3).alias("query_vec"))
    with pytest.raises(ValueError, match="dimension"):
        ann.ivf_index_topk(spark, path, bad, k=10, n_probe=2)


def test_bounded_probe_collect_agg_fallback_matches(spark, sf_dir,
                                                    tmp_path):
    """r12 (advice): the probe-collect helper ships at most
    _PROBE_COLLECT_MAX rows through py4j; above that it falls back to
    one collect_set/min/max aggregate row. Both paths must return the
    same (probed keys, min, max) — pinned directly on the helper and
    end-to-end on ivf_index_topk with the fallback forced. A NULL key
    is dropped on both paths (collect_set drops it)."""
    df = spark.createDataFrame(
        [(i % 7, float(i % 3) + 1.0) for i in range(50)] + [(None, 2.0)],
        "k int, qs double")
    qsize = F.col("qs")
    fast = ann._bounded_probe_collect(df, "k", qsize)
    old_max = ann._PROBE_COLLECT_MAX
    try:
        ann._PROBE_COLLECT_MAX = 10  # 51 rows > 10 -> aggregate path
        slow = ann._bounded_probe_collect(df, "k", qsize)
    finally:
        ann._PROBE_COLLECT_MAX = old_max
    assert sorted(fast[0]) == sorted(slow[0]) == list(range(7))
    assert (fast[1], fast[2]) == (slow[1], slow[2]) == (1.0, 3.0)

    from australia_company_etl_pipeline_spark.catalog import table
    corpus = table(spark, sf_dir, "embeddings")
    queries = (corpus.filter(F.col("vec_id") < 3)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_vec")))
    path = str(tmp_path / "ivf")
    ann.build_ivf_index(corpus, path, n_centroids=8, kmeans_iter=3)
    fast_rows = sorted(map(tuple, ann.ivf_index_topk(
        spark, path, queries, k=10, n_probe=2).collect()))
    try:
        ann._PROBE_COLLECT_MAX = 0  # every batch takes the agg path
        slow_rows = sorted(map(tuple, ann.ivf_index_topk(
            spark, path, queries, k=10, n_probe=2).collect()))
        # the dim guard still fires through the fallback path
        bad = queries.select(
            "query_id", F.slice("query_vec", 1, 3).alias("query_vec"))
        with pytest.raises(ValueError, match="dimension"):
            ann.ivf_index_topk(spark, path, bad, k=10, n_probe=2)
    finally:
        ann._PROBE_COLLECT_MAX = old_max
    assert fast_rows == slow_rows
