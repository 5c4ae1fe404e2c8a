"""Empirical scale probes for the claims README makes.

Each probe replicates the sf0.1 corpus N× and times the operator at
1×/2×/4× so the growth CURVE (not the absolute number) shows whether
the plan scales the way its docstring claims:

- incremental_dedup: per-batch ingest time vs accumulated history size.
  The claim is O(batch): batch k joins against a k×-larger index, but
  only through the bucketed candidate join — times should stay near
  flat, not grow with history.
- ivf_index_topk: probe latency vs corpus size. The claim is that a
  probe reads only the probed inverted-list partitions — latency should
  track the probed lists' size (≈corpus/16 per list), far below a full
  scan's growth.
- bigram_lm_score: self-scoring cost vs corpus replication. The claim
  is linear: one transition shuffle + two equi-joins — replicating the
  corpus N× must grow wall-clock ~N×, not N² (the LM table and the
  probe side both grow, but through partial-aggregated shuffles and an
  equi-join, never a pair space).
- span_dedup (r6): stride-1 substring dedup. The claim is
  O(total_tokens): windows, the keep-first partial aggregate, the
  drop anti-join and the reassembly all scale with token count —
  replicas here ARE duplicates of each other, so the drop volume
  grows with the corpus too and the trend must still be ~N×, never
  a pair space.
- jaccard_similarity_join (r6): prefix-filtered EXACT similarity
  join. The claim is candidates ∝ similar pairs over a linear
  backbone: replicas are content-DISJOINT by construction here (their
  token universes are transformed apart), so the true pair count is 0
  and the timing isolates the backbone (frequency aggregate + prefix
  explode + rare-key join) — must grow ~N×, while the quadratic
  baseline it replaces would grow N².
- pq_index_topk (r7): ADC over the persisted codes + 5x exact refine.
  Both PQ and brute force scan linearly; the claim is the SLOPE — the
  codes table is 16-32x smaller than the float vectors, so the probe
  must track the brute-force growth from well below it, and the
  refine's exact-cosine joins stay k·oversample·queries rows at every
  mult.
- dsir_select (r6): importance-resampling selection. The claim is
  linear in total tokens: two bucket-count fits (partial-agg), one
  broadcast scoring join, a top-k — the pool replicates N× while the
  target stays fixed, so wall-clock must grow ~N× and never through a
  pair space (there is none: the model is a 4096-row table).

Usage: python scripts/scale_probe.py [sf_dir]   (default sf0.1)
Prints one line per measurement; wall-clock on local[32], so treat ±30%
as noise and read the trend.
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.getcwd())

from pyspark.sql import functions as F  # noqa: E402

from australia_company_etl_pipeline_spark.catalog import table  # noqa: E402
from australia_company_etl_pipeline_spark.operators import ann  # noqa: E402
from australia_company_etl_pipeline_spark.operators import (  # noqa: E402
    dedup as dd, staging)
from australia_company_etl_pipeline_spark.operators import (  # noqa: E402
    dsir)
from australia_company_etl_pipeline_spark.session import get_spark  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"


def force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def main() -> None:
    spark = get_spark("scale-probe",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    docs = table(spark, SF_DIR, "documents").select("doc_id", "text")
    force(docs)  # warm scan + JVM

    # --- incremental_dedup: flat per-batch cost as history grows ------
    with tempfile.TemporaryDirectory() as idx:
        n_docs = docs.count()         # outside the timers
        for k in range(4):
            batch = docs.select(
                (F.col("doc_id") + k * 10_000_000).alias("doc_id"), "text")
            t = time.time()
            kept = dd.incremental_dedup(batch, idx, "text", "doc_id")
            n = kept.count()
            sec = time.time() - t
            staging.release()
            print(f"incremental_dedup batch={k} kept={n} "
                  f"history_rows={(k + 1) * n_docs} sec={sec:.2f}")

    # --- ivf_index_topk: probe latency vs corpus replication ----------
    emb = table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    queries = (emb.filter(F.col("vec_id") < 5)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("query_vec")))
    for mult in (1, 2, 4):
        corpus = emb
        m, off = mult, 10_000_000
        while m > 1:
            corpus = corpus.unionByName(
                emb.select((F.col("vec_id") + off).alias("vec_id"),
                           "embedding"))
            off += 10_000_000
            m -= 1
        with tempfile.TemporaryDirectory() as path:
            idx_path = os.path.join(path, "ivf")
            rows = corpus.count()     # BEFORE the timers: a corpus-sized
            #                           job inside the probe window would
            #                           grow with mult and fake the trend
            t = time.time()
            ann.build_ivf_index(corpus, idx_path, n_centroids=16,
                                kmeans_iter=3)
            build = time.time() - t
            t = time.time()
            force(ann.ivf_index_topk(spark, idx_path, queries, k=10,
                                     n_probe=4))
            probe = time.time() - t
            print(f"ivf mult={mult} rows={rows} "
                  f"build_sec={build:.2f} probe_sec={probe:.2f}")

    # --- bigram_lm_score: linear growth with corpus size --------------
    from australia_company_etl_pipeline_spark.operators import lm

    for mult in (1, 2, 4):
        corpus = docs
        m, off = mult, 10_000_000
        while m > 1:
            corpus = corpus.unionByName(
                docs.select((F.col("doc_id") + off).alias("doc_id"),
                            "text"))
            off += 10_000_000
            m -= 1
        rows = corpus.count()         # outside the timer
        t = time.time()
        force(lm.bigram_lm_score(corpus, "text", "doc_id"))
        sec = time.time() - t
        print(f"bigram_lm mult={mult} rows={rows} sec={sec:.2f}")

    # --- span_dedup: linear in tokens (replicas ARE duplicates) -------
    for mult in (1, 2, 4):
        corpus = docs
        m, off = mult, 10_000_000
        while m > 1:
            corpus = corpus.unionByName(
                docs.select((F.col("doc_id") + off).alias("doc_id"),
                            "text"))
            off += 10_000_000
            m -= 1
        rows = corpus.count()         # outside the timer
        t = time.time()
        force(dd.span_dedup(corpus, span_words=8))
        sec = time.time() - t
        # span_dedup stages its window-digest frame — release per mult
        # so the pinned frames don't compound across replications and
        # distort the very trend being measured
        staging.release()
        print(f"span_dedup mult={mult} rows={rows} sec={sec:.2f}")

    # --- jaccard_similarity_join: linear backbone, no pair space ------
    # replicas are transformed into DISJOINT token universes so the
    # similar-pair count stays 0 and the probe isolates the backbone
    transforms = [
        F.col("text"),
        F.reverse(F.col("text")),
        F.translate(F.col("text"), "abcdefghij", "qrstuvwxyz"),
        F.reverse(F.translate(F.col("text"), "abcdefghij",
                              "qrstuvwxyz")),
    ]
    for mult in (1, 2, 4):
        parts = [docs.select(
            (F.col("doc_id") + r * 10_000_000).alias("doc_id"),
            transforms[r].alias("text")) for r in range(mult)]
        corpus = parts[0]
        for p in parts[1:]:
            corpus = corpus.unionByName(p)
        rows = corpus.count()         # outside the timer
        # persisted shingles, as real callers use it — the join
        # references the shingle frame from four plan positions
        # (frequency agg, prefix build, both verify sides); unpersisted
        # it would recompute the split 4x and the probe would measure
        # that, not the join backbone
        sh = dd.shingle_frame(corpus, "text", "doc_id", shingle=3)
        t = time.time()
        force(dd.jaccard_similarity_join(sh, "doc_id", threshold=0.8))
        sec = time.time() - t
        staging.release()
        print(f"jaccard_similarity_join mult={mult} rows={rows} "
              f"sec={sec:.2f}")

    # --- pq probe: ADC scans codes (16-32x fewer bytes), refine pays
    # only k*oversample exact computations — probe latency must grow
    # ~linearly with corpus size but stay well under the brute-force
    # cosine growth at the same mult (both scans are linear; PQ's
    # slope is the compressed one) -------------------------------------
    from australia_company_etl_pipeline_spark.operators import pq

    for mult in (1, 2, 4):
        corpus = emb
        m, off = mult, 10_000_000
        while m > 1:
            corpus = corpus.unionByName(
                emb.select((F.col("vec_id") + off).alias("vec_id"),
                           "embedding"))
            off += 10_000_000
            m -= 1
        with tempfile.TemporaryDirectory() as path:
            idx_path = os.path.join(path, "pq")
            rows = corpus.count()     # outside the timers
            t = time.time()
            pq.build_pq_index(corpus, idx_path, dim=64, m=16,
                              n_codes=16, kmeans_iter=3)
            build = time.time() - t
            t = time.time()
            force(pq.pq_index_topk(spark, idx_path, queries, k=10,
                                   rerank_df=corpus, oversample=5))
            probe = time.time() - t
            t = time.time()
            force(ann.brute_force_topk(corpus, queries, k=10))
            brute = time.time() - t
            print(f"pq mult={mult} rows={rows} build_sec={build:.2f} "
                  f"probe_sec={probe:.2f} brute_sec={brute:.2f}")

    # --- dsir_select: linear scoring, fixed 4096-row model ------------
    target = docs.limit(200)          # fixed trusted slice
    for mult in (1, 2, 4):
        pool = docs
        m, off = mult, 10_000_000
        while m > 1:
            pool = pool.unionByName(
                docs.select((F.col("doc_id") + off).alias("doc_id"),
                            "text"))
            off += 10_000_000
            m -= 1
        rows = pool.count()           # outside the timer
        t = time.time()
        force(dsir.dsir_select(spark, pool, target, "text", "doc_id",
                               k=100))
        sec = time.time() - t
        print(f"dsir_select mult={mult} rows={rows} sec={sec:.2f}")

    # --- cap_per_key (r8): salted vs raw-key window under skew --------
    # One pathological key holds ~99% of the rows (the exact shape the
    # cap exists to tame). Regime matters, stated honestly: Spark's
    # WindowGroupLimit PARTIAL pruning already caps what each MAP task
    # ships per group at n rows, so the raw-key window's single hot
    # reducer receives min(hot_rows, n x M) where M = map-task count —
    # salting pays off when M >> salt_buckets (every real cluster:
    # M ~ 10^5-10^6 scan tasks vs S=64), and is pure overhead when
    # M <= S (a local[32] micro-run). The probe emulates the cluster
    # regime with repartition(512) >> S=64; the claim is the ratio —
    # salted must beat the raw window while both return the identical
    # kept set (identity asserted once, small n).
    from australia_company_etl_pipeline_spark.operators import (
        textstats as ts,
    )

    for mult in (2, 4):
        n_hot = 1_000_000 * mult
        hot = spark.range(n_hot).select(
            F.lit("hot.example.com").alias("domain"),
            F.col("id").alias("doc_id"))
        cold = spark.range(50_000).select(
            F.concat(F.lit("cold"), (F.col("id") % 5_000).cast("string"),
                     F.lit(".org")).alias("domain"),
            (F.col("id") + 100_000_000).alias("doc_id"))
        df = hot.unionByName(cold).repartition(512).persist()
        rows = df.count()             # outside the timers
        if mult == 2:
            a = {r.doc_id for r in ts.cap_per_key(
                df, ["domain"], n=100, salt_buckets=1).collect()}
            b = {r.doc_id for r in ts.cap_per_key(
                df, ["domain"], n=100).collect()}
            assert a == b, "salted kept set diverged from single-window"
        t = time.time()
        force(ts.cap_per_key(df, ["domain"], n=10_000, salt_buckets=1))
        raw = time.time() - t
        t = time.time()
        force(ts.cap_per_key(df, ["domain"], n=10_000))
        salted = time.time() - t
        df.unpersist()
        print(f"cap_per_key mult={mult} rows={rows} M=512 n=10000 "
              f"raw_window_sec={raw:.2f} salted_sec={salted:.2f}")

    # --- sq8_topk (r8b): two-stage shape overhead vs brute force -------
    # Regime stated honestly (like cap_per_key's): at sf0.1-scale row
    # counts both scans are OVERHEAD-dominated — the 4x byte cut is an
    # IO property a CPU-bound local probe cannot surface. What this
    # probe pins is that the two-stage shape adds only bounded constant
    # overhead over brute force at every mult (measured ~1.0-1.6x,
    # flat), i.e. the refine joins stay k·oversample-sized and nothing
    # grows super-linearly; the scan-cut benefit itself is the
    # bytes-per-row arithmetic (16 vs 64 four-byte floats), realized
    # where scans are IO-bound.
    for mult in (1, 2, 4):
        corpus = emb
        m, off = mult, 10_000_000
        while m > 1:
            corpus = corpus.unionByName(
                emb.select((F.col("vec_id") + off).alias("vec_id"),
                           "embedding"))
            off += 10_000_000
            m -= 1
        corpus = corpus.persist()
        rows = corpus.count()         # outside the timers
        t = time.time()
        force(ann.brute_force_topk(corpus, queries, k=10))
        brute = time.time() - t
        t = time.time()
        force(ann.sq8_topk(corpus, queries, k=10, oversample=3))
        sq = time.time() - t
        corpus.unpersist()
        print(f"sq8_topk mult={mult} rows={rows} "
              f"brute_sec={brute:.2f} sq8_sec={sq:.2f}")

    # --- stream postings fold (r8b): O(batch) per trigger --------------
    # Each fold tokenizes ONLY the arriving batch and overwrites its own
    # partition; per-batch cost must stay flat while the accumulated
    # postings index grows 4x.
    from australia_company_etl_pipeline_spark.streaming.corpus_stream import (  # noqa: E501,E402
        fold_postings_batch,
    )

    with tempfile.TemporaryDirectory() as pidx:
        for k in range(4):
            batch = docs.select(
                (F.col("doc_id") + k * 10_000_000).alias("doc_id"),
                "text")
            t = time.time()
            fold_postings_batch(batch, k, pidx)
            sec = time.time() - t
            print(f"postings_fold batch={k} sec={sec:.2f}")

    # --- postings compaction (r9): flat search latency vs trigger count
    # An uncompacted index lists one partition per trigger, so the
    # search's listing/scheduling cost grows with stream AGE, not
    # corpus size. Fold the same corpus as 1×/16×/64× many-small
    # triggers of equal total size, time bm25_search_indexed on each,
    # then compact the worst case and re-time: searched-corpus size is
    # IDENTICAL at every point, so any growth is pure partition-count
    # overhead and compaction must restore the 1-trigger latency.
    from australia_company_etl_pipeline_spark.streaming.corpus_stream import (  # noqa: E501,E402
        bm25_search_indexed, compact_postings)

    for n_triggers in (1, 16, 64):
        with tempfile.TemporaryDirectory() as pidx:
            for k in range(n_triggers):
                fold_postings_batch(
                    docs.filter(F.col("doc_id") % n_triggers == k),
                    k, pidx)
            t = time.time()
            force(bm25_search_indexed(spark, pidx,
                                      ["spark", "data", "company"]))
            search = time.time() - t
            line = (f"postings_search triggers={n_triggers} "
                    f"search_sec={search:.2f}")
            if n_triggers == 64:
                t = time.time()
                res = compact_postings(spark, pidx, keep_last=4)
                compact = time.time() - t
                t = time.time()
                force(bm25_search_indexed(spark, pidx,
                                          ["spark", "data", "company"]))
                after = time.time() - t
                line += (f" compact_sec={compact:.2f} "
                         f"folded={res['batches_folded']} "
                         f"search_after_sec={after:.2f}")
            print(line)


if __name__ == "__main__":
    main()
