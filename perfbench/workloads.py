"""The benchmark's workloads.

Each workload generates its inputs from the seed (``inputs.py``), runs
passes through the package's public functions, and checks the outputs of
its last pass outside the timed region. A pass is a list of timed
operations; an operation is one registry fold branch
(``corpus_curation``) or one action-bearing pipeline step (``er_batch``).

Why each workload exists (see README.md for the metric -> layer map):

- ``er_batch``        the reference's own job as a batch: the only one that
                      writes, and the only one that crosses the Arrow /
                      Python-worker boundary (the stub LLM scorer).
- ``corpus_curation`` the LLM-data side: shuffle-heavy JVM work and the
                      operators' staging caches (shingles, postings, the
                      persisted ANN index); no writes, no Python workers.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from contextlib import contextmanager

import numpy as np

import harness
import inputs

# Warm passes an untraced run measures (more if they take less than
# --seconds). The JIT keeps warming up over the first warm passes (about
# 8.3, 7.1, 5.8 s in corpus_curation; 9.5, 8, 7.5 s in er_batch), so a
# fixed count keeps every run at the same point of that curve. Two keep a
# run near one minute; over ten seeds the median of two warm passes
# spreads no more than that of three or five, because whole runs, cold
# pass included, speed up and slow down together with the host.
WARM_PASSES = 2

class Collected:
    """A collected result in the shape ``tests/conftest.compare_frames``
    reads (it only calls ``toPandas``)."""

    def __init__(self, pdf) -> None:
        self._pdf = pdf

    def toPandas(self):  # noqa: N802 — the DataFrame method name
        return self._pdf


def _compare_frames():
    sys.path.insert(0, os.path.join(harness.ROOT, "tests"))
    try:
        from conftest import compare_frames
    finally:
        sys.path.pop(0)
    return compare_frames


class Workload:
    """Base: subclasses define ``name``, ``generate``, ``run_pass``,
    ``check`` and ``layer_counts`` (per-run counts for traced runs, taken
    outside the timed region)."""

    name = ""

    def __init__(self, size: inputs.Size) -> None:
        self.size = size
        self.spark = None
        self.tracer: harness.Tracer | None = None
        self.dir = ""
        self.info: dict = {}

    def start(self, spark, tracer: harness.Tracer, inputs_dir: str,
              work: str) -> None:
        self.spark, self.tracer, self.dir = spark, tracer, inputs_dir
        self.work = work

    @property
    def input_rows(self) -> int:
        return int(sum(self.info["rows"].values()))

    @property
    def input_bytes(self) -> int:
        return int(sum(self.info["bytes"].values()))

    @contextmanager
    def timed(self, ops: list, name: str):
        t0 = time.perf_counter()
        yield
        ops.append((name, time.perf_counter() - t0))


# ---------------------------------------------------------------------------
# corpus_curation
# ---------------------------------------------------------------------------

ANN_RECALL_FLOOR = 0.9
DEDUP_RECALL_FLOOR = 0.9


class CorpusCuration(Workload):
    """One batch over the corpus: fold branches of the six curation
    queries, chosen so that every operator module runs (dedup twice: the
    portable-hash and the native-hash MinHash paths; quality, urls and
    dsir through corpus_filter_stats; textstats and cms through
    vocab_ngram_counts). Each operation
    is a registry branch builder followed by a collect; the folded
    queries' oracles are filtered to the branch's rows."""

    name = "corpus_curation"
    TABLES = ("documents", "embeddings")
    # (operation, query, branch, layer, the oracle's rows of this branch);
    # hashed_dup_pairs and ann_approx_topk have no oracle and get their
    # own checks. quality/urls/dsir and textstats/cms share a layer.
    OPS = (
        ("ngram_jaccard/minhash", "ngram_jaccard_dup_pairs", "minhash",
         "operators.dedup", "method = 'minhash'"),
        ("hashed_dup/minhash", "hashed_dup_pairs", "minhash",
         "operators.dedup", None),
        ("ann_approx/ivf", "ann_approx_topk", "ivf", "operators.ann", None),
        ("bm25/search", "doc_search_bm25", "search", "operators.retrieval",
         "kind = 'search'"),
        ("filter_stats/filter", "corpus_filter_stats", "filter",
         "operators.quality", "kind = 'filter'"),
        ("filter_stats/url", "corpus_filter_stats", "url",
         "operators.quality", "kind IN ('urlnorm', 'urlkey', 'urlcap')"),
        ("filter_stats/dsir", "corpus_filter_stats", "dsir",
         "operators.quality", "kind = 'dsir'"),
        ("vocab/token", "vocab_ngram_counts", "token",
         "operators.textstats", "kind = 'token'"),
        ("vocab/cms", "vocab_ngram_counts", "cms", "operators.textstats",
         "kind IN ('cms', 'cms_probe')"),
    )

    def __init__(self, size: inputs.Size) -> None:
        super().__init__(size)
        self.last: dict[str, object] = {}

    def generate(self, inputs_dir: str, seed: int) -> dict:
        self.info = inputs.write_tables(inputs_dir, seed, self.size)
        return self.info

    def run_pass(self, pass_no: int) -> list[tuple[str, float]]:
        """Per operation: builder call -> collected result. Traced, the
        builder, the optimized plan (forced) and the collect are separate
        spans; untraced, the plan is optimized inside the collect."""
        from australia_company_etl_pipeline_spark import plans

        tr = self.tracer
        ops: list[tuple[str, float]] = []
        for op, query, branch, layer, _ in self.OPS:
            with self.timed(ops, op), tr.span(f"{layer}|{op}"):
                with tr.span(f"plans.build|{op}"):
                    df = plans.REGISTRY[query].branches[branch](self.spark,
                                                                self.dir)
                if tr.active:
                    with tr.span(f"plans.optimize|{op}"):
                        df._jdf.queryExecution().executedPlan()
                self.last[op] = df.toPandas()
        return ops

    def oracle_problems(self, con, op: str, query: str,
                        where: str) -> list[str]:
        """The registry's DuckDB oracle for ``query``, filtered to this
        operation's rows, against the collected result."""
        from australia_company_etl_pipeline_spark import plans

        oracle = plans.REGISTRY[query].oracle
        expected = con.execute(
            f"SELECT * FROM ({oracle}) AS o WHERE {where}").df()
        got = self.last[op]
        if not len(got):
            return [f"{op}: empty result"]
        return [f"{op}: {p}" for p in
                _compare_frames()(Collected(got), expected)]

    def _registry_corpus(self) -> dict[int, str]:
        """The corpus ``hashed_dup_pairs`` reads: documents plus the
        registry's own planted copies (plans/dedup.py ``_docs_with_dups``:
        exact copies of every 10th doc at +100000, near copies of every
        7th doc with ' zzzz' appended at +200000)."""
        import pyarrow.parquet as pq

        docs = pq.read_table(os.path.join(self.dir, "documents.parquet"),
                             columns=["doc_id", "text"]).to_pydict()
        out = dict(zip(docs["doc_id"], docs["text"]))
        for i, t in list(out.items()):
            if i % 10 == 0:
                out[i + 100000] = t
            if i % 7 == 0:
                out[i + 200000] = t + " zzzz"
        return out

    @staticmethod
    def _shingles(text: str) -> frozenset:
        toks = [t for t in text.lower().split() if t]
        if len(toks) < 3:
            return frozenset([" ".join(toks)])
        return frozenset(" ".join(toks[i:i + 3])
                         for i in range(len(toks) - 2))

    @classmethod
    def _jaccard(cls, a: str, b: str) -> float:
        x, y = cls._shingles(a), cls._shingles(b)
        return len(x & y) / len(x | y)

    def planted_recall(self) -> tuple[float, list[str]]:
        """Recall of the minhash branch over the planted near-duplicate
        pairs, and problems with any reported pair whose score is not its
        exact trigram Jaccard."""
        got = self.last["hashed_dup/minhash"]
        corpus = self._registry_corpus()
        problems = []
        pairs = set()
        for a, b, score in zip(got["id_a"], got["id_b"], got["score"]):
            pairs.add((min(a, b), max(a, b)))
            exact = self._jaccard(corpus[a], corpus[b])
            if abs(exact - score) > 2e-6 or exact < 0.8:
                problems.append(f"hashed_dup/minhash: pair ({a},{b}) "
                                f"score {score} != jaccard {exact:.6f}")
        planted = [tuple(p) for p in self.info["planted_dups"]
                   if self._jaccard(corpus[p[0]], corpus[p[1]]) >= 0.85]
        if not planted:
            return 1.0, problems + ["no planted duplicates to recall"]
        recall = sum(p in pairs for p in planted) / len(planted)
        if recall < DEDUP_RECALL_FLOOR:
            problems.append(f"hashed_dup/minhash: planted recall {recall:.3f}"
                            f" < {DEDUP_RECALL_FLOOR}")
        return recall, problems

    def ann_problems(self) -> list[str]:
        """IVF answers against exact brute-force neighbours: every returned
        cosine must be the exact cosine, and recall@k must hold a floor."""
        import pyarrow.parquet as pq
        from australia_company_etl_pipeline_spark.plans import ann

        emb = pq.read_table(os.path.join(self.dir, "embeddings.parquet"))
        ids = np.asarray(emb["vec_id"])
        v = np.stack(emb["embedding"].to_numpy(zero_copy_only=False)
                     ).astype(np.float64)
        unit = v / np.linalg.norm(v, axis=1, keepdims=True)
        got = self.last["ann_approx/ivf"]
        problems, hits, total = [], 0, 0
        for q in range(ann.N_QUERIES):
            cos = unit @ unit[ids == q][0]
            exact = set(ids[np.argsort(-cos, kind="stable")[:ann.K]])
            rows = got[got["query_id"] == q]
            for vid, c in zip(rows["vec_id"], rows["cosine_sim"]):
                if abs(cos[ids == vid][0] - c) > 2e-6:
                    problems.append(f"ann_approx/ivf: cosine({q},{vid}) = "
                                    f"{c}, exact {cos[ids == vid][0]:.6f}")
            hits += len(exact & set(rows["vec_id"]))
            total += ann.K
        recall = hits / total
        if recall < ANN_RECALL_FLOOR:
            problems.append(f"ann_approx/ivf: recall@{ann.K} {recall:.3f} "
                            f"< {ANN_RECALL_FLOOR}")
        return problems

    def check(self) -> list[str]:
        import duckdb

        con = duckdb.connect()
        for t in self.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                        f"'{os.path.join(self.dir, t)}.parquet')")
        problems = []
        for op, query, _, _, where in self.OPS:
            if where:
                problems += self.oracle_problems(con, op, query, where)
        con.close()
        return problems + self.planted_recall()[1] + self.ann_problems()

    def layer_counts(self) -> dict[str, float]:
        from australia_company_etl_pipeline_spark.operators import dedup
        from australia_company_etl_pipeline_spark.plans.dedup import (
            _docs_with_dups)

        # the hashed_dup_pairs minhash preset: 32 hashes in 8 bands
        cands = dedup.minhash_candidates(
            _docs_with_dups(self.spark, self.dir), "text", "doc_id",
            num_hashes=32, bands=8).count()
        return {"operators.dedup.candidate_pairs": cands,
                "operators.dedup.planted_recall": self.planted_recall()[0]}


# ---------------------------------------------------------------------------
# er_batch
# ---------------------------------------------------------------------------

MATCH_ARGS = dict(fuzzy_threshold=0.75, use_llm=True, llm_threshold_min=0.60,
                  fuzzy_weight=0.70, llm_weight=0.30, scorer="jaccard")


class ERBatch(Workload):
    """The reference's batch job, no think time: shred (ABR XML, WET) ->
    clean -> match cascade with the stub LLM -> upsert load (initial ABR
    load, the seeded incremental batch, the matches) -> marts -> the
    pipeline_runs audit record. Each pass writes into its own directory.

    Untraced, the DAG runs lazily as the sinks pull it; the raw and the
    cleaned crawl frames, which three later steps read, are persisted
    like a batch job would. Traced, every layer's output is persisted and
    counted inside that layer's span, so a span's time is the layer's
    self time."""

    name = "er_batch"

    def __init__(self, size: inputs.Size) -> None:
        super().__init__(size)
        self.pass_dir = ""
        self._scorer = None
        self._band_rows = None

    def generate(self, inputs_dir: str, seed: int) -> dict:
        self.info = inputs.write_er_sources(inputs_dir, seed, self.size)
        return self.info

    def _crawl_raw(self):
        from pyspark.sql import functions as F
        from australia_company_etl_pipeline_spark import functions as fx
        from australia_company_etl_pipeline_spark.sources import wet

        files = self.spark.read.text(os.path.join(self.dir, "wet"),
                                     wholetext=True)
        recs = wet.parse_wet_records(files)
        return recs.select(
            "url",
            fx.extract_company_from_text(F.col("text")).alias("company_name"),
            fx.extract_industry_from_text(F.col("text")).alias("industry"),
            F.col("text").alias("raw_text"))

    def _llm_scorer(self):
        """The stub scorer; in traced passes wrapped to count the rows the
        cascade sends to it (an accumulator, summed over Python workers).
        Built once per session so the package's udf cache is reused."""
        from australia_company_etl_pipeline_spark.pipeline import match

        if not self.tracer.active:
            return match.stub_llm_scorer
        if self._scorer is None:
            acc = self.spark.sparkContext.accumulator(0)
            stub = match.stub_llm_scorer

            def counting_scorer(batch):
                acc.add(len(batch))
                return stub(batch)

            counting_scorer.context_cols = stub.context_cols
            self._scorer, self._band_rows = counting_scorer, acc
        return self._scorer

    def run_pass(self, pass_no: int) -> list[tuple[str, float]]:
        from pyspark import StorageLevel
        from pyspark.sql import functions as F
        from australia_company_etl_pipeline_spark import functions as fx
        from australia_company_etl_pipeline_spark import pipeline as pl
        from australia_company_etl_pipeline_spark.operators import audit
        from australia_company_etl_pipeline_spark.sources import (
            abr_xml, sinks)

        spark, tr = self.spark, self.tracer
        out = os.path.join(self.work, f"pass-{pass_no}")
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        abr_path, match_path = (os.path.join(out, "abr_entities"),
                                os.path.join(out, "entity_match_results"))
        staged = []

        def stage(df, count_as: str | None = None, reused: bool = False):
            """Persist a frame several steps read (both modes), or every
            layer output (traced, counted inside the layer's span)."""
            if not (reused or tr.active):
                return df
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            staged.append(df)
            if tr.active:
                n = df.count()
                if count_as:
                    tr.count(count_as, n)
            return df

        ops: list[tuple[str, float]] = []
        band_before = self._band_rows.value if self._band_rows else 0
        with self.timed(ops, "load_abr"):
            with tr.span("sources.shred|abr"):
                abr = stage(abr_xml.read_abr_xml(
                    spark, os.path.join(self.dir, "abr")), "records_out")
                delta = stage(abr_xml.read_abr_xml(
                    spark, os.path.join(self.dir, "abr_delta")),
                    "records_out")
                crawl = stage(self._crawl_raw(), "records_out", reused=True)
            with tr.span("pipeline.clean|abr"):
                c_abr = stage(pl.clean_abr_entities(abr))
                c_delta = stage(pl.clean_abr_entities(delta))
                c_crawl = stage(pl.clean_web_companies(crawl), reused=True)
            with tr.span("sources.upsert|load"):
                sinks.upsert_parquet(spark, abr_path, c_abr, ["abn"])
        with self.timed(ops, "upsert_delta"):
            with tr.span("sources.upsert|delta"):
                sinks.upsert_parquet(spark, abr_path, c_delta, ["abn"])
        loaded = spark.read.parquet(abr_path)
        with self.timed(ops, "match_load"):
            with tr.span("pipeline.match|cascade"):
                best = stage(pl.best_match_per_key(pl.match_companies(
                    c_crawl, loaded, llm_scorer=self._llm_scorer(),
                    **MATCH_ARGS)))
            with tr.span("sources.upsert|matches"):
                sinks.upsert_parquet(spark, match_path, best,
                                     ["crawl_url", "abn"])
        matches = spark.read.parquet(match_path)
        with self.timed(ops, "marts_dim"):
            with tr.span("pipeline.marts|dim"):
                stg_web = pl.stg_web_companies(crawl.withColumn(
                    "domain", fx.extract_domain(F.col("url"))))
                stg_abr = pl.stg_abr_entities(loaded)
                im = pl.int_matched_companies(matches, stg_web, stg_abr)
                pl.dim_companies(im, stg_abr).write.parquet(
                    os.path.join(out, "dim_companies"))
        with self.timed(ops, "marts_fct"):
            with tr.span("pipeline.marts|fct"):
                self.fct = pl.fct_match_statistics(im, stg_web,
                                                   stg_abr).collect()
        with self.timed(ops, "audit"):
            with tr.span("operators.audit|run_record"):
                self.run_record = audit.pipeline_run_record(
                    {"processed": c_crawl, "matched": matches,
                     "loaded": loaded},
                    run_id=f"pass-{pass_no}", pipeline_name="er_batch",
                    config=MATCH_ARGS).collect()
        if tr.active:
            tr.count("llm_band_rows", self._band_rows.value - band_before)
        for df in staged:
            df.unpersist()
        if self.pass_dir:
            shutil.rmtree(self.pass_dir, ignore_errors=True)
        self.pass_dir = out
        self.c_crawl = c_crawl
        return ops

    # -- checks ------------------------------------------------------------

    def _twin_sql(self) -> str:
        """DuckDB twin of match_companies(scorer='jaccard', use_llm=True,
        stub scorer) + best_match_per_key over the same cleaned inputs."""
        toks = ("list_distinct(list_filter(regexp_split_to_array("
                "upper(trim({c})), '\\s+'), x -> x <> ''))")
        a = MATCH_ARGS
        return f"""
WITH w AS (SELECT *, {toks.format(c='normalized_name')} AS t FROM crawl),
r AS (SELECT *, {toks.format(c='normalized_name')} AS t FROM abr),
scored AS (
  SELECT w.company_name AS crawl_name, w.url AS crawl_url,
         r.entity_name AS abr_name, r.abn, r.state, r.postcode,
         r.start_date,
         CASE WHEN len(list_concat(w.t, r.t)) = 0 THEN 0.0 ELSE
           CAST(len(list_intersect(w.t, r.t)) AS DOUBLE)
           / (len(w.t) + len(r.t) - len(list_intersect(w.t, r.t))) END
           AS fuzzy_score
  FROM w JOIN r ON w.block_key = r.block_key),
llm AS (
  SELECT *, CASE WHEN fuzzy_score >= {a['llm_threshold_min']}
                  AND fuzzy_score < {a['fuzzy_threshold']} THEN
    CASE WHEN len(ca) = 0 OR len(cb) = 0 THEN 0.5 ELSE
      round(0.3 + 0.7 * (CAST(len(list_intersect(ca, cb)) AS DOUBLE)
                         / len(list_distinct(list_concat(ca, cb)))), 4)
    END END AS llm_score
  FROM (SELECT *,
          list_distinct(list_filter(regexp_split_to_array(
            upper(coalesce(crawl_name, '')), '\\s+'), x -> x <> '')) AS ca,
          list_distinct(list_filter(regexp_split_to_array(
            upper(coalesce(abr_name, '')), '\\s+'), x -> x <> '')) AS cb
        FROM scored WHERE fuzzy_score >= {a['llm_threshold_min']})),
final AS (
  SELECT crawl_name, crawl_url, abr_name, abn, fuzzy_score, llm_score,
         CASE WHEN fuzzy_score >= {a['fuzzy_threshold']} THEN fuzzy_score
              ELSE round({a['fuzzy_weight']} * fuzzy_score
                         + {a['llm_weight']} * llm_score, 6) END
           AS final_score,
         CASE WHEN fuzzy_score >= {a['fuzzy_threshold']} THEN 'fuzzy'
              ELSE 'hybrid' END AS match_method,
         state, postcode, start_date
  FROM llm)
SELECT * EXCLUDE (rn) FROM (
  SELECT *, row_number() OVER (PARTITION BY abn
                               ORDER BY final_score DESC, crawl_url) AS rn
  FROM final WHERE final_score >= {a['fuzzy_threshold']}) WHERE rn = 1
"""

    def check(self) -> list[str]:
        import duckdb

        truth = self.info
        out = self.pass_dir
        con = duckdb.connect()
        con.register("crawl", self.c_crawl.toPandas())
        con.execute(f"CREATE VIEW abr AS SELECT * FROM read_parquet("
                    f"'{out}/abr_entities/*.parquet')")
        con.execute(f"CREATE VIEW got AS SELECT * FROM read_parquet("
                    f"'{out}/entity_match_results/*.parquet')")
        problems = []

        def scalar(sql):
            return con.execute(sql).fetchone()[0]

        n_crawl = scalar("SELECT count(*) FROM crawl")
        if n_crawl != truth["crawl_named"]:
            problems.append(f"clean: {n_crawl} crawl rows, expected "
                            f"{truth['crawl_named']}")
        n_abr = scalar("SELECT count(*) FROM abr")
        expected_abr = truth["abr_valid"] + truth["delta_new"]
        if n_abr != expected_abr:
            problems.append(f"load: {n_abr} ABR rows, expected "
                            f"{expected_abr}")
        if scalar("SELECT count(*) - count(DISTINCT abn) FROM abr"):
            problems.append("load: duplicate abn keys after upsert")
        delta = con.execute(
            "SELECT abn, state, postcode FROM abr WHERE abn IN (SELECT "
            "unnest($keys))", {"keys": list(truth["delta"])}).fetchall()
        stale = [abn for abn, state, pc in delta
                 if [state, pc] != truth["delta"][abn]]
        if len(delta) != len(truth["delta"]) or stale:
            problems.append(f"upsert: incremental batch lost "
                            f"({len(truth['delta']) - len(delta)} missing, "
                            f"{len(stale)} stale keys)")
        expected = con.execute(self._twin_sql()).df()
        got = con.execute("SELECT * FROM got").df()
        problems += [f"match: {p}" for p in
                     _compare_frames()(Collected(got), expected)]
        exact = {url: abn for url, (kind, abn) in truth["planted"].items()
                 if kind == "exact"}
        found = dict(con.execute(
            "SELECT crawl_url, abn FROM got WHERE final_score = 1.0"
        ).fetchall())
        lost = [u for u, abn in exact.items() if found.get(u) != abn]
        if lost:
            problems.append(f"match: {len(lost)} planted exact matches "
                            f"missing, e.g. {lost[0]}")
        n_match = len(got)
        fct = self.fct[0]
        if fct["total_matches"] != n_match:
            problems.append(f"marts: fct total_matches "
                            f"{fct['total_matches']} != {n_match}")
        rec = self.run_record[0]
        want = {"records_processed": n_crawl, "records_matched": n_match,
                "records_loaded": n_abr}
        for k, v in want.items():
            if rec[k] != v:
                problems.append(f"audit: {k} {rec[k]} != {v}")
        con.close()
        return problems

    def layer_counts(self) -> dict[str, float]:
        from australia_company_etl_pipeline_spark.operators.block_join import (
            block_join)

        loaded = self.spark.read.parquet(
            os.path.join(self.pass_dir, "abr_entities"))
        pairs = block_join(self.c_crawl, loaded, key="block_key",
                           broadcast_side="left").count()
        n_match = self.spark.read.parquet(
            os.path.join(self.pass_dir, "entity_match_results")).count()
        # the incremental batch written alone: the base of write_amp
        from australia_company_etl_pipeline_spark.pipeline import clean
        from australia_company_etl_pipeline_spark.sources import abr_xml

        alone = os.path.join(self.work, "delta-alone")
        clean.clean_abr_entities(abr_xml.read_abr_xml(
            self.spark, os.path.join(self.dir, "abr_delta"))
        ).write.mode("overwrite").parquet(alone)
        delta_bytes = sum(os.path.getsize(os.path.join(alone, f))
                          for f in os.listdir(alone)
                          if f.endswith(".parquet"))
        return {"pipeline.match.candidate_pairs": pairs,
                "pipeline.match.accept_ratio": n_match / max(1, pairs),
                "delta_alone_bytes": delta_bytes}


def make(name: str, size: inputs.Size) -> Workload:
    if name == "corpus_curation":
        return CorpusCuration(size)
    if name == "er_batch":
        return ERBatch(size)
    raise KeyError(name)


