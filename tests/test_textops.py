"""Training-data utility operators: sequence packing, deterministic
sampling, greedy near-dup removal, repetition signals. Since r4, packing
/ vocab-ngram counts / filter stats are ALSO driver-gated (pack_docs,
vocab_ngram_counts, corpus_filter_stats in plans/text.py); these tests
pin the operator-level parameterizations the registry queries don't."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from australia_company_etl_pipeline_spark.operators import dedup as dd
from australia_company_etl_pipeline_spark.operators import textstats as ts


def test_pack_sequences_layout(spark):
    df = spark.createDataFrame(
        [(1, 4), (2, 3), (3, 5), (4, 2)], "doc_id long, n long")
    rows = {r.doc_id: (r.pack_id, r.pack_offset, r.spans_packs)
            for r in ts.pack_sequences(df, "n", "doc_id", budget=8)
            .collect()}
    # stream: 4+3+5+2 tokens chunked every 8 → doc 3 spans packs 0→1
    assert rows == {1: (0, 0, False), 2: (0, 4, False),
                    3: (0, 7, True), 4: (1, 4, False)}


def test_pack_sequences_partitioned_independent(spark):
    df = spark.createDataFrame(
        [(1, "a", 6), (2, "a", 6), (1, "b", 3), (2, "b", 3)],
        "doc_id long, shard string, n long")
    out = ts.pack_sequences(df, "n", "doc_id", budget=8,
                            partition_col="shard")
    rows = {(r.shard, r.doc_id): (r.pack_id, r.pack_offset)
            for r in out.collect()}
    # per-shard streams start at zero independently
    assert rows[("a", 1)] == (0, 0) and rows[("a", 2)] == (0, 6)
    assert rows[("b", 1)] == (0, 0) and rows[("b", 2)] == (0, 3)


def test_deterministic_sample_properties(spark):
    df = spark.range(10000).select(F.col("id").alias("doc_id"))
    half = ts.deterministic_sample(df, "doc_id", 0.5)
    n = half.count()
    assert 4500 < n < 5500                       # ≈ rate, hash-uniform
    # reproducible across invocations (df.sample is partition-dependent)
    ids1 = {r.doc_id for r in half.collect()}
    ids2 = {r.doc_id
            for r in ts.deterministic_sample(df, "doc_id", 0.5).collect()}
    assert ids1 == ids2
    # nested: a smaller fraction at the same seed is a subset
    fifth = {r.doc_id
             for r in ts.deterministic_sample(df, "doc_id", 0.1).collect()}
    assert fifth <= ids1
    with pytest.raises(ValueError, match="fraction"):
        ts.deterministic_sample(df, "doc_id", 1.5)


def test_deterministic_sample_stratified_rates(spark):
    df = spark.range(20000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 == 0, "rare").otherwise("common")
        .alias("lang"))
    out = ts.deterministic_sample(df, "doc_id", 0.3, strata_col="lang")
    by = {r.lang: r.n for r in
          out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert 0.2 < by["rare"] / 2000 < 0.4         # rate holds per stratum
    assert 0.25 < by["common"] / 18000 < 0.35


def test_minhash_dedup_greedy_drop(spark):
    base = [(i, f"document number {i} with shared filler words common "
                f"to every doc plus unique token u{i}") for i in range(20)]
    dups = [(i + 1000, t + " zzz") for i, t in base[:5]]   # near copies
    df = spark.createDataFrame(base + dups, "doc_id long, text string")
    kept = {r.doc_id for r in
            dd.minhash_dedup(df, "text", "doc_id", threshold=0.7)
            .collect()}
    assert set(range(20)) <= kept                # originals survive
    assert all(i + 1000 not in kept for i in range(5))


def test_decontaminate_removes_benchmark_leaks(spark):
    """Corpus docs that near-duplicate a benchmark passage are found
    (cross-side candidates only) and removed; clean docs survive."""
    bench_text = ("what is the capital of france paris is the capital "
                  "and largest city of france")
    corpus_rows = [(i, f"ordinary web document {i} about topic {i} with "
                       f"plenty of distinct filler words here")
                   for i in range(15)]
    corpus_rows += [(100, bench_text),                     # exact leak
                    (101, bench_text + " extra trailing words")]  # near
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    benchmark = spark.createDataFrame([(9000, bench_text)],
                                      "doc_id long, text string")

    pairs = dd.cross_corpus_dup_pairs(corpus, benchmark, "text", "doc_id",
                                      threshold=0.6)
    got = {(r.corpus_id, r.benchmark_id) for r in pairs.collect()}
    assert (100, 9000) in got and (101, 9000) in got
    assert all(cid in (100, 101) for cid, _ in got)

    kept = {r.doc_id for r in
            dd.decontaminate(corpus, benchmark, "text", "doc_id",
                             threshold=0.6).collect()}
    assert kept == set(range(15))


def test_corpus_filter_reasons_and_stats(spark):
    rows = [
        (1, "this is a perfectly reasonable document with many common "
            "words that the quality heuristics should like just fine "
            "because it is long enough and has normal punctuation and "
            "the tokens are of plausible length overall today"),
        (2, ""),                                  # empty
        (3, "too short"),                         # under min_tokens
        (4, "!!! ??? *** ### $$$ %%% ^^^ &&& ((( ))) @@@ !!! ??? ***"),
        (5, None),                                # null -> empty
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = ts.corpus_filter(df, "text", min_tokens=5)
    reasons = {r.doc_id: r.drop_reason for r in out.collect()}
    assert reasons[1] is None                     # kept
    assert reasons[2] == "empty" and reasons[5] == "empty"
    assert reasons[3] == "too_short"
    assert reasons[4] in ("punct_heavy", "low_quality")
    stats = {r.drop_reason: r.n_docs
             for r in ts.corpus_filter_stats(out).collect()}
    assert stats[None] == 1 and stats["empty"] == 2
    kept = out.filter(F.col("drop_reason").isNull())
    assert [r.doc_id for r in kept.collect()] == [1]


def test_corpus_filter_repetition_rules(spark):
    """The Gopher repetition knobs (off by default): a keyword-stuffed
    doc drops as 'repetitive_tokens', a repeated-line doc as
    'repetitive_lines', and with the knobs unset both pass — existing
    behavior is unchanged."""
    clean = ("a perfectly reasonable document with many distinct common "
             "words that the quality heuristics should like because it "
             "is long enough and has normal punctuation overall today")
    stuffed = " ".join(["buy cheap deals now"] * 12)  # dup ratio ~0.92
    lines = "\n".join(["subscribe to our newsletter today friend"] * 6
                      + ["one genuine content line appears here now"])
    rows = [(1, clean), (2, stuffed), (3, lines)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    off = {r.doc_id: r.drop_reason
           for r in ts.corpus_filter(df, "text", min_tokens=5).collect()}
    assert off[1] is None and off[2] is None and off[3] is None

    on = {r.doc_id: r.drop_reason
          for r in ts.corpus_filter(df, "text", min_tokens=5,
                                    max_token_dup_ratio=0.5,
                                    max_line_dup_ratio=0.5).collect()}
    assert on[1] is None
    assert on[2] == "repetitive_tokens"
    assert on[3] in ("repetitive_tokens", "repetitive_lines")
    # line-rule specifically: distinct tokens inside each line so only
    # the LINE repetition trips
    liny = "\n".join(f"alpha bravo charlie delta echo" for _ in range(5))
    df2 = spark.createDataFrame([(9, liny)], "doc_id long, text string")
    got = ts.corpus_filter(df2, "text", min_tokens=2,
                           max_line_dup_ratio=0.5).collect()[0]
    assert got.drop_reason == "repetitive_lines"


def test_chunk_documents_sliding_layout(spark):
    """chunk=4/overlap=2 over a 10-token doc → 4 chunks stepping by 2,
    each window re-including the last 2 tokens of its predecessor;
    short docs yield one chunk, empty docs none."""
    df = spark.createDataFrame(
        [(1, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"), (2, "a b c"), (3, "")],
        "doc_id long, text string")
    rows = sorted(
        ((r.doc_id, r.chunk_idx, r.chunk_text, r.n_chunk_tokens)
         for r in ts.chunk_documents(df, "text", "doc_id",
                                     chunk_tokens=4, overlap=2).collect()))
    assert [r for r in rows if r[0] == 1] == [
        (1, 0, "t0 t1 t2 t3", 4),
        (1, 1, "t2 t3 t4 t5", 4),
        (1, 2, "t4 t5 t6 t7", 4),
        (1, 3, "t6 t7 t8 t9", 4),
    ]
    assert [r for r in rows if r[0] == 2] == [(2, 0, "a b c", 3)]
    assert not [r for r in rows if r[0] == 3]
    with pytest.raises(ValueError, match="never advances"):
        ts.chunk_documents(df, "text", "doc_id",
                           chunk_tokens=4, overlap=4)


def test_chunk_documents_coverage_property(spark):
    """Property over random doc lengths: every token index appears in
    ≥1 chunk, consecutive chunks advance by exactly step = chunk−overlap,
    and only the final chunk may be short."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(max_examples=8, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(n=st.integers(0, 40), chunk=st.integers(2, 12),
           overlap_frac=st.floats(0, 0.9))
    def run(n, chunk, overlap_frac):
        overlap = min(int(chunk * overlap_frac), chunk - 1)
        step = chunk - overlap
        df = spark.createDataFrame(
            [(1, " ".join(f"t{i}" for i in range(n)))],
            "doc_id long, text string")
        rows = sorted((r.chunk_idx, r.chunk_text.split() if r.chunk_text
                       else [], r.n_chunk_tokens)
                      for r in ts.chunk_documents(
                          df, "text", "doc_id", chunk_tokens=chunk,
                          overlap=overlap).collect())
        if n == 0:
            assert not rows
            return
        covered = set()
        for i, (idx, toks, cnt) in enumerate(rows):
            assert idx == i
            assert toks == [f"t{j}" for j in
                            range(i * step, min(i * step + chunk, n))]
            assert cnt == len(toks)
            if i < len(rows) - 1:
                assert cnt == chunk, "only the final chunk may be short"
            covered.update(range(i * step, i * step + cnt))
        assert covered == set(range(n)), "token coverage gap"

    run()


def test_write_sharded_corpus_layout(spark, tmp_path):
    """Range sharding: shard files hold disjoint contiguous key ranges,
    rows sorted within each file, full corpus round-trips."""
    import glob

    from australia_company_etl_pipeline_spark.sources import sinks

    df = spark.createDataFrame([(i, f"d{i}") for i in range(100)],
                               "k long, v string")
    out = str(tmp_path / "shards")
    sinks.write_sharded_corpus(df, out, "k", shards=4)
    files = sorted(glob.glob(f"{out}/part-*.parquet"))
    assert len(files) == 4
    import duckdb

    con = duckdb.connect()
    ranges = []
    for f in files:
        ks = [r[0] for r in con.execute(
            f"SELECT k FROM read_parquet('{f}')").fetchall()]
        assert ks == sorted(ks), "rows not sorted within shard"
        ranges.append((min(ks), max(ks)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, "shard key ranges overlap"
    assert sum(len(con.execute(
        f"SELECT k FROM read_parquet('{f}')").fetchall())
        for f in files) == 100


def test_redact_pii_and_stats(spark):
    """PII scrub: emails / ABN-shaped numbers / AU phones replaced by
    kind markers in a fixed order; the stats companion reports doc and
    hit counts per kind over one scan."""
    df = spark.createDataFrame(
        [(1, "contact jo.bloggs+x@example.com.au or jo@ex.co today"),
         (2, "ABN 51 824 753 556 and phone 0412 345 678"),
         (3, "call +61 2 9374 4000 now"),
         (4, "nothing sensitive here at all")],
        "doc_id long, text string")
    red = {r.doc_id: r.t for r in df.select(
        "doc_id", ts.redact_pii(F.col("text")).alias("t")).collect()}
    assert red[1] == "contact [PII-email] or [PII-email] today"
    assert red[2] == "ABN [PII-abn] and phone [PII-phone]"
    assert red[3] == "call [PII-phone] now"
    assert red[4] == "nothing sensitive here at all"
    # kind subsetting + unknown-kind guard
    only_email = df.select(ts.redact_pii(
        F.col("text"), kinds=("email",)).alias("t")).collect()
    assert any("0412" in r.t for r in only_email)
    with pytest.raises(ValueError, match="unknown PII kinds"):
        ts.redact_pii(F.col("text"), kinds=("ssn",))

    stats = {r.kind: (r.n_docs, r.n_hits)
             for r in ts.pii_stats(df, "text").collect()}
    assert stats["email"] == (1, 2)
    assert stats["abn"] == (1, 1)
    assert stats["phone"] == (2, 2)


def test_stream_upsert_parquet_idempotent_merge(spark, tmp_path):
    """foreachBatch MERGE sink: a replayed stream (same keys, higher
    version) upserts instead of appending — the effectively-once-per-key
    contract an at-least-once source needs."""
    from australia_company_etl_pipeline_spark.streaming import (
        events_stream as es,
    )

    landing = str(tmp_path / "landing")
    v1 = spark.createDataFrame(
        [(1, "a", "x", 1), (2, "b", "x", 1), (3, "c", "y", 1)],
        "k long, v string, shard string, ver int")
    v1.coalesce(1).write.mode("append").parquet(landing)

    schema = "k long, v string, shard string, ver int"
    table_dir = str(tmp_path / "table")

    def drain(checkpoint):
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).parquet(landing))
        q = es.stream_upsert_parquet(
            stream, table_dir, keys=["k"], partition_col="shard",
            checkpoint_dir=checkpoint, version_col="ver")
        q.awaitTermination(120)

    drain(str(tmp_path / "cp1"))
    got = {r.k: (r.v, r.ver) for r in spark.read.parquet(table_dir).collect()}
    assert got == {1: ("a", 1), 2: ("b", 1), 3: ("c", 1)}

    # replay + update batch: key 2 updated, key 9 new, key 1 redelivered
    v2 = spark.createDataFrame(
        [(2, "b2", "x", 2), (9, "n", "y", 2), (1, "a", "x", 1)],
        schema)
    v2.coalesce(1).write.mode("append").parquet(landing)
    drain(str(tmp_path / "cp1"))  # same checkpoint: only the new file runs
    got = {r.k: (r.v, r.ver) for r in spark.read.parquet(table_dir).collect()}
    assert got == {1: ("a", 1), 2: ("b2", 2), 3: ("c", 1), 9: ("n", 2)}


def test_repetition_ratios(spark):
    """Gopher-style repetition signals: duplicate-token and
    duplicate-line fractions, 0 on empty text, blank lines ignored."""
    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "x y z"), (3, ""),
         (4, "menu\nmenu\n\nbody text here")],
        "doc_id long, text string")
    rows = {r.doc_id: (r.t, r.l) for r in df.select(
        "doc_id",
        ts.token_dup_ratio(F.col("text")).alias("t"),
        ts.line_dup_ratio(F.col("text")).alias("l")).collect()}
    assert rows[1][0] == 0.5            # 4 tokens, 2 distinct
    assert rows[2] == (0.0, 0.0)
    assert rows[3] == (0.0, 0.0)
    assert rows[4][1] == round(1 - 2 / 3, 6)  # 3 non-blank lines, 2 distinct


def test_vocab_counts(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog"), (2, "the bird"), (3, "cat cat")],
        "doc_id long, text string")
    rows = [(r.token, r.n_occurrences, r.n_docs)
            for r in ts.vocab_counts(df, "text").collect()]
    assert rows[0] == ("cat", 3, 2) or rows[0] == ("the", 3, 2)
    got = {t: (o, d) for t, o, d in rows}
    assert got == {"the": (3, 2), "cat": (3, 2), "and": (1, 1),
                   "dog": (1, 1), "bird": (1, 1)}
    top = [r.token for r in ts.vocab_counts(df, "text", top_k=2).collect()]
    assert top == ["cat", "the"]                 # count desc, token asc
    pruned = {r.token for r in
              ts.vocab_counts(df, "text", min_count=2).collect()}
    assert pruned == {"the", "cat"}


def test_ngram_counts_every_occurrence(spark):
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "x")], "doc_id long, text string")
    got = {r.ngram: r.n_occurrences
           for r in ts.ngram_counts(df, "text", n=2).collect()}
    # doc1: 'a b','b a','a b'; doc2: 'a b'; doc3: too short -> none
    assert got == {"a b": 3, "b a": 1}


def test_deterministic_sample_md5_portable(spark):
    """The engine-portable md5 bucket: same determinism/superset/strata
    properties as murmur3, and values reproducible in DuckDB (the
    doc_profile oracle re-derives the rule; here pin a python oracle)."""
    import hashlib

    df = spark.createDataFrame([(i, "en" if i % 3 else "de")
                                for i in range(400)],
                               "doc_id long, lang string")
    half = {r["doc_id"] for r in ts.deterministic_sample(
        df, "doc_id", 0.5, hash_fn="md5").collect()}
    again = {r["doc_id"] for r in ts.deterministic_sample(
        df, "doc_id", 0.5, hash_fn="md5").collect()}
    tenth = {r["doc_id"] for r in ts.deterministic_sample(
        df, "doc_id", 0.1, hash_fn="md5").collect()}
    assert half == again and tenth <= half
    assert 0.35 < len(half) / 400 < 0.65

    def oracle(i, seed=42):
        h = hashlib.md5(f"{i}\x1f{seed}".encode()).hexdigest()[:8]
        return int(h, 16) % 1_000_000
    want = {i for i in range(400) if oracle(i) < 500_000}
    assert half == want

    strat = {r["doc_id"] for r in ts.deterministic_sample(
        df, "doc_id", 0.5, strata_col="lang", hash_fn="md5").collect()}
    def oracle_s(i, lang, seed=42):
        h = hashlib.md5(f"{i}\x1f{lang}\x1f{seed}".encode()).hexdigest()[:8]
        return int(h, 16) % 1_000_000
    want_s = {i for i in range(400)
              if oracle_s(i, "en" if i % 3 else "de") < 500_000}
    assert strat == want_s


def test_mixture_sample_hits_targets(spark):
    # 3 strata, heavily skewed supply; recipe wants 50/30/20 of 3000 tokens
    rows = [(i, "web", 10) for i in range(1000)] \
        + [(i + 10_000, "code", 10) for i in range(500)] \
        + [(i + 20_000, "books", 10) for i in range(40)] \
        + [(i + 30_000, "junk", 10) for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, src string, n int")
    sampled, report = ts.mixture_sample(
        df, "src", {"web": 0.5, "code": 0.3, "books": 0.2},
        id_col="doc_id", budget=3000, token_count_col="n")
    rep = {r.stratum: r for r in report.collect()}
    # fractions: web 1500/10000=0.15, code 900/5000=0.18,
    # books 600/400 → capped at 1
    assert abs(rep["web"].fraction - 0.15) < 1e-9
    assert abs(rep["code"].fraction - 0.18) < 1e-9
    assert rep["books"].fraction == 1.0
    kept = {r.src: c for r, c in
            [(r, r["cnt"]) for r in sampled.groupBy("src")
             .agg(F.count(F.lit(1)).alias("cnt")).collect()]}
    # unknown stratum dropped entirely; under-supplied kept whole
    assert "junk" not in kept
    assert kept["books"] == 40
    # hash sampling is ±noise around the target doc counts
    assert abs(kept["web"] - 150) <= 40
    assert abs(kept["code"] - 90) <= 30
    assert rep["books"].kept == 400.0  # tokens, not rows


def test_mixture_sample_superset_stability_and_errors(spark):
    df = spark.createDataFrame(
        [(i, "a", 1) for i in range(400)], "doc_id long, s string, n int")
    small, _ = ts.mixture_sample(df, "s", {"a": 1.0}, id_col="doc_id",
                                 budget=100)
    big, _ = ts.mixture_sample(df, "s", {"a": 1.0}, id_col="doc_id",
                               budget=200)
    small_ids = {r.doc_id for r in small.select("doc_id").collect()}
    big_ids = {r.doc_id for r in big.select("doc_id").collect()}
    assert small_ids <= big_ids, "growing the budget must only ADD docs"
    with pytest.raises(ValueError, match="without a weight"):
        ts.mixture_sample(df, "s", {"b": 1.0}, id_col="doc_id",
                          budget=10, unknown="error")
    with pytest.raises(ValueError, match="positive"):
        ts.mixture_sample(df, "s", {"a": 1.0}, id_col="doc_id", budget=0)
    with pytest.raises(ValueError, match="at least one"):
        ts.mixture_sample(df, "s", {}, id_col="doc_id", budget=10)
    with pytest.raises(ValueError, match="negative"):
        ts.mixture_sample(df, "s", {"a": -1.0}, id_col="doc_id",
                          budget=10)


def test_cap_per_key_deterministic_and_ordered(spark):
    df = spark.createDataFrame(
        [("d1", i, float(i % 7)) for i in range(20)]
        + [("d2", 100 + i, 0.0) for i in range(3)],
        "domain string, doc_id long, score double")
    capped = ts.cap_per_key(df, ["domain"], n=5)
    counts = {r.domain: r.cnt for r in capped.groupBy("domain")
              .agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert counts == {"d1": 5, "d2": 3}
    # deterministic across runs and partition layouts
    again = ts.cap_per_key(df.repartition(7), ["domain"], n=5)
    assert {tuple(r) for r in capped.collect()} \
        == {tuple(r) for r in again.collect()}
    # order_col keeps the LOWEST values (keep-best via prepared column)
    best = ts.cap_per_key(df, ["domain"], n=3, order_col="score")
    d1_scores = sorted(r.score for r in best.collect()
                       if r.domain == "d1")
    # i%7 zeroes at i=0,7,14 → the three lowest d1 scores are all 0.0
    assert d1_scores == [0.0, 0.0, 0.0]
    with pytest.raises(ValueError, match="at least one key"):
        ts.cap_per_key(df, [], n=1)
    with pytest.raises(ValueError, match="n must be"):
        ts.cap_per_key(df, ["domain"], n=0)


def test_cap_per_key_order_ties_are_layout_independent(spark):
    """Review regression: equal order_col values must not make the kept
    set depend on partition layout — the content hash breaks ties."""
    df = spark.createDataFrame([("k", i, 0.0) for i in range(50)],
                               "key string, doc_id long, score double")
    a = {r.doc_id for r in
         ts.cap_per_key(df, ["key"], n=5, order_col="score").collect()}
    b = {r.doc_id for r in
         ts.cap_per_key(df.repartition(13), ["key"], n=5,
                        order_col="score").collect()}
    assert a == b and len(a) == 5


def test_mixture_sample_null_stratum_error_message(spark):
    """Review regression: a NULL stratum plus a string stratum must
    raise the diagnostic ValueError, not a TypeError from sorted()."""
    df = spark.createDataFrame([(1, None, 1), (2, "x", 1)],
                               "doc_id long, s string, n int")
    with pytest.raises(ValueError, match="without a weight"):
        ts.mixture_sample(df, "s", {"a": 1.0}, id_col="doc_id",
                          budget=10, unknown="error")


def test_cap_per_key_tolerates_map_columns(spark):
    """Review regression: the content-hash tiebreak must skip MapType
    columns (F.hash rejects maps) instead of failing analysis."""
    df = spark.createDataFrame(
        [("k", i, {"m": str(i)}) for i in range(10)],
        "key string, doc_id long, meta map<string,string>")
    kept = ts.cap_per_key(df, ["key"], n=4).collect()
    assert len(kept) == 4
    again = ts.cap_per_key(df.repartition(5), ["key"], n=4).collect()
    assert {r.doc_id for r in kept} == {r.doc_id for r in again}


def test_mixture_and_cap_properties(spark):
    """Property sweep over random weight/budget configurations: kept set
    is always a subset of input, per-stratum keeps never exceed
    availability, nested budgets nest, and the cap bound always holds."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    rows = [(i, ["a", "b", "c"][i % 3], 1 + i % 7) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, s string, n int")
    all_ids = {r[0] for r in rows}

    @settings(max_examples=6, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(wa=st.floats(0.1, 5), wb=st.floats(0.1, 5),
           budget=st.integers(10, 2000), n=st.integers(1, 10))
    def check(wa, wb, budget, n):
        sampled, report = ts.mixture_sample(
            df, "s", {"a": wa, "b": wb}, id_col="doc_id",
            budget=budget, token_count_col="n")
        got = sampled.collect()
        assert {r.doc_id for r in got} <= all_ids
        assert all(r.s in ("a", "b") for r in got)  # 'c' unweighted
        rep = {r.stratum: r for r in report.collect()}
        for srow in rep.values():
            assert 0.0 <= srow.fraction <= 1.0
            assert srow.kept <= srow.available + 1e-9
        bigger, _ = ts.mixture_sample(
            df, "s", {"a": wa, "b": wb}, id_col="doc_id",
            budget=budget * 2, token_count_col="n")
        assert {r.doc_id for r in got} <= \
            {r.doc_id for r in bigger.collect()}
        capped = ts.cap_per_key(df, ["s"], n=n).groupBy("s").agg(
            F.count(F.lit(1)).alias("c")).collect()
        assert all(r.c <= n for r in capped)

    check()


def test_bigram_lm_score_hand_computed(spark):
    """Add-1-smoothed bigram NLL on a 3-doc corpus, verified against the
    closed-form by hand: V=4 (a,b,c,x), cb(a,b)=3, cb(b,a)=1, cb(b,c)=1,
    cctx(a)=3, cctx(b)=2; p(a,b)=4/8, p(b,a)=p(b,c)=2/7. The 1-token doc
    has no transitions and is absent from the result."""
    import math

    from australia_company_etl_pipeline_spark.operators import lm

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "x")],
        "doc_id long, text string")
    got = {r.doc_id: r for r in
           lm.bigram_lm_score(df, "text", "doc_id").collect()}
    nll_ab = round(-math.log(4 / 8), 6)
    nll_b_ = round(-math.log(2 / 7), 6)
    assert set(got) == {1, 2}
    assert got[1].n_transitions == 3
    assert got[1].avg_nll == pytest.approx(
        round((2 * nll_ab + nll_b_) / 3, 6), abs=1e-9)
    assert got[2].n_transitions == 2
    assert got[2].avg_nll == pytest.approx(
        round((nll_ab + nll_b_) / 2, 6), abs=1e-9)


def test_bigram_lm_score_ranks_disfluent_text_last(spark):
    """The CCNet property the gate exists for: documents made of the
    corpus's common transitions score LOWER avg_nll (more fluent) than a
    token salad never seen twice. Also pins min_count pruning: pruned
    bigrams score as unseen, so every doc's NLL can only rise."""
    import random

    from australia_company_etl_pipeline_spark.operators import lm

    rng = random.Random(7)
    common = "the quick brown fox jumps over the lazy dog"
    docs = [(i, common) for i in range(20)]
    salad = " ".join(rng.choice(["the", "fox", "dog", "quick", "zz",
                                 "qq", "ww"]) for _ in range(9))
    docs.append((100, salad))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    base = {r.doc_id: r.avg_nll for r in
            lm.bigram_lm_score(df, "text", "doc_id").collect()}
    pruned = {r.doc_id: r.avg_nll for r in
              lm.bigram_lm_score(df, "text", "doc_id",
                                 min_count=5).collect()}
    assert base[0] < base[100]            # fluent beats salad
    assert all(base[i] == base[0] for i in range(20))  # identical docs
    assert all(pruned[d] >= base[d] for d in base)     # pruning ↑ NLL
    assert pruned[100] > pruned[0]


def test_persisted_bigram_lm_matches_self_scoring(spark, tmp_path):
    """Frozen-artifact scoring: training docs scored through their own
    persisted LM must return bit-identical rows to the in-memory
    self-scoring path; held-out docs with OOV transitions take the
    smoothed floor p = 1/(V+1); a rebuild swaps atomically (second
    save over the same path yields the same scores, no residue)."""
    import math

    from australia_company_etl_pipeline_spark.operators import lm

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "x")],
        "doc_id long, text string")
    path = str(tmp_path / "lm_art")
    lm.save_bigram_lm(df, "text", path)
    frozen = {r.doc_id: r for r in
              lm.score_with_bigram_lm(df, "text", "doc_id",
                                      path).collect()}
    live = {r.doc_id: r for r in
            lm.bigram_lm_score(df, "text", "doc_id").collect()}
    assert set(frozen) == set(live)
    for d in live:
        assert frozen[d].n_transitions == live[d].n_transitions
        assert frozen[d].avg_nll == live[d].avg_nll  # bit-identical

    held = spark.createDataFrame([(9, "zz qq")], "doc_id long, text string")
    (row,) = lm.score_with_bigram_lm(held, "text", "doc_id",
                                     path).collect()
    # both words OOV: cb=cctx=NULL -> p = k/(k*(V+1)) = 1/5 (V=4)
    assert row.n_transitions == 1
    assert row.avg_nll == pytest.approx(round(-math.log(1 / 5), 6),
                                        abs=1e-9)

    lm.save_bigram_lm(df, "text", path)  # rebuild over existing
    rebuilt = {r.doc_id: r.avg_nll for r in
               lm.score_with_bigram_lm(df, "text", "doc_id",
                                       path).collect()}
    assert rebuilt == {d: live[d].avg_nll for d in live}
    import os
    assert not [p for p in os.listdir(tmp_path)
                if "__build_tmp" in p or "__old" in p]


def test_lm_threshold_calibration(spark, tmp_path):
    """The percentile ceiling admits the trusted reference by
    construction (>= pct of it scores at or below) and an all-OOV salad
    scores strictly above it when the reference is repetitive; empty
    references fail loudly."""
    import pytest as pt

    from australia_company_etl_pipeline_spark.operators import lm

    ref = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog")
         for i in range(50)],
        "doc_id long, text string")
    path = str(tmp_path / "lm_cal")
    lm.save_bigram_lm(ref, "text", path)
    t = lm.lm_threshold_from_reference(ref, "text", "doc_id", path,
                                       pct=0.95)
    scored = lm.score_with_bigram_lm(ref, "text", "doc_id", path)
    frac_ok = scored.filter(F.col("avg_nll") <= t).count() / 50
    assert frac_ok >= 0.95
    salad = spark.createDataFrame([(99, "zz qq ww ee rr tt yy uu")],
                                  "doc_id long, text string")
    (srow,) = lm.score_with_bigram_lm(salad, "text", "doc_id",
                                      path).collect()
    assert srow.avg_nll > t

    empty = spark.createDataFrame([(1, "solo")], "doc_id long, text string")
    with pt.raises(ValueError, match="cannot calibrate"):
        lm.lm_threshold_from_reference(empty, "text", "doc_id", path)
    with pt.raises(ValueError, match="pct"):
        lm.lm_threshold_from_reference(ref, "text", "doc_id", path,
                                       pct=1.5)


# ---------------------------------------------------------------------------
# exact order statistics + CCNet perplexity tiers (operators/lm.py r7)
# ---------------------------------------------------------------------------

def test_exact_order_stat_matches_python_sort(spark):
    import random

    from australia_company_etl_pipeline_spark.operators import lm as lm_ops

    rng = random.Random(11)
    # duplicate values on purpose — the id tiebreak must resolve them;
    # include a hot bin (many equal values) to cross bin boundaries
    vals = [round(rng.choice([0.5, 1.25, 1.2501, 3.0, rng.random() * 5]), 6)
            for _ in range(200)]
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "i long, v double").repartition(7)
    ordered = sorted((v, i) for i, v in rows)
    for k in (1, 2, 66, 133, 199, 200):
        got = lm_ops.exact_order_stat(df, "v", "i", k)
        assert (got["v"], got["i"]) == ordered[k - 1], k
    assert lm_ops.exact_order_stat(df, "v", "i", 0) is None
    assert lm_ops.exact_order_stat(df, "v", "i", 201) is None


def test_ccnet_buckets_match_rank_rule(spark):
    from australia_company_etl_pipeline_spark.operators import lm as lm_ops

    rows = [(i, float(v)) for i, v in enumerate(
        [5.0, 1.0, 3.0, 3.0, 3.0, 2.0, 9.0, 0.5, 3.0])]  # ties at 3.0
    df = spark.createDataFrame(rows, "doc_id long, avg_nll double") \
        .repartition(5)
    out = {r.doc_id: r.ppl_bucket
           for r in lm_ops.ccnet_buckets(df, "avg_nll", "doc_id").collect()}
    ordered = sorted((v, i) for i, v in rows)
    n = len(rows)
    want = {}
    for rn, (_, i) in enumerate(ordered, start=1):
        want[i] = ("head" if rn <= n // 3 else
                   "middle" if rn <= (2 * n) // 3 else "tail")
    assert out == want
    # tiers are exact thirds
    from collections import Counter
    assert Counter(out.values()) == Counter(head=3, middle=3, tail=3)


def test_ccnet_buckets_tiny_corpus_degenerates_to_tail(spark):
    from australia_company_etl_pipeline_spark.operators import lm as lm_ops

    df = spark.createDataFrame([(1, 2.0), (2, 1.0)],
                               "doc_id long, avg_nll double")
    out = {r.doc_id: r.ppl_bucket
           for r in lm_ops.ccnet_buckets(df, "avg_nll", "doc_id").collect()}
    # n=2: k1=0 (head empty), k2=1 → middle={min pair}, tail=rest
    assert out == {2: "middle", 1: "tail"}


def test_ccnet_buckets_partition_layout_invariant(spark):
    import random

    from australia_company_etl_pipeline_spark.operators import lm as lm_ops

    rng = random.Random(3)
    rows = [(i, round(rng.random() * 4, 6)) for i in range(100)]
    a = spark.createDataFrame(rows, "doc_id long, avg_nll double")
    got_a = {r.doc_id: r.ppl_bucket
             for r in lm_ops.ccnet_buckets(a, "avg_nll", "doc_id")
             .collect()}
    b = spark.createDataFrame(rows, "doc_id long, avg_nll double") \
        .repartition(13)
    got_b = {r.doc_id: r.ppl_bucket
             for r in lm_ops.ccnet_buckets(b, "avg_nll", "doc_id")
             .collect()}
    assert got_a == got_b


def test_temperature_weights():
    import pytest as _pt

    from australia_company_etl_pipeline_spark.operators.textstats import (
        temperature_weights)

    counts = {"en": 10000, "de": 100, "fr": 100}
    natural = temperature_weights(counts, alpha=1.0)
    assert natural["en"] == _pt.approx(10000 / 10200)
    flat = temperature_weights(counts, alpha=0.0)
    assert flat["en"] == _pt.approx(1 / 3) == _pt.approx(flat["de"])
    t = temperature_weights(counts, alpha=0.3)
    # tails boosted relative to natural, head still ahead of tails
    assert t["de"] > natural["de"] and t["en"] > t["de"]
    assert sum(t.values()) == _pt.approx(1.0)
    with _pt.raises(ValueError):
        temperature_weights({}, 0.3)
    with _pt.raises(ValueError):
        temperature_weights({"a": 0}, 0.3)
    with _pt.raises(ValueError):
        temperature_weights({"a": 1}, -1)


def test_weighted_sample_es_properties(spark):
    """Efraimidis-Spirakis weighted sample (r8): heavier rows selected
    at higher rate, deterministic across layouts, w<=0/NULL excluded,
    k >= eligible keeps everything."""
    rows = ([(i, "heavy", 10.0) for i in range(300)]
            + [(1000 + i, "light", 1.0) for i in range(300)]
            + [(5000, "zero", 0.0), (5001, "neg", -2.0),
               (5002, "null", None)])
    df = spark.createDataFrame(rows, "doc_id long, tag string, w double")
    got = ts.weighted_sample(df, "w", k=100, id_col="doc_id")
    tags = [r.tag for r in got.collect()]
    assert len(tags) == 100
    assert "zero" not in tags and "neg" not in tags and "null" not in tags
    n_heavy = sum(1 for t in tags if t == "heavy")
    # inclusion odds scale with weight: expect heavy to dominate
    # (10:1 weights over equal-sized strata); 75 is far below the
    # expectation (~95) but far above the uniform 50
    assert n_heavy > 75, n_heavy
    # deterministic across partition layouts
    again = {r.doc_id for r in ts.weighted_sample(
        df.repartition(13), "w", k=100, id_col="doc_id").collect()}
    assert again == {r.doc_id for r in got.collect()}
    # a different seed re-draws
    other = {r.doc_id for r in ts.weighted_sample(
        df, "w", k=100, id_col="doc_id", seed=7).collect()}
    assert other != again
    # k >= eligible keeps all eligible rows
    assert ts.weighted_sample(df, "w", k=10_000,
                              id_col="doc_id").count() == 600
    import pytest as _pt
    with _pt.raises(ValueError, match="k must"):
        ts.weighted_sample(df, "w", k=0, id_col="doc_id")


def test_weighted_sample_plan_is_takeordered(spark):
    df = spark.createDataFrame([(i, 1.0) for i in range(100)],
                               "doc_id long, w double")
    import contextlib
    import io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        ts.weighted_sample(df, "w", k=5, id_col="doc_id") \
            .explain("formatted")
    plan = buf.getvalue()
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange" not in plan, plan


def test_pack_samples_whole_never_splits_or_overflows(spark):
    """Whole-sample packing (r8): every pack's actual length sum fits
    the budget, no sample straddles, over-budget samples flag NULL,
    offsets are within-pack cumulative actual lengths, deterministic
    across layouts."""
    rows = [(i, 60 + (i * 13) % 200) for i in range(200)]
    rows += [(900, 3000)]  # longer than the budget -> NULL pack
    df = spark.createDataFrame(rows, "doc_id long, n long")
    out = ts.pack_samples_whole(df, "n", "doc_id", budget=1024)
    got = out.collect()
    over = [r for r in got if r.doc_id == 900][0]
    assert over.pack_id is None and over.pack_offset is None
    packs = {}
    for r in got:
        if r.pack_id is not None:
            packs.setdefault(r.pack_id, []).append(r)
    assert sum(len(v) for v in packs.values()) == 200
    for pid, members in packs.items():
        assert sum(m.n_units for m in members) <= 1024, pid
        # offsets = cumulative actual lengths in id order
        members.sort(key=lambda m: m.doc_id)
        cum = 0
        for m in members:
            assert m.pack_offset == cum, (pid, m)
            cum += m.n_units
    # layout independence
    again = {(r.doc_id, r.pack_id, r.pack_offset)
             for r in ts.pack_samples_whole(
                 df.repartition(7), "n", "doc_id", budget=1024).collect()}
    assert again == {(r.doc_id, r.pack_id, r.pack_offset) for r in got}
    import pytest as _pt
    with _pt.raises(ValueError, match="budget"):
        ts.pack_samples_whole(df, "n", "doc_id", budget=0)


def test_pack_samples_whole_nonpow2_budget_and_nulls(spark):
    """Non-power-of-two budget: a sample whose length class exceeds the
    budget but which itself fits must pack ALONE (clamped class), not
    get a bogus k=0 pack; NULL lengths flag NULL without consuming
    rank positions."""
    rows = [(1, 1000), (2, 990), (3, 10), (4, None)]
    df = spark.createDataFrame(rows, "doc_id long, n long")
    got = {r.doc_id: r for r in ts.pack_samples_whole(
        df, "n", "doc_id", budget=1000).collect()}
    assert got[4].pack_id is None
    # 1000 and 990 both clamp to class 1000, k=1 -> separate packs
    assert got[1].pack_id != got[2].pack_id
    assert got[1].pack_offset == 0 and got[2].pack_offset == 0
    # NULL row must not have shifted class-16 ranking
    assert got[3].pack_id is not None and got[3].pack_offset == 0


# ------------------------------------------------------------ unigram KL

def _kl_python(rows: list[tuple[str, str]], alpha=1.0) -> dict:
    """Independent pure-Python twin of unigram_kl (same rounding grid,
    decimal accumulation)."""
    from decimal import Decimal

    toks = [(s, t) for s, txt in rows if s is not None
            for t in txt.split()]
    cq: dict[str, int] = {}
    for _, t in toks:
        cq[t] = cq.get(t, 0) + 1
    nq, v = len(toks), len(cq)
    out = {}
    strata = sorted({s for s, _ in toks})
    for s in strata:
        mine = [t for st, t in toks if st == s]
        np_ = len(mine)
        cp: dict[str, int] = {}
        for t in mine:
            cp[t] = cp.get(t, 0) + 1
        acc = Decimal(0)
        for t in cq:
            p = (cp.get(t, 0) + alpha) / (np_ + alpha * v)
            q = (cq[t] + alpha) / (nq + alpha * v)
            import math
            acc += Decimal(str(round(p * math.log(p / q), 12)))
        out[s] = (np_, round(float(acc), 9))
    return out


def _kl_frame(spark, rows):
    return spark.createDataFrame(rows, "lang string, text string")


def test_unigram_kl_identical_strata_diverge_zero(spark):
    # two strata with the SAME distribution as the corpus: smoothing
    # cancels exactly and KL == 0
    df = _kl_frame(spark, [("a", "x y"), ("b", "x y")])
    got = {r.stratum: r.kl
           for r in ts.unigram_kl(df, "text", "lang").collect()}
    assert got == {"a": 0.0, "b": 0.0}


def test_unigram_kl_matches_python_twin(spark):
    rows = [("en", "the cat sat on the mat"),
            ("en", "the dog ran"),
            ("de", "der hund lief schnell der der"),
            ("fr", "le chat le chien"),
            (None, "ignored text entirely")]
    got = {r.stratum: (r.n_tokens, r.kl)
           for r in ts.unigram_kl(_kl_frame(spark, rows),
                                  "text", "lang").collect()}
    assert got == _kl_python(rows)
    assert None not in got                      # NULL stratum excluded


def test_unigram_kl_skewed_stratum_diverges_more(spark):
    # 'skew' concentrates on one token; 'flat' dominates the corpus, so
    # the corpus shape is close to flat's and far from skew's
    rows = [("flat", " ".join(["a b c d"] * 10)), ("skew", "a a a a")]
    got = {r.stratum: r.kl
           for r in ts.unigram_kl(_kl_frame(spark, rows),
                                  "text", "lang").collect()}
    assert got["skew"] > got["flat"] >= 0.0


def test_unigram_kl_nonnegative_and_alpha_validated(spark):
    df = _kl_frame(spark, [("a", "x x y"), ("b", "z")])
    for r in ts.unigram_kl(df, "text", "lang", alpha=0.5).collect():
        assert r.kl >= 0.0
    with pytest.raises(ValueError, match="alpha"):
        ts.unigram_kl(df, "text", "lang", alpha=0.0)


# ------------------------------------------------- per-key E-S sampling

def _wspk_frame(spark):
    rows = [(i, "k" + str(i % 3), float(i % 5 + 1)) for i in range(90)]
    return spark.createDataFrame(rows, "id long, key string, w double")


def test_weighted_sample_per_key_caps_and_matches_global_ranking(spark):
    df = _wspk_frame(spark)
    got = ts.weighted_sample_per_key(df, ["key"], "w", n=4, id_col="id",
                                     hash_fn="md5").collect()
    by_key: dict[str, list[int]] = {}
    for r in got:
        by_key.setdefault(r.key, []).append(r.id)
    assert all(len(v) == 4 for v in by_key.values())
    # python twin: per-key top-4 by (round(ln(u)/w, 6) DESC, id ASC)
    import math
    want: dict[str, list[int]] = {}
    for r in df.collect():
        want.setdefault(r.key, []).append(r)
    for k, rows in want.items():
        def es(row):
            u = (_md5_bucket(row.id, 42) + 1) / 1_000_000.0
            return round(math.log(u) / row.w, 6)
        top = sorted(rows, key=lambda r: (-es(r), r.id))[:4]
        assert sorted(by_key[k]) == sorted(r.id for r in top), k


def _md5_bucket(id_, seed):
    """Python twin of sample_bucket(hash_fn='md5')."""
    import hashlib
    s = f"{id_}\x1f{seed}".encode()
    return int(hashlib.md5(s).hexdigest()[:8], 16) % 1_000_000


def test_weighted_sample_per_key_salt_level_is_exact(spark):
    # salted (default 64 buckets) and unsalted rankings keep the SAME set
    df = _wspk_frame(spark)
    a = {(r.key, r.id) for r in ts.weighted_sample_per_key(
        df, ["key"], "w", n=3, id_col="id", hash_fn="md5").collect()}
    b = {(r.key, r.id) for r in ts.weighted_sample_per_key(
        df, ["key"], "w", n=3, id_col="id", hash_fn="md5",
        salt_buckets=1).collect()}
    assert a == b


def test_weighted_sample_per_key_excludes_bad_weights_and_reseeds(spark):
    rows = [(1, "k", 2.0), (2, "k", None), (3, "k", 0.0), (4, "k", -1.0),
            (5, "k", 1.0), (6, "k", 3.0)]
    df = spark.createDataFrame(rows, "id long, key string, w double")
    kept = {r.id for r in ts.weighted_sample_per_key(
        df, ["key"], "w", n=2, id_col="id").collect()}
    assert kept <= {1, 5, 6} and len(kept) == 2
    other = {r.id for r in ts.weighted_sample_per_key(
        df, ["key"], "w", n=2, id_col="id", seed=7).collect()}
    assert other <= {1, 5, 6} and len(other) == 2
    with pytest.raises(ValueError, match="n must be"):
        ts.weighted_sample_per_key(df, ["key"], "w", n=0, id_col="id")


# --------------------------------------------------------------- zipf fit

def test_zipf_fit_recovers_planted_exponent(spark):
    # plant counts = round(C / rank^0.8): the fit must recover ~0.8
    # with r2 ~ 1 (tiny rounding-to-integer noise only)
    rows = [(f"t{i:03d}", int(round(100000 / (i ** 0.8))))
            for i in range(1, 101)]
    df = spark.createDataFrame(rows, "token string, n_occurrences long")
    r = ts.zipf_fit(df, top_n=100).collect()[0]
    assert r.n_ranks == 100
    assert abs(r.alpha - 0.8) < 0.01, r.alpha
    assert r.r2 > 0.999


def test_zipf_fit_matches_python_twin_and_tie_rule(spark):
    from decimal import Decimal
    import math

    rows = [("b", 30), ("a", 30), ("c", 10), ("d", 5), ("e", 5)]
    df = spark.createDataFrame(rows, "token string, n_occurrences long")
    got = ts.zipf_fit(df, top_n=4).collect()[0]
    # ranking: count DESC, token ASC -> a(1) b(2) c(3) d(4)
    ranked = [30, 30, 10, 5]
    sx = sum(Decimal(str(round(math.log(r + 1), 12)))
             for r in range(4))
    sy = sum(Decimal(str(round(math.log(c), 12))) for c in ranked)
    sxy = sum(Decimal(str(round(math.log(i + 1) * math.log(c), 12)))
              for i, c in enumerate(ranked))
    sxx = sum(Decimal(str(round(math.log(i + 1) ** 2, 12)))
              for i in range(4))
    n = 4.0
    num = n * float(sxy) - float(sx) * float(sy)
    dx = n * float(sxx) - float(sx) * float(sx)
    assert got.n_ranks == 4
    assert got.alpha == round(-(num / dx), 6)


def test_zipf_fit_degenerate_is_null_not_zero(spark):
    # uniform counts: zero variance on y is FINE (alpha 0); a single
    # rank is degenerate on x -> NULLs
    one = spark.createDataFrame([("a", 5)],
                                "token string, n_occurrences long")
    r = ts.zipf_fit(one, top_n=2).collect()[0]
    assert r.n_ranks == 1 and r.alpha is None and r.r2 is None
    with pytest.raises(ValueError, match="top_n"):
        ts.zipf_fit(one, top_n=1)
    flat = spark.createDataFrame([(f"t{i}", 7) for i in range(10)],
                                 "token string, n_occurrences long")
    # flat counts: slope 0; r2 lands at 0.0 ("no relationship") — FP
    # residue keeps the y-variance guard from seeing an exact zero
    rf = ts.zipf_fit(flat, top_n=10).collect()[0]
    assert rf.alpha == 0.0 and rf.r2 in (0.0, None)


# -------------------------------------------------------- stupid backoff

def test_stupid_backoff_hand_golden(spark):
    """Closed-form golden: corpus a-b-c / a-b-d / a-b-c, self-scored.
    doc1 pos scores: uni a=3/9, bi (a,b)/c(a)=1, tri (a,b,c)/c(a,b)=2/3;
    doc2's trigram path scores 1/3."""
    import math

    from australia_company_etl_pipeline_spark.operators.lm import (
        stupid_backoff_score,
    )

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b d"), (3, "a b c")],
        "doc_id long, text string")
    got = {r.doc_id: (r.n_scored, r.avg_nls)
           for r in stupid_backoff_score(df, "text", "doc_id").collect()}

    def avg(*ss):
        return round(sum(round(-math.log(s), 6) for s in ss) / len(ss), 6)

    assert got[1] == (3, avg(3 / 9, 1.0, 2 / 3))
    assert got[2] == (3, avg(3 / 9, 1.0, 1 / 3))
    assert got[3] == got[1]


def test_stupid_backoff_min_count_backs_off_with_penalty(spark):
    """min_count=2 prunes the singleton trigram (a,b,d) AND bigram
    (b,d): doc2's last position backs off twice -> alpha^2 * c(d)/N."""
    import math

    from australia_company_etl_pipeline_spark.operators.lm import (
        stupid_backoff_score,
    )

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b d"), (3, "a b c")],
        "doc_id long, text string")
    got = {r.doc_id: r.avg_nls
           for r in stupid_backoff_score(df, "text", "doc_id",
                                         min_count=2).collect()}
    want = round((round(-math.log(3 / 9), 6) + 0.0
                  + round(-math.log(0.4 * 0.4 * (1 / 9)), 6)) / 3, 6)
    assert got[2] == want
    with pytest.raises(ValueError, match="alpha"):
        stupid_backoff_score(df, "text", "doc_id", alpha=0.0)


def test_stupid_backoff_ranks_fluent_above_salad(spark):
    """Repeated fluent phrasing scores lower avg_nls than a shuffled
    token salad over the same vocabulary — the gate property."""
    from australia_company_etl_pipeline_spark.operators.lm import (
        stupid_backoff_score,
    )

    fluent = "the quick brown fox jumps over the lazy dog"
    rows = [(i, fluent) for i in range(8)]
    rows.append((100, "dog the over quick lazy jumps fox brown the"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.avg_nls
           for r in stupid_backoff_score(df, "text", "doc_id").collect()}
    assert got[0] < got[100]
