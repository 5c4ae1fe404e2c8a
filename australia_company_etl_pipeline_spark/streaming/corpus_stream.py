"""Continuous corpus ingestion with cross-batch near-dedup.

Composes Structured Streaming's ``foreachBatch`` with
``operators.dedup.incremental_dedup``: every arriving micro-batch of
documents is deduplicated against EVERYTHING ingested before it (the
persisted MinHash index — O(batch) per trigger, never O(history)),
and only the kept rows land in the output table. This is the shape a
crawl pipeline actually runs: landing files appear continuously, and a
page seen last week must not ship twice.

Delivery contract: the stream checkpoint makes a crashed trigger replay
its batch; ``incremental_dedup`` is replay-safe for the KEPT set (only
lower-id history counts), and the output write is made idempotent by
partitioning on the micro-batch id with a write-scoped dynamic
partition overwrite — a replayed batch rewrites its own partition
instead of appending duplicates. The index append itself grows duplicate
rows on replay (documented in ``incremental_dedup``); compact offline
when storage matters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def read_documents_stream(spark, landing_dir: str, schema,
                          max_files_per_trigger: int = 1) -> DataFrame:
    """File-source stream over a landing directory of document parquet."""
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(landing_dir))


def stream_dedup_ingest(stream: DataFrame, out_path: str, index_path: str,
                        checkpoint_dir: str,
                        text_col: str = "text", id_col: str = "doc_id",
                        threshold: float = 0.8, num_hashes: int = 32,
                        bands: int = 8,
                        lm_gate: tuple[str, float] | None = None,
                        url_col: str | None = None,
                        available_now: bool = True):
    """Start the dedup-ingest stream: per micro-batch, drop near-dups of
    anything seen before (or earlier in the same batch), append survivors
    to ``out_path`` partitioned by batch id.

    ``url_col`` prepends the streaming form of the recipe's stage 0:
    per batch, ``incremental_exact_dedup`` on ``urls.url_key`` against
    its own compact key index at ``index_path``/urlkeys — a page
    refetched under scheme/www/tracking variants (or redelivered) is
    dropped for the price of one equi-join on a one-row-per-key table
    BEFORE the MinHash machinery shingles it. Runs before the LM gate
    (cheapest first), and its replay idempotence means at-least-once
    delivery needs no extra handling.

    ``lm_gate=(lm_path, max_nll)`` additionally scores each batch
    against a FROZEN persisted bigram LM (``lm.save_bigram_lm`` — train
    once on a curated snapshot) and drops documents whose mean
    transition NLL exceeds ``max_nll`` — the streaming form of the
    CCNet perplexity gate, running BEFORE dedup so disfluent spam never
    enters the index as "seen" content other arrivals could dedup
    against. Documents with no transitions (<2 tokens) fail the gate.

    ``id_col`` must be globally increasing across the stream (the
    append-log contract ``incremental_dedup`` documents). Each batch runs
    in its own staging scope, so a long-lived stream doesn't accumulate
    executor storage — and doesn't evict frames staged by unrelated
    callers in the same session.
    """
    from ..operators import dedup as dd
    from ..operators.staging import scope

    def dedup_batch(batch_df: DataFrame, batch_id: int) -> None:
        with scope():
            if url_col is not None:
                from ..operators import urls as url_ops

                batch_df = dd.incremental_exact_dedup(
                    batch_df, f"{index_path}/urlkeys",
                    url_ops.url_key(url_col), id_col)
            if lm_gate is not None:
                from ..operators import lm as lm_ops

                lm_path, max_nll = lm_gate
                fluent = (lm_ops.score_with_bigram_lm(
                    batch_df, text_col, id_col, lm_path)
                    .filter(F.col("avg_nll") <= max_nll)
                    .select(id_col))
                batch_df = batch_df.join(fluent, id_col, "left_semi")
            kept = dd.incremental_dedup(
                batch_df, index_path, text_col, id_col,
                threshold=threshold, num_hashes=num_hashes, bands=bands)
            (kept.withColumn("__batch", F.lit(batch_id))
             .write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("__batch")
             .parquet(out_path))

    writer = (stream.writeStream.foreachBatch(dedup_batch)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_embed_index(stream: DataFrame, index_path: str,
                       checkpoint_dir: str,
                       text_col: str = "text", id_col: str = "doc_id",
                       dim: int = 64, seed: int = 42,
                       n_centroids: int = 16, kmeans_iter: int = 3,
                       available_now: bool = True):
    """Continuously embed arriving documents and grow a searchable IVF
    index — the streaming composition of ``embed.embed_documents`` and
    ``ann.append_to_ivf_index``: each micro-batch's texts become hashed
    embeddings (pure codegen, no model service) and land in the
    persisted inverted lists, so ``ann.ivf_index_topk`` answers over
    everything ingested so far the moment the trigger commits.

    Delivery contract: a crashed trigger replays its batch, and
    ``append_to_ivf_index``'s id anti-join makes the re-append a no-op —
    exactly-once index contents over at-least-once triggers, no batch-id
    partitioning needed (ids are the idempotence key). The FIRST batch
    bootstraps the index (trains centroids on itself via
    ``build_ivf_index``); later batches assign against those frozen
    centroids. As drift accumulates, rebuild offline with
    ``build_ivf_index`` over the full corpus — its atomic-rename swap
    means probes never see a half-rebuilt index even while this stream
    keeps appending. Vector ids (``id_col``) must be globally unique
    across the stream.
    """
    from ..operators import ann
    from ..operators.embed import embed_documents

    def _index_exists(spark) -> bool:
        # Hadoop FileSystem probe, NOT os.path: a driver-local stat of
        # an HDFS/object-store URI is always False, and the resulting
        # re-bootstrap would retrain centroids mid-stream and silently
        # invalidate every existing inverted list (same trap the
        # partitioned-upsert bootstrap documents in sources/sinks.py)
        from ..session import hadoop_exists

        return hadoop_exists(spark, f"{index_path}/centroids")

    def embed_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            # an empty first batch (zero-row landing file — routine from
            # upstream writers) must NOT bootstrap: k-means on an empty
            # corpus writes a ZERO-centroid index without erroring, the
            # existence probe then steers every later batch onto the
            # append path, and the empty broadcast crossJoin silently
            # indexes nothing forever
            return
        vecs = embed_documents(batch_df, text_col, out_col="embedding",
                               dim=dim, seed=seed) \
            .select(F.col(id_col).alias("vec_id"), "embedding")
        if not _index_exists(batch_df.sparkSession):
            ann.build_ivf_index(vecs, index_path,
                                n_centroids=n_centroids,
                                kmeans_iter=kmeans_iter, seed=seed)
        else:
            ann.append_to_ivf_index(vecs, index_path)

    writer = (stream.writeStream.foreachBatch(embed_batch)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_drift_monitor(stream: DataFrame, baseline_profile_path: str,
                         alert_path: str, checkpoint_dir: str,
                         cols: list[str],
                         rel_threshold: float = 0.5,
                         table_name: str = "stream",
                         available_now: bool = True, **profile_kwargs):
    """Continuous "did the feed silently change" monitoring: per
    micro-batch, profile the arriving rows (``profile.profile_table``),
    diff them against a FROZEN baseline profile stored at
    ``baseline_profile_path`` (write it once with
    ``profile_table(reference).write.parquet(...)`` from a curated
    snapshot), and append every metric whose relative change exceeds
    ``rel_threshold`` to ``alert_path`` tagged with the batch id — the
    streaming twin of the batch ``profile_drift`` monitor, catching
    null-rate spikes, cardinality collapse and range shifts while the
    feed is still arriving, not at tomorrow's batch run.

    The baseline side is NEVER re-scanned (the ``old_profile`` fast
    path); per trigger this costs one single-aggregate pass over the
    batch plus a ≤(metrics)-row join. ``profile_kwargs`` forward to the
    profiler — pass ``distinct='approx'``/``percentile_mode='approx'``
    at scale. An all-clear batch appends nothing; rows at ``alert_path``
    are therefore themselves the alert feed (empty dir = healthy).
    NOTE metrics are per-BATCH: a batch is a time slice, so count-like
    metrics (n_rows) will always diverge from a full-corpus baseline —
    alert on the rate/shape metrics (null_rate, mean, p50, n_distinct)
    by choosing ``cols``/``rel_threshold`` accordingly, or store a
    baseline profiled from a representative batch-sized slice."""
    from ..operators.profile import profile_drift

    def monitor_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        baseline = spark.read.parquet(baseline_profile_path)
        drift = profile_drift(
            None, batch_df, cols=cols, table_name=table_name,
            old_profile=baseline, **profile_kwargs)
        # rel_change is NULL when the baseline is 0 (division undefined)
        # — but 0 → nonzero is the LOUDEST alarm a monitor has (null
        # rate appearing, inf rate appearing), so zero-baseline moves
        # and metrics present on only one side alert unconditionally
        zero_base = (F.col("old_value") == 0) & (F.col("new_value") != 0)
        one_sided = (F.col("old_value").isNull()
                     != F.col("new_value").isNull())
        alerts = (drift.filter(
            (F.abs(F.col("rel_change")) > rel_threshold)
            | zero_base | one_sided)
            .withColumn("__batch", F.lit(batch_id)))
        (alerts.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("__batch")
         .parquet(alert_path))

    writer = (stream.writeStream.foreachBatch(monitor_batch)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_media_dedup_ingest(stream: DataFrame, out_path: str,
                              index_path: str, checkpoint_dir: str,
                              max_hamming: int = 6, n_bands: int = 4,
                              codec: str = "fake",
                              available_now: bool = True):
    """Start the MEDIA dedup-ingest stream — the multimodal twin of
    ``stream_dedup_ingest``: per micro-batch, perceptual-hash the
    arriving payloads (``multimodal.perceptual_hash``, one mapInPandas
    crossing), drop any item within ``max_hamming`` bits of a
    SAME-KIND fingerprint seen before (persisted index) or earlier in
    the same batch (lower id), append ALL batch fingerprints — kept
    and dropped — to the index, and write survivors to ``out_path``
    partitioned by batch id.

    The stream must be MEDIA_SCHEMA-shaped (``media_id``, ``kind``,
    ``payload``, …) — ``perceptual_hash`` reads those columns.

    Contracts (mirroring ``incremental_dedup``):
    - ``media_id`` globally increasing across the stream (append-log
      ids); a batch item is dropped iff it matches any LOWER-id item;
    - dropped items still index, so transitive near-dup chains resolve
      identically however arrivals are chunked;
    - candidates come from the pigeonhole band buckets
      (``dedup.fingerprint_band_buckets`` — full recall below
      ``n_bands`` differing bits, approximate above), so each trigger
      is one bucketed equi-join against the index: O(batch) per
      arrival, never O(history);
    - replays append duplicate index rows (harmless for verdicts —
      same fingerprints, same buckets); survivor output stays replay-
      safe via dynamic batch-partition overwrite.
    """
    from ..multimodal.media import perceptual_hash
    from ..operators import dedup as dd

    def media_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark import StorageLevel

        if batch_df.isEmpty():
            # empty/replayed-empty triggers must not append zero-row
            # files to the index forever (same guard as
            # stream_embed_index's bootstrap)
            return
        spark = batch_df.sparkSession
        id_col = "media_id"
        # the fingerprint frame has FOUR consumers (index append, the
        # history join's new side, both sides of the own-batch self
        # join) — persist it so the mapInPandas decode pass (the
        # dominant cost under a real codec) runs once per trigger, the
        # incremental_dedup bucket-frame discipline
        fp = perceptual_hash(batch_df, codec=codec) \
            .persist(StorageLevel.MEMORY_AND_DISK)
        id_type = batch_df.schema[id_col].dataType
        from pyspark.sql.types import (LongType, StringType, StructField,
                                       StructType)

        idx = dd._read_or_empty(
            spark, index_path, StructType([
                StructField(id_col, id_type),
                StructField("kind", StringType()),
                StructField("phash", LongType())]))
        nb = dd.fingerprint_band_buckets(fp, id_col, "phash",
                                         n_bands=n_bands,
                                         extra_cols=["kind"])
        ob = dd.fingerprint_band_buckets(idx, id_col, "phash",
                                         n_bands=n_bands,
                                         extra_cols=["kind"])
        n, o = nb.alias("n"), ob.alias("o")
        hist = (n.join(o, (F.col("n.band") == F.col("o.band"))
                       & (F.col("n.bh") == F.col("o.bh"))
                       & (F.col("n.kind") == F.col("o.kind"))
                       & (F.col(f"o.{id_col}") < F.col(f"n.{id_col}")),
                       "inner")
                .select(F.col(f"n.{id_col}").alias("new_id"),
                        F.col("n.__fp").alias("__fn"),
                        F.col("o.__fp").alias("__fs")))
        a, b = nb.alias("a"), nb.alias("b")
        own = (a.join(b, (F.col("a.band") == F.col("b.band"))
                      & (F.col("a.bh") == F.col("b.bh"))
                      & (F.col("a.kind") == F.col("b.kind"))
                      & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
                      "inner")
               .select(F.col(f"b.{id_col}").alias("new_id"),
                       F.col("b.__fp").alias("__fn"),
                       F.col("a.__fp").alias("__fs")))
        drops = (hist.unionByName(own)
                 .filter(dd.hamming64(F.col("__fn"), F.col("__fs"))
                         <= max_hamming)
                 .select(F.col("new_id").alias(id_col))
                 .distinct())
        # Index listing was captured at read time above, so this
        # append cannot feed the batch back into its own history.
        try:
            fp.write.mode("append").parquet(index_path)
            (batch_df.join(drops, id_col, "left_anti")
             .withColumn("__batch", F.lit(batch_id))
             .write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("__batch")
             .parquet(out_path))
        finally:
            fp.unpersist()

    writer = (stream.writeStream.foreachBatch(media_batch)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def fold_sketch_batch(batch_df: DataFrame, batch_id: int,
                      state_path: str, key_col: str,
                      depth: int = 4, width: int = 4096,
                      lg_k: int = 12, hash_fn: str = "xxhash64") -> bool:
    """Fold one micro-batch into the persisted sketch state (the unit
    ``stream_sketch_ingest`` runs per trigger; public so replay
    behavior is directly testable). Returns False when the batch was
    SKIPPED as a replay.

    State layout under ``state_path`` (one generation, swapped
    atomically as a whole so cms/hll/meta can never mix):
    - ``cms/``  — (row_idx, col_idx, cnt) counters;
    - ``hll/``  — one DataSketches HLL row;
    - ``meta/`` — (last_batch_id,).

    Sketch merges are SUMS — unlike the dedup ingests (where an id
    anti-join makes replay a no-op), a replayed trigger would
    double-count every key. The fence is the stored batch id:
    ``batch_id <= last_batch_id`` returns without touching state.
    Structured Streaming's foreachBatch delivers batch ids
    monotonically and replays use the SAME id, so the fence turns
    at-least-once triggers into exactly-once sketch contents — the
    transactional foreachBatch pattern from the Spark docs, applied to
    sketch state."""
    import os

    from ..operators import cms as cms_ops
    from ..operators import hll as hll_ops
    from ..session import hadoop_exists, replace_dir

    spark = batch_df.sparkSession
    have = hadoop_exists(spark, f"{state_path}/meta")
    if have:
        last = spark.read.parquet(f"{state_path}/meta") \
            .head()["last_batch_id"]
        if batch_id <= last:
            return False
    if batch_df.isEmpty():
        return False
    key = F.col(key_col)
    new_cms = cms_ops.build_cms(batch_df, key, depth, width, hash_fn)
    new_hll = hll_ops.distinct_sketch(batch_df, key, lg_k=lg_k)
    if have:
        new_cms = cms_ops.merge_cms(
            spark.read.parquet(f"{state_path}/cms"), new_cms)
        new_hll = hll_ops.merge_sketches(
            spark.read.parquet(f"{state_path}/hll").unionByName(new_hll))
    tmp = f"{state_path}.__build_tmp.{os.getpid()}"
    new_cms.write.mode("errorifexists").parquet(f"{tmp}/cms")
    new_hll.write.mode("errorifexists").parquet(f"{tmp}/hll")
    spark.createDataFrame([(int(batch_id),)], "last_batch_id long") \
        .coalesce(1).write.mode("errorifexists").parquet(f"{tmp}/meta")
    replace_dir(spark, tmp, state_path)
    return True


def stream_sketch_ingest(stream: DataFrame, state_path: str,
                         checkpoint_dir: str, key_col: str,
                         depth: int = 4, width: int = 4096,
                         lg_k: int = 12, hash_fn: str = "xxhash64",
                         available_now: bool = True):
    """Maintain key-frequency (CMS) + distinct-count (HLL) sketches
    over everything a stream has ever delivered, in O(depth·width +
    2^lg_k) state per trigger — never O(history). The monitoring twin
    of the dedup ingests: "how often does each domain arrive, and how
    many distinct urls so far?" answerable at any moment from a
    kilobytes-sized table (``cms.cms_estimate`` /
    ``hll.distinct_estimate`` over the state dir), with per-trigger
    cost independent of how long the stream has run."""
    def sketch_batch(batch_df: DataFrame, batch_id: int) -> None:
        fold_sketch_batch(batch_df, batch_id, state_path, key_col,
                          depth, width, lg_k, hash_fn)

    writer = (stream.writeStream.foreachBatch(sketch_batch)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_sft_ingest(stream: DataFrame, out_path: str, index_path: str,
                      checkpoint_dir: str,
                      turns_col: str = "turns", id_col: str = "doc_id",
                      available_now: bool = True):
    """Streaming SFT ingest — the conversation-feed twin of
    ``stream_dedup_ingest`` (operators/chat.py assembled per
    micro-batch): validate each arriving conversation (invalid rows
    drop — structure only, no content judgment), then CROSS-BATCH
    prompt dedup via ``incremental_exact_dedup`` on the md5 of the
    rendered prompt (the conversation minus its final assistant turn):
    a prompt redelivered — or re-scraped from a second source — in a
    later batch is dropped against the persisted one-row-per-key
    index for the price of one equi-join, and the operator's
    replay idempotence means at-least-once delivery needs no extra
    handling. Survivors land at ``out_path`` rendered (``text`` +
    assistant loss-mask ``spans`` + ``n_turns``), partitioned by batch
    id with write-scoped dynamic overwrite (replay rewrites, never
    appends).

    Cross-batch keep-choice is FIRST ARRIVAL (the index's min-id
    tournament) — keep-best-by-reward needs the batch boundary to see
    both candidates, so run ``sft_pair_dedup(order_col=...)`` in batch
    over a landed window when reward-ranked dedup matters.

    ``id_col`` must be globally increasing across the stream (the
    append-log contract)."""
    from ..operators import chat as chat_ops
    from ..operators import dedup as dd

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        turns = F.col(turns_col)
        valid = batch_df.filter(
            chat_ops.validate_chat(turns).isNull())
        prompt = chat_ops.render_chat(
            F.slice(turns, 1, F.greatest(F.size(turns) - 1, F.lit(0))))
        kept = dd.incremental_exact_dedup(
            valid, index_path, F.md5(prompt), id_col)
        (kept.select(
            F.col(id_col),
            chat_ops.render_chat(turns).alias("text"),
            chat_ops.assistant_spans(turns).alias("spans"),
            F.size(turns).alias("n_turns"))
         .withColumn("__batch", F.lit(batch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("__batch")
         .parquet(out_path))

    writer = (stream.writeStream.foreachBatch(ingest)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def fold_postings_batch(batch_df: DataFrame, batch_id: int,
                        index_path: str, text_col: str = "text",
                        id_col: str = "doc_id") -> None:
    """Fold one micro-batch into the persisted BM25 postings index
    (public so replay behavior is directly testable). Layout under
    ``index_path``, both tables partitioned by ``__batch`` with
    write-scoped dynamic overwrite — a replayed trigger rewrites ITS
    OWN partition, so at-least-once delivery needs no meta fence (the
    sketch fold needs one because its state is a single merged
    generation; postings are per-batch additive):

    - ``postings/`` — ``(id, term, tf, dl, __batch)`` — the
      ``retrieval.term_postings`` rows of each batch's documents;
    - ``stats/``    — one ``(n_docs, sum_dl, __batch)`` row per batch:
      corpus constants fold as integer SUMS at query time, so the
      derived (N, avgdl) is bit-identical to a batch build over the
      union.

    Per-trigger cost is O(batch) — one explode + one partial-agg
    shuffle over the arriving documents; history is never rescanned.
    Documents must arrive once (or be pre-deduped by
    ``stream_dedup_ingest``) — a doc re-delivered under a NEW batch id
    is a new document to this index, exactly as it would be to a batch
    rebuild over the duplicated corpus.

    Write order: stats land BEFORE postings. The two writes are not
    atomic together; postings-first would allow a reader between them
    to see postings whose documents are missing from the summed
    N/avgdl — df can then exceed N and idf = ln(1+(N-df+0.5)/(df+0.5))
    goes NEGATIVE, flipping score signs. Stats-first means the only
    inconsistent window OVER-counts N (it briefly includes documents
    whose postings haven't landed); idf is increasing in N, so scores
    transiently inflate slightly — bounded, sign-preserving, and gone
    once the batch replays/completes."""
    from ..operators import retrieval as rt
    from ..operators.textstats import tokens

    if batch_df.isEmpty():
        return
    stats = (batch_df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum(F.size(tokens(F.col(text_col)))), F.lit(0))
        .alias("sum_dl"))
        .withColumn("__batch", F.lit(batch_id)))
    (stats.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("__batch").parquet(f"{index_path}/stats"))
    post = (rt.term_postings(batch_df, text_col, id_col)
            .withColumn("__batch", F.lit(batch_id)))
    (post.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("__batch").parquet(f"{index_path}/postings"))


def stream_postings_ingest(stream: DataFrame, index_path: str,
                           checkpoint_dir: str, text_col: str = "text",
                           id_col: str = "doc_id",
                           available_now: bool = True,
                           compact_every: int | None = None,
                           keep_last: int = 8):
    """Continuously maintained term index — the streaming-RAG piece:
    documents stream in, the BM25 postings list stays current, and
    ``bm25_search_indexed`` answers from the persisted index at any
    moment without re-tokenizing history. O(batch) per trigger,
    replay-idempotent via per-batch partition overwrite.

    ``compact_every=N`` (r10) runs ``compact_postings(keep_last=)``
    in-stream after every Nth trigger (``batch_id % N == 0``), so a
    long-running stream's partition count stays bounded without an
    operator remembering the offline step — after any trigger the
    index holds at most ``keep_last + N`` live batch partitions.
    Compaction keys on batch_id, so a REPLAYED trigger re-runs its
    compaction too — harmless, since folding the same horizon twice is
    a no-op (the already-folded batches are in the base generation)
    and search results are bit-identical across compaction either way.
    Replay-safety caveat as on ``compact_postings``: ``keep_last``
    must cover the stream's replay horizon; the in-stream call
    compacts only batches strictly OLDER than the one that triggered
    it, which a committed checkpoint can no longer replay."""
    if compact_every is not None and compact_every < 1:
        raise ValueError(
            f"compact_every must be >= 1, got {compact_every}")

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        fold_postings_batch(batch_df, batch_id, index_path, text_col,
                            id_col)
        if compact_every and batch_id % compact_every == 0:
            from ..session import hadoop_exists

            # an all-empty prefix of triggers writes nothing — there
            # is no index to compact yet
            if hadoop_exists(batch_df.sparkSession,
                             f"{index_path}/postings"):
                compact_postings(batch_df.sparkSession, index_path,
                                 keep_last=keep_last)

    writer = (stream.writeStream.foreachBatch(ingest)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


_BASE_GEN = -1  # reserved __batch id for the compacted base generation
#                 (Structured Streaming batch ids are always >= 0)


def compact_postings(spark, index_path: str,
                     keep_last: int = 8) -> dict[str, int]:
    """Fold old per-trigger partitions of a ``stream_postings_ingest``
    index into one base generation, keeping the newest ``keep_last``
    batch partitions live — the offline maintenance step the per-batch
    layout needs: every trigger adds one ``__batch`` partition, so
    after 10⁵ triggers the read path lists 10⁵ directories and the
    scan schedules 10⁵ tiny files (listing cost grows linearly with
    stream age; query cost should not).

    Content is UNCHANGED — postings rows are relabeled into the base
    partition (``__batch = -1``, unreachable by real batch ids) and
    stats rows integer-sum into one base row, so ``bm25_search_indexed``
    results are bit-identical before and after. Each table is written
    to a pid-suffixed tmp tree and swapped with ``replace_dir``
    (atomic renames — the ``compact_dedup_index`` discipline: every
    crash window leaves a complete table on disk). Stats swaps first,
    mirroring the fold's stats-before-postings ordering.

    ``keep_last`` must cover the stream's replay horizon: a replayed
    trigger rewrites its OWN ``__batch`` partition, which only stays
    idempotent while that partition exists — folding a batch that
    later replays would re-add its rows beside the base copy. After a
    clean ``availableNow`` drain (or a checkpoint commit) only the
    newest trigger can ever replay, so the default is comfortably
    conservative. Returns ``{'batches_folded': n, 'partitions': m}``
    (m = live batch partitions after, base included when present)."""
    from ..session import replace_dir

    import os as _os

    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    post = spark.read.parquet(f"{index_path}/postings")
    batches = sorted(r["__batch"] for r in
                     post.select("__batch").distinct().collect())
    real = [b for b in batches if b != _BASE_GEN]
    fold = set(real[:-keep_last])
    if not fold:
        return {"batches_folded": 0, "partitions": len(batches)}
    folded_label = (F.when(F.col("__batch").isin([_BASE_GEN, *fold]),
                           F.lit(_BASE_GEN))
                    .otherwise(F.col("__batch")).alias("__batch"))

    stats = spark.read.parquet(f"{index_path}/stats")
    new_stats = (stats.select("n_docs", "sum_dl", folded_label)
                 .groupBy("__batch")
                 .agg(F.sum("n_docs").alias("n_docs"),
                      F.sum("sum_dl").alias("sum_dl")))
    tmp = f"{index_path}/stats.__compact_tmp.{_os.getpid()}"
    (new_stats.write.mode("overwrite").partitionBy("__batch")
     .parquet(tmp))
    replace_dir(spark, tmp, f"{index_path}/stats")

    new_post = post.select(
        *[c for c in post.columns if c != "__batch"], folded_label)
    tmp = f"{index_path}/postings.__compact_tmp.{_os.getpid()}"
    (new_post.write.mode("overwrite").partitionBy("__batch")
     .parquet(tmp))
    replace_dir(spark, tmp, f"{index_path}/postings")
    return {"batches_folded": len(fold),
            "partitions": len(batches) - len(fold)
            + (0 if _BASE_GEN in batches else 1)}


def bm25_search_indexed(spark, index_path: str, query_terms: list[str],
                        id_col: str = "doc_id", k1: float = 1.2,
                        b: float = 0.75, top_n: int = 10) -> DataFrame:
    """Okapi BM25 top-``top_n`` over a ``stream_postings_ingest``
    index: per-batch corpus constants fold as integer sums (exact —
    the derived (N, avgdl) matches a batch build over the union
    bit-for-bit), postings read with the query-term IN-filter pushed
    to the scan. Per-query cost scales with the matching postings, not
    the corpus."""
    from ..operators import retrieval as rt

    post = spark.read.parquet(f"{index_path}/postings").drop("__batch")
    stats = (spark.read.parquet(f"{index_path}/stats")
             .agg(F.sum("n_docs").alias("n_docs"),
                  (F.sum("sum_dl").cast("double")
                   / F.sum("n_docs")).alias("avgdl")))
    return rt.bm25_search_from_postings(post, stats, id_col,
                                        query_terms, k1, b, top_n)
