"""Binary media columns + mapInPandas decode plumbing.

Design (scale-first):

- A media table is (media_id, kind, payload binary, meta struct). At
  100 TB the payloads dominate storage — they live in parquet binary
  columns (or out-of-line object-store keys; same schema either way), and
  every metadata-only query MUST prune the payload column. The plan
  queries below read only what they touch, so parquet column pruning
  skips the heavy bytes — check ``ReadSchema`` in ``.explain``.
- Decode/feature-extract crosses into Python exactly once, through
  ``mapInPandas``: Arrow ships columnar batches (bounded by
  ``spark.sql.execution.arrow.maxRecordsPerBatch``, so one batch of
  payloads must fit in worker memory — size it down for video), and the
  iterator-of-frames signature lets a partition stream through without
  materializing it whole.
- Real codecs (PIL / librosa / ffmpeg) are not in this environment. The
  ``codec='real'`` path raises ``NotImplementedError`` (clearly-marked
  stub); ``codec='fake'`` computes deterministic features from the raw
  bytes so the plumbing is testable end-to-end.

The fixture generator ``pack_documents_as_media`` derives a media table
from ``documents`` (payload = UTF-8 bytes of the text, metadata from
deterministic doc_id arithmetic) — both Spark- and SQL-expressible, so
the packing/pruning path is under the DuckDB oracle gate.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_KINDS = ("image", "audio", "video")

META_SCHEMA = StructType([
    StructField("width", IntegerType()),        # image/video
    StructField("height", IntegerType()),       # image/video
    StructField("duration_ms", IntegerType()),  # audio/video
    StructField("sample_rate", IntegerType()),  # audio
])

MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("kind", StringType()),
    StructField("payload", BinaryType()),
    StructField("meta", META_SCHEMA),
])

FEATURE_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("kind", StringType()),
    StructField("n_bytes", LongType()),
    StructField("features", ArrayType(DoubleType())),
])


def pack_documents_as_media(docs: DataFrame) -> DataFrame:
    """Derive a deterministic media table from ``documents``: payload is
    the UTF-8 text bytes, kind cycles by doc_id, metadata is doc_id
    arithmetic (a stand-in for real decoded header fields)."""
    kind = F.element_at(
        F.array(*[F.lit(k) for k in MEDIA_KINDS]),
        (F.col("doc_id") % 3 + 1).cast("int"))
    is_visual = kind.isin("image", "video")
    is_timed = kind.isin("audio", "video")
    meta = F.struct(
        F.when(is_visual, (F.col("doc_id") % 640 + 64).cast("int"))
         .alias("width"),
        F.when(is_visual, (F.col("doc_id") % 480 + 48).cast("int"))
         .alias("height"),
        F.when(is_timed, (F.col("doc_id") % 90000 + 1000).cast("int"))
         .alias("duration_ms"),
        F.when(kind == "audio", F.lit(16000).cast("int"))
         .alias("sample_rate"),
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        meta.alias("meta"))


def _fake_features(payload: pd.Series, n: int = 4) -> pd.Series:
    """Deterministic stand-in featurizer: byte-statistics per payload.
    Vectorizable, library-free, stable across runs/platforms."""

    from math import floor

    def feats(b) -> list[float]:
        if b is None:
            return [0.0] * n
        mv = memoryview(bytes(b))
        ln = len(mv)
        if ln == 0:
            return [0.0] * n
        total = sum(mv)
        # explicit half-up on the 1e-6 grid (Python's round() is
        # banker's; this matches floor(x*1e6 + 0.5)/1e6 in SQL exactly)
        mean_byte = floor((total / ln) * 1e6 + 0.5) / 1e6
        return [
            float(ln),
            mean_byte,                       # mean byte value
            float(mv[0]),                    # header byte
            float(total % 997),              # cheap checksum bucket
        ][:n]

    return payload.map(feats)


def decode_features(media: DataFrame, codec: str = "fake",
                    spread: bool = True) -> DataFrame:
    """Decode payloads → fixed-width feature vectors via ``mapInPandas``.

    codec='real' is the stub for actual image/audio decoding
    (PIL/librosa/ffmpeg — NOT AVAILABLE in this environment, raises
    ``NotImplementedError``). codec='fake' computes deterministic
    byte-statistics with identical schema/batching, so partitioning,
    Arrow batch shape, and downstream consumers are exercised for real.

    Arrow batch size is bounded by the session-level
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` — size it DOWN for
    large payloads (video) so a batch of payloads fits worker memory.
    ``spread`` round-robins rows across the cluster first: decode is
    CPU-bound, so a few large input splits would otherwise serialize it.
    """
    if codec not in ("fake", "real"):
        raise ValueError(f"unknown codec {codec!r}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if codec == "real":
                # STUB: real decode would dispatch per kind, e.g.
                #   image -> PIL.Image.open(io.BytesIO(b)) -> pixel stats
                #   audio -> librosa.load -> MFCC frame means
                #   video -> ffmpeg frame sample -> per-frame image path
                raise NotImplementedError(
                    "real media decoding requires image/audio libraries "
                    "not present in this environment; use codec='fake'")
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_bytes": pdf["payload"].map(
                    lambda b: 0 if b is None else len(b)).astype("int64"),
                "features": _fake_features(pdf["payload"]),
            })

    out = media.select("media_id", "kind", "payload")
    if spread:
        from ..session import ensure_min_partitions

        out = ensure_min_partitions(
            out, out.sparkSession.sparkContext.defaultParallelism)
    return out.mapInPandas(run, schema=FEATURE_SCHEMA)


PHASH_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("kind", StringType()),
    StructField("phash", LongType()),
])


def _fake_dhash(payload: pd.Series) -> pd.Series:
    """Deterministic 64-bit difference hash over the raw byte stream:
    resample the payload into 65 contiguous chunks, mean each, set bit
    i iff chunk[i] > chunk[i+1]. The structural analogue of the
    image dHash (which differences neighboring pixels of a 9×8
    downscale) applied to bytes — near-identical payloads land within
    a few bits. Library-free, numpy-vectorized per row, stable across
    platforms. Empty/NULL payloads hash to 0."""
    import numpy as np

    def one(b) -> int:
        if b is None or len(b) == 0:
            return 0
        arr = np.frombuffer(bytes(b), dtype=np.uint8)
        chunks = np.array_split(arr, 65)
        means = np.array([c.mean() if c.size else 0.0 for c in chunks])
        bits = means[:-1] > means[1:]
        h = 0
        for i, bit in enumerate(bits):
            if bit:
                h |= 1 << i
        # wrap bit 63 into the signed-long sign bit
        return h - (1 << 64) if h >= (1 << 63) else h

    return payload.map(one)


def perceptual_hash(media: DataFrame, codec: str = "fake",
                    spread: bool = True) -> DataFrame:
    """Per-payload 64-bit perceptual hash ``(media_id, kind, phash)``
    via ``mapInPandas`` — ONE Arrow crossing, the same decode plumbing
    contract as ``decode_features``.

    codec='real' is the stub for the published image dHash (downscale
    to 9×8 grayscale via PIL, difference neighboring pixels — NOT
    AVAILABLE here, raises ``NotImplementedError``); codec='fake' is a
    byte-stream difference hash with identical schema/batching, so
    banding, join shape and downstream dedup are exercised for real."""
    if codec not in ("fake", "real"):
        raise ValueError(f"unknown codec {codec!r}")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if codec == "real":
                raise NotImplementedError(
                    "real perceptual hashing requires image libraries "
                    "not present in this environment; use codec='fake'")
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "phash": _fake_dhash(pdf["payload"]).astype("int64"),
            })

    out = media.select("media_id", "kind", "payload")
    if spread:
        from ..session import ensure_min_partitions

        out = ensure_min_partitions(
            out, out.sparkSession.sparkContext.defaultParallelism)
    return out.mapInPandas(run, schema=PHASH_SCHEMA)


def media_dup_pairs(media: DataFrame, max_hamming: int = 6,
                    codec: str = "fake", n_bands: int = 4,
                    same_kind: bool = True) -> DataFrame:
    """Perceptual near-duplicate media pairs: dHash fingerprints →
    banded-hamming bucketed join (``dedup.banded_hamming_pairs`` — the
    SimHash machinery reused over media) → ``(id_a, id_b, hamming)``.

    The multimodal twin of text near-dedup: re-encoded/resized copies
    of one image hash within a few bits, so a crawl's duplicate media
    dies in one bucketed equi-join — never a payload-byte comparison,
    never all-pairs. ``same_kind`` (default) refuses cross-kind pairs
    (an image should not "duplicate" an audio clip just because byte
    statistics collide). At 100 TB, tune ``n_bands`` per the recall/
    collision trade documented on ``banded_hamming_pairs``.

    Release contract: ``banded_hamming_pairs`` stages the fingerprint
    table (both join sides would otherwise recompute the
    ``perceptual_hash`` mapInPandas pass); a long-lived caller runs the
    call and its terminal action inside ``operators.staging.scope()``,
    which releases it."""
    from ..operators.dedup import banded_hamming_pairs

    fp = perceptual_hash(media, codec=codec)
    pairs = banded_hamming_pairs(fp, "media_id", "phash",
                                 max_hamming=max_hamming,
                                 n_bands=n_bands)
    if same_kind:
        kinds = media.select("media_id", "kind")
        pairs = (pairs
                 .join(kinds.select(F.col("media_id").alias("id_a"),
                                    F.col("kind").alias("__ka")), "id_a")
                 .join(kinds.select(F.col("media_id").alias("id_b"),
                                    F.col("kind").alias("__kb")), "id_b")
                 .filter(F.col("__ka") == F.col("__kb"))
                 .select("id_a", "id_b", "hamming"))
    return pairs


def frame_offsets(media: DataFrame, n_frames: int = 5) -> DataFrame:
    """Video frame-sampling plan: n equally-spaced sample offsets per
    video, exploded to one row per frame. Pure native expressions — the
    *selection* of frames is metadata math; only the (stubbed) decode of
    the chosen frames needs Python."""
    v = media.filter(F.col("kind") == "video")
    idx = F.sequence(F.lit(0), F.lit(n_frames - 1))
    return (v.select(
        "media_id",
        F.col("meta.duration_ms").alias("duration_ms"),
        F.explode(idx).alias("frame_idx"))
        .withColumn(
            "offset_ms",
            (F.col("frame_idx") * F.col("duration_ms") / n_frames)
            .cast("long")))


def resize_plan(media: DataFrame, box: int = 224) -> Column | DataFrame:
    """Aspect-preserving resize targets for visual media: fit the longer
    edge to ``box``. Metadata-only arithmetic (native, payload pruned)."""
    v = media.filter(F.col("kind").isin("image", "video"))
    w, h = F.col("meta.width"), F.col("meta.height")
    scale = F.lit(box) / F.greatest(w, h)
    return v.select(
        "media_id", "kind",
        w.alias("width"), h.alias("height"),
        F.round(w * scale).cast("int").alias("target_w"),
        F.round(h * scale).cast("int").alias("target_h"))
