"""Multimodal columns: image/audio/video as opaque ``binary`` + typed
metadata, with Arrow-batched (pandas) UDF plumbing for decode/feature
steps (north-star extension).

The container has no image/audio libraries, so the *decode* step is
stubbed two ways (clearly marked): ``decode_image`` raises
``NotImplementedError`` unless PIL is importable; ``fake_decode_meta``
is a DETERMINISTIC FAKE that derives plausible (width, height, format)
purely from the payload bytes so the downstream plumbing — schema,
Arrow batch shapes, partitioning — is real and tested end-to-end.

Real (non-stub) parts: binary payload construction, metadata extraction,
byte-level feature extraction (mean/entropy via vectorized pandas UDF
over ``mapInPandas``), and frame-offset sampling arithmetic. At 100 TB
the payloads dominate: the mapInPandas stages are map-only (no shuffle),
and metadata-only queries never touch the payload column thanks to
parquet column pruning.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

try:  # decode libs are absent in this container; gate, don't crash
    from PIL import Image  # noqa: F401
    _HAS_PIL = True
except ImportError:
    _HAS_PIL = False


def to_media_table(docs: DataFrame) -> DataFrame:
    """Deterministic media table from ``documents``: the text bytes act
    as the opaque payload; metadata is typed at ingest (SURVEY.md §1.2).
    Columns: media_id, payload (binary), mime, n_bytes."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("payload"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("image/png"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio/wav"))
        .otherwise(F.lit("video/mp4"))
        .alias("mime"),
        F.length(F.col("text").cast("binary")).cast("long").alias("n_bytes"),
    )


def media_metadata(docs: DataFrame) -> DataFrame:
    """Metadata-only projection — never materializes the payload column
    (column pruning keeps the scan narrow; the point of storing payloads
    as a separate parquet column). Columns: media_id, mime, n_bytes."""
    return to_media_table(docs).select("media_id", "mime", "n_bytes")


_FEATURE_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("n_bytes", LongType()),
    StructField("mean_byte", DoubleType()),
    StructField("byte_entropy", DoubleType()),
])


def byte_features(media: DataFrame) -> DataFrame:
    """REAL vectorized feature extraction over binary payloads via
    ``mapInPandas`` (Arrow batches; one Python roundtrip per partition,
    never per row). Columns: media_id, n_bytes, mean_byte, byte_entropy."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                arr = np.frombuffer(bytes(payload), dtype=np.uint8)
                n = int(arr.size)
                if n == 0:
                    rows.append((mid, 0, 0.0, 0.0))
                    continue
                counts = np.bincount(arr, minlength=256)
                p = counts[counts > 0] / n
                # float64 throughout; numpy's pairwise summation may
                # differ from a sequential sum in the last ulps, so this
                # column is checked with tolerance, never bitwise
                ent = float(-(p * np.log2(p)).sum())
                rows.append((mid, n, float(arr.sum()) / n, ent))
            yield pd.DataFrame(
                rows, columns=["media_id", "n_bytes", "mean_byte", "byte_entropy"]
            )

    return media.select("media_id", "payload").mapInPandas(
        extract, schema=_FEATURE_SCHEMA
    )


_DECODE_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("format", StringType()),
])


def decode_image(media: DataFrame) -> DataFrame:
    """Image decode via PIL — STUB: the decode libraries are not in this
    container, so this raises ``NotImplementedError`` unless PIL is
    importable. The Spark-side plumbing (schema, mapInPandas signature,
    Arrow batching) is identical to ``fake_decode_meta``, which is what
    tests exercise."""
    if not _HAS_PIL:
        raise NotImplementedError(
            "image decode requires PIL; container has no image libs — "
            "use fake_decode_meta for plumbing tests"
        )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        from PIL import Image as _Image
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                img = _Image.open(io.BytesIO(bytes(payload)))
                rows.append((mid, img.width, img.height, img.format))
            yield pd.DataFrame(rows, columns=["media_id", "width", "height", "format"])

    return media.select("media_id", "payload").mapInPandas(
        decode, schema=_DECODE_SCHEMA
    )


def fake_decode_meta(media: DataFrame) -> DataFrame:
    """DETERMINISTIC FAKE decode: derives (width, height, format) from
    payload bytes alone — same schema, same mapInPandas shape as the real
    decoder, so the distributed plumbing is fully tested without image
    libs. Columns: media_id, width, height, format."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload)
                n = max(len(b), 1)
                rows.append((
                    mid,
                    64 + (n % 577),              # fake width
                    64 + ((b[0] if b else 0) * 7 % 433),  # fake height
                    "FAKE",
                ))
            yield pd.DataFrame(rows, columns=["media_id", "width", "height", "format"])

    return media.select("media_id", "payload").mapInPandas(
        decode, schema=_DECODE_SCHEMA
    )


_RESIZE_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("payload_out", BinaryType()),
    StructField("n_bytes_in", LongType()),
    StructField("n_bytes_out", LongType()),
])


def fake_resize(media: DataFrame, factor: int = 4) -> DataFrame:
    """DETERMINISTIC FAKE resize: keep every ``factor``-th payload byte —
    binary-in/binary-out through the same Arrow mapInPandas path a real
    codec resize would use, so the byte-level plumbing (BinaryType both
    directions, batch shapes, output sizes) is fully tested without
    image libraries. Columns: media_id, payload_out, n_bytes_in,
    n_bytes_out."""

    def do_resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload)
                out = b[::factor]
                rows.append((mid, out, len(b), len(out)))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "payload_out", "n_bytes_in", "n_bytes_out"],
            )

    return media.select("media_id", "payload").mapInPandas(
        do_resize, schema=_RESIZE_SCHEMA
    )


def frame_offsets(media: DataFrame, frame_step: int = 2,
                  bytes_per_frame: int = 256) -> DataFrame:
    """Frame-sampling arithmetic for video payloads: byte offsets of
    every ``frame_step``-th frame, one row per sampled frame (explode).
    REAL computation (pure Column exprs; ``floor`` so Spark and the SQL
    oracle agree on frame counts); the per-frame decode is where a real
    codec would plug in. Columns: media_id, frame_no, byte_offset."""
    n_frames = F.floor(F.col("n_bytes") / F.lit(bytes_per_frame)).cast("int")
    return (
        media.filter(F.col("mime") == "video/mp4")
        .select(
            "media_id",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(n_frames - 1, F.lit(0)),
                    F.lit(max(frame_step, 1)),
                )
            ).alias("frame_no"),
        )
        .select(
            "media_id",
            "frame_no",
            (F.col("frame_no") * F.lit(bytes_per_frame)).cast("long").alias("byte_offset"),
        )
    )


def audio_windows(media: DataFrame, sample_rate: int = 8000,
                  bytes_per_sample: int = 1, win_ms: int = 25,
                  hop_ms: int = 10) -> DataFrame:
    """Audio frame windowing arithmetic (the STFT/feature-extraction
    front-end layout): for each audio payload, one row per analysis
    window of ``win_ms`` every ``hop_ms`` — byte ranges a real DSP
    kernel would read. REAL computation (pure Column exprs; the window
    count formula floor((n_samples - win) / hop) + 1 is the standard
    framing identity, shared with the SQL oracle). Payloads shorter than
    one window produce no rows. Columns: media_id, win_no, byte_start,
    byte_len.

    Scale: filter on mime hits the scan; explode is map-only over
    metadata (n_bytes) — the payload column is never read, so the scan
    stays narrow until a decode stage actually consumes bytes."""
    win_bytes = sample_rate * win_ms // 1000 * bytes_per_sample
    hop_bytes = sample_rate * hop_ms // 1000 * bytes_per_sample
    n_windows = (
        F.floor((F.col("n_bytes") - win_bytes) / hop_bytes).cast("int") + 1
    )
    return (
        media.filter(
            (F.col("mime") == "audio/wav") & (F.col("n_bytes") >= win_bytes)
        )
        .select(
            "media_id",
            F.explode(
                F.sequence(F.lit(0), n_windows - 1)
            ).alias("win_no"),
        )
        .select(
            "media_id",
            "win_no",
            (F.col("win_no") * hop_bytes).cast("long").alias("byte_start"),
            F.lit(win_bytes).cast("long").alias("byte_len"),
        )
    )


_FEATURE_DET_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("n_bytes", LongType()),
    StructField("byte_sum", LongType()),
    StructField("byte_sq", LongType()),
    StructField("n_distinct", LongType()),
])


def byte_features_det(media: DataFrame) -> DataFrame:
    """Deterministic INTEGER twin of :func:`byte_features` (VERDICT r8
    #6) — the same real Arrow ``mapInPandas`` plumbing over the binary
    payloads, emitting the integer sufficient statistics of the byte
    histogram instead of float entropy, so the multimodal family's
    feature extraction hash-checks cross-engine:

    * ``byte_sum`` — Σ byte values (exact mean numerator:
      mean_byte = byte_sum / n_bytes);
    * ``byte_sq`` — Σ c_b² over the 256-bin histogram, the collision /
      Rényi-2 numerator (H₂ = log2(n_bytes² / byte_sq) — the float is
      derivable, the stored statistic exact);
    * ``n_distinct`` — occupied histogram bins.

    Bounded per document (c_b ≤ n_bytes), so byte_sq stays far below
    int64 at any corpus scale — per-doc statistics never accumulate
    across documents. Columns: media_id, n_bytes, byte_sum, byte_sq,
    n_distinct."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                arr = np.frombuffer(bytes(payload), dtype=np.uint8)
                counts = np.bincount(arr, minlength=256).astype(np.int64)
                rows.append((
                    mid,
                    int(arr.size),
                    int(arr.sum(dtype=np.int64)),
                    int((counts * counts).sum()),
                    int((counts > 0).sum()),
                ))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "n_bytes", "byte_sum", "byte_sq",
                         "n_distinct"],
            )

    return media.select("media_id", "payload").mapInPandas(
        extract, schema=_FEATURE_DET_SCHEMA
    )
