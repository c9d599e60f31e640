"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

The Spark-side plumbing is real and tested — schema contract, Arrow
batch shape, mapInPandas partition flow, partitioning discipline. The
actual media decoding is STUBBED (image/audio libs are not in this
container): ``decode_image_features`` raises NotImplementedError unless
``fake=True``, in which case a deterministic hash-derived feature vector
stands in for real decoder output so the distributed plumbing can be
exercised end-to-end.

Design for 100 TB of media:
- binary payloads stay in parquet (no driver round-trip); metadata is a
  typed struct column so pruning/filtering never touches payload bytes —
  Parquet's columnar layout means a metadata-only query does NOT read
  the blob column at all.
- feature extraction is mapInPandas (Arrow batches), so each task
  decodes a partition's worth of blobs without per-row Python overhead.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_DIM = 16

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("features", T.ArrayType(T.FloatType()), True),
    ]
)


def _fake_features(payload: bytes | None, dim: int = FEATURE_DIM) -> list[float] | None:
    """Deterministic stand-in for a real decoder: sha256-seeded floats.
    Stable across runs/machines so tests can assert exact values.
    A NULL payload has no features (None, not zeros): downstream
    averages must skip it exactly like SQL's sha256(NULL) -> NULL."""
    if payload is None:
        return None
    digest = hashlib.sha256(payload).digest()
    return [digest[i % 32] / 255.0 for i in range(dim)]


def _pil_features(payload: bytes | None, dim: int = FEATURE_DIM) -> list[float] | None:
    """Real image features via PIL: decode, resize to a 4x4 grayscale
    thumbnail, emit the 16 normalized pixel intensities. Import happens
    inside the executor-side call (the module must stay importable
    without PIL). A MISSING payload has no features (None — averages
    skip it, mirroring _fake_features); an UNDECODABLE one yields the
    zero vector — decode errors must not kill a 100 TB job."""
    from PIL import Image  # noqa: deferred — only on the real path
    import io

    if payload is None:
        return None
    try:
        img = Image.open(io.BytesIO(payload)).convert("L").resize((4, 4))
    except Exception:
        return [0.0] * dim
    px = list(img.getdata())
    return [px[i % 16] / 255.0 for i in range(dim)]


def decode_image_features(df: DataFrame, fake: bool = False) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    With ``fake=True`` a deterministic hash-derived vector stands in
    for decoder output (the tested default in this container). With
    ``fake=False`` the real PIL decode path runs — gated on PIL being
    importable (it is not present in this container: the driver-side
    probe raises NotImplementedError so the stub stays honest;
    tests/test_multimodal.py carries a skipif-marked end-to-end test
    that exercises this branch automatically wherever PIL exists).
    The mapInPandas flow (batch iterator in, batch iterator out,
    FEATURES_SCHEMA contract) is the real production shape either way.
    """
    if not fake:
        try:
            import PIL.Image  # noqa: F401 — driver-side availability probe
        except ImportError as exc:
            raise NotImplementedError(
                "media decoding requires PIL/ffmpeg, not present in this "
                "environment; call with fake=True to exercise the plumbing"
            ) from exc
    feat = _fake_features if fake else _pil_features

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "features": [feat(p) for p in pdf["payload"]],
                }
            )

    return df.mapInPandas(extract, FEATURES_SCHEMA)


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic media table derived from the documents fixture:
    payload = utf-8 bytes of the text, kind cycles image/audio/video by
    doc_id. Exists so the multimodal plumbing (binary payload column,
    typed metadata struct, Arrow decode path) can run — and be
    oracle-checked — against driver testdata without real media files."""
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    mime = (
        F.when(kind == "image", F.lit("image/png"))
        .when(kind == "audio", F.lit("audio/wav"))
        .otherwise(F.lit("video/mp4"))
    )
    payload = F.encode(F.col("text"), "UTF-8")
    # Deterministic pixel dims for image rows (resize planning needs
    # them); NULL for audio/video where they are meaningless.
    width = F.when(kind == "image", (64 + (F.col("doc_id") % 10) * 32).cast("int"))
    height = F.when(kind == "image", (48 + (F.col("doc_id") % 7) * 32).cast("int"))
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        payload.alias("payload"),
        F.struct(
            mime.alias("mime"),
            width.alias("width"),
            height.alias("height"),
            (F.col("n_chars") * 10).cast("int").alias("duration_ms"),
            F.length(payload).cast("long").alias("n_bytes"),
        ).alias("meta"),
    )


def resize_plan(df: DataFrame) -> DataFrame:
    """Image resize *plan*: fit-within-224px output dims preserving
    aspect ratio, never upscaling — computed from meta.width/height
    ONLY (no payload read; the pixel work is the stubbed decode step).
    scale = min(1, 224/w, 224/h); out dims = floor(dim * scale).
    Same discipline as frame_sample_plan: plan on metadata, touch
    bytes late."""
    w = F.col("meta.width").cast("double")
    h = F.col("meta.height").cast("double")
    scale = F.least(F.lit(1.0), F.lit(224.0) / w, F.lit(224.0) / h)
    return df.filter(
        (F.col("kind") == "image") & F.col("meta.width").isNotNull()
    ).select(
        "media_id",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.floor(w * scale).cast("int").alias("out_width"),
        F.floor(h * scale).cast("int").alias("out_height"),
    )


def frame_sample_plan(df: DataFrame) -> DataFrame:
    """Video frame-sampling *plan*: computes per-row frame timestamps to
    decode, one a second (metadata-only — no payload read; the decode itself is the
    stubbed step). Shows the pruning discipline: plan on metadata,
    touch bytes late."""
    n_frames = (F.col("meta.duration_ms") / 1000).cast("int")
    return df.filter(F.col("kind") == "video").select(
        "media_id",
        F.transform(
            F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0))),
            lambda i: i * 1000,
        ).alias("frame_ts_ms"),
    )


def audio_segment_plan(df: DataFrame) -> DataFrame:
    """Audio segmentation *plan*: per audio row, how many 5 s windows
    (80000 samples at 16 kHz) the (stubbed) decoder would emit, from
    meta.duration_ms alone — pure int64 arithmetic, payload never
    read (the same metadata-first discipline as frame_sample_plan /
    resize_plan, completing the image/video/audio planning triple)."""
    n_samples = F.expr("meta.duration_ms * 16000 div 1000").cast("bigint")
    n_segments = F.expr(
        "(meta.duration_ms * 16000 div 1000 + 79999) div 80000"
    ).cast("bigint")
    return df.filter(F.col("kind") == "audio").select(
        "media_id",
        n_samples.alias("n_samples"),
        n_segments.alias("n_segments"),
        (n_samples - (n_segments - 1) * 80000).alias(
            "last_segment_samples"
        ),
    )


def phash63(df: DataFrame) -> DataFrame:
    """(media_id, phash): a 63-bit average-hash over the decoded
    payload — the perceptual-hash SHAPE (decode -> fixed grid of
    intensities -> mean-threshold -> bit fingerprint) with the decode
    stage standing in as sha256 hex digits of the payload text (real
    pixel decoding is stubbed in this container; the grid/threshold/
    fingerprint plumbing is the real, tested part and swaps onto real
    grayscale values unchanged).

    The mean threshold is integer-exact (63*pixel >= sum, no float
    division) and every step is engine-portable, so fingerprints are
    value-checkable digit-for-digit. One projection, no shuffle."""
    pixels = F.transform(
        F.sequence(F.lit(1), F.lit(63)),
        lambda i: F.conv(
            F.substring(F.col("_hex"), i, F.lit(1)), 16, 10
        ).cast("bigint"),
    )
    # sha256 materialized in its own projection — closed over by the
    # lambda it would re-hash the payload once per pixel (63x)
    with_px = df.select(
        F.col("media_id"),
        F.sha2(F.decode(F.col("payload"), "UTF-8"), 256).alias("_hex"),
    ).select(
        F.col("media_id"),
        pixels.alias("_px"),
    ).select(
        "media_id",
        "_px",
        F.aggregate(
            F.col("_px"), F.lit(0).cast("bigint"), lambda a, p: a + p
        ).alias("_sum"),
    )
    phash = F.aggregate(
        F.zip_with(
            F.col("_px"),
            F.sequence(F.lit(0), F.lit(62)),
            lambda p, i: F.when(
                p * 63 >= F.col("_sum"),
                F.pow(F.lit(2.0), i).cast("bigint"),
            ).otherwise(F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda a, b: a + b,
    )
    return with_px.select("media_id", phash.alias("phash"))
