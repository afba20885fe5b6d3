"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride as `binary` columns with a metadata struct; the
decode / feature-extract kernels run as Arrow-batched `mapInPandas`.  The
image/audio codec libraries are NOT in this container, so the actual
decode step is STUBBED behind `decode_image_stub` — a deterministic fake
(shape + checksum features derived from the bytes) — while every piece of
Spark plumbing (schema, batch shape, partitioning, UDF signature) is real
and tested.  Swapping the stub for PIL/ffmpeg is a one-function change.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

FEATURE_SCHEMA_SQL = ("media_id long, kind string, n_bytes int, "
                      "checksum string, feat array<float>")


def decode_image_stub(payload: bytes) -> list[float]:
    """Deterministic fake 8-dim feature vector from the payload bytes.

    REAL decode (PIL.Image.open -> resize -> normalize) goes here when
    the codec libs exist; raise-path kept for honesty:
    `raise NotImplementedError("image codecs not present in sandbox")`.
    """
    h = hashlib.sha256(payload or b"").digest()
    return [v / 255.0 for v in struct.unpack("8B", h[:8])]


def extract_features(media: DataFrame) -> DataFrame:
    """binary payloads -> feature vectors via Arrow-batched mapInPandas.

    Batch shape: each pandas chunk carries the full row set of its Arrow
    batch; bytes never round-trip through the driver.  Partitioning is
    inherited — callers repartition by media_id range for even batches.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [decode_image_stub(p if p is not None else b"")
                     for p in pdf["payload"]]
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_bytes": [len(p) if p is not None else 0
                            for p in pdf["payload"]],
                "checksum": [hashlib.sha256(p or b"").hexdigest()[:16]
                             for p in pdf["payload"]],
                "feat": feats,
            })

    return media.mapInPandas(kernel, schema=FEATURE_SCHEMA_SQL)


RESIZED_SCHEMA_SQL = ("media_id long, kind string, payload binary, "
                      "width int, height int, checksum string")


def resize_images(media: DataFrame, width: int = 64,
                  height: int = 64) -> DataFrame:
    """Resize plumbing: mapInPandas 1:1 transform that rewrites payload
    + dimensions.  The pixel resample is STUBBED deterministically
    (sha256-keyed byte stretch to the target size) — swap in
    PIL.Image.resize when codecs exist; the batch shape, binary
    round-trip, and metadata rewrite are the real, tested parts."""
    target = width * height * 3

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_payload = []
            for p in pdf["payload"]:
                seed = hashlib.sha256(p or b"").digest()
                reps = target // len(seed) + 1
                out_payload.append((seed * reps)[:target])
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "payload": out_payload,
                "width": width,
                "height": height,
                "checksum": [hashlib.sha256(p).hexdigest()[:16]
                             for p in out_payload],
            })

    return media.mapInPandas(kernel, schema=RESIZED_SCHEMA_SQL)


FRAME_SCHEMA_SQL = ("media_id long, frame_idx int, n_frames int, "
                    "frame_checksum string")


def sample_frames(media: DataFrame, every_n: int = 4) -> DataFrame:
    """Frame sampling plumbing: mapInPandas 1 -> N transform — each
    video row fans out to one row per sampled frame (indices 0, every_n,
    2*every_n, ...).  Frame DECODE is stubbed (checksum of payload +
    frame index, deterministic and SQL-reproducible); the fan-out batch
    shape is the real part a video pipeline needs."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, p, meta in zip(pdf["media_id"], pdf["payload"],
                                    pdf["meta"]):
                n = int(meta["n_frames"] or 0)
                for i in range(0, n, every_n):
                    tag = (p or b"") + b":" + str(i).encode()
                    rows.append({
                        "media_id": mid, "frame_idx": i, "n_frames": n,
                        "frame_checksum":
                            hashlib.sha256(tag).hexdigest()[:16]})
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_idx", "n_frames",
                               "frame_checksum"])

    return media.mapInPandas(kernel, schema=FRAME_SCHEMA_SQL)


def synthesize_video(spark, docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Deterministic fake video table (payload = utf-8 text bytes,
    n_frames a closed form of the text length — SQL-reproducible)."""
    from pyspark.sql import functions as F
    return docs.select(
        F.col(id_col).alias("media_id"),
        F.lit("video").alias("kind"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.struct(
            F.lit(640).alias("width"),
            F.lit(480).alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            ((F.length(text_col) % 13) + 2).cast("int").alias("n_frames"),
            F.lit("video/fake").alias("mime"),
        ).alias("meta"))


def synthesize_media(spark, docs: DataFrame,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Deterministic fake media table: payload = utf-8 bytes of the doc
    text (stands in for encoded image bytes); metadata derived from
    lengths.  Lets the plumbing be exercised with no codec libs."""
    from pyspark.sql import functions as F
    return docs.select(
        F.col(id_col).alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.struct(
            (F.length(text_col) % 640).cast("int").alias("width"),
            (F.length(text_col) % 480).cast("int").alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(1).cast("int").alias("n_frames"),
            F.lit("image/fake").alias("mime"),
        ).alias("meta"))
