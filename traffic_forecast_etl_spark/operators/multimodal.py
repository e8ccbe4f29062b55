"""Multimodal column support (engine extension).

Images/audio/video are carried as opaque ``binary`` columns plus a
typed metadata struct — the layout every large multimodal pipeline
uses (parquet stores the bytes inline or as references; Spark treats
them as first-class BinaryType values).

The decode/feature kernels run as Arrow-batched ``mapInPandas`` so
each Python worker sees columnar batches, not rows. The actual
codec calls (PIL/librosa/ffmpeg) are NOT in this container, so the
decode step is stubbed: ``decode_stub_features`` computes real,
deterministic features of the *bytes* (length, checksum, fake
dimensions derived from content) with the production-shaped
plumbing — schema, batching, partitioning — all real and tested.
Swap ``_decode_one`` for a real codec to productionize.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("checksum32", T.LongType()),
        T.StructField("est_width", T.IntegerType()),
        T.StructField("est_height", T.IntegerType()),
    ]
)


def synthesize_media(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Build a multimodal table from documents: UTF-8 bytes of the text
    as the opaque payload + a typed metadata struct. Stands in for a
    real (bytes, metadata) ingest; schema and plan shape are the
    production ones."""
    payload = F.encode(F.col(text_col), "UTF-8")
    meta = F.struct(
        F.lit("image").alias("media_type"),
        F.lit("fake/raw").alias("format"),
        (F.length(F.col(text_col)) % 640 + 1).cast("int").alias("width"),
        (F.length(F.col(text_col)) % 480 + 1).cast("int").alias("height"),
        F.lit(None).cast("int").alias("sample_rate"),
        F.lit(None).cast("long").alias("duration_ms"),
    )
    return df.select(
        F.col(id_col).alias("doc_id"), payload.alias("content"), meta.alias("media_meta")
    )


def _decode_one(buf: bytes) -> dict:
    """STUB decode kernel. Deterministic features of the raw bytes —
    replace with a real codec (PIL.Image.open etc.) in production.
    Raises nothing here by design; a strict variant is below."""
    checksum = 0
    for i, b in enumerate(buf[:4096]):
        checksum = (checksum * 31 + b) & 0xFFFFFFFF
    return {
        "byte_len": len(buf),
        "checksum32": checksum,
        "est_width": (len(buf) % 640) + 1,
        "est_height": (len(buf) % 480) + 1,
    }


def decode_stub_features(df: DataFrame, content_col: str = "content", id_col: str = "doc_id") -> DataFrame:
    """Feature extraction over binary media via Arrow-batched
    mapInPandas: each batch is decoded in vectorized Python, output is
    a typed feature table. Partition count is preserved — at 100 TB,
    repartition upstream so each task handles ~128 MB of payload."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [_decode_one(b if b is not None else b"") for b in pdf[content_col]]
            out = pd.DataFrame(feats)
            out.insert(0, "doc_id", pdf[id_col].values)
            yield out

    return df.select(id_col, content_col).mapInPandas(extract, FEATURE_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("content", T.BinaryType()),
        T.StructField("out_width", T.IntegerType()),
        T.StructField("out_height", T.IntegerType()),
        T.StructField("out_len", T.LongType()),
    ]
)


def resize_stub(
    df: DataFrame,
    target_w: int,
    target_h: int,
    content_col: str = "content",
    meta_col: str = "media_meta",
    id_col: str = "doc_id",
) -> DataFrame:
    """'Resize' binary media to target dimensions via Arrow-batched
    mapInPandas — binary in, binary out, the exact plumbing of a real
    image-resize pass (swap the kernel body for PIL's
    ``Image.resize`` to productionize).

    STUB kernel: keeps every k-th payload byte with
    ``k = max(1, in_pixels // out_pixels)`` — deterministic and
    SQL-replicable, so the m3 catalog query can oracle-check the size
    arithmetic while the byte-level behavior is pinned in pytest.
    Output length is ``ceil(len/k)``, mirroring how a real resize
    scales data volume with the pixel ratio."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        out_px = max(target_w * target_h, 1)
        for pdf in batches:
            rows = []
            for did, buf, w, h in zip(
                pdf["doc_id"], pdf["__buf"], pdf["__w"], pdf["__h"]
            ):
                buf = buf if buf is not None else b""
                in_px = max(int(w) * int(h), 1)
                keep = max(1, in_px // out_px)
                out = bytes(buf[::keep])
                rows.append((int(did), out, target_w, target_h, len(out)))
            yield pd.DataFrame(
                rows, columns=["doc_id", "content", "out_width", "out_height", "out_len"]
            )

    flat = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(content_col).alias("__buf"),
        F.col(f"{meta_col}.width").alias("__w"),
        F.col(f"{meta_col}.height").alias("__h"),
    )
    return flat.mapInPandas(kernel, RESIZED_SCHEMA)


def frame_sample(
    df: DataFrame, content_col: str = "content", id_col: str = "doc_id", every_n_bytes: int = 256
) -> DataFrame:
    """'Frame sampling' over the opaque payload: emit one row per
    sampled offset (stand-in for video frame extraction; the explode
    pattern and output schema are the real ones). Native explode —
    no Python."""
    n_frames = F.greatest(F.floor(F.length(content_col) / every_n_bytes), F.lit(1))
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.sequence(F.lit(0), n_frames.cast("int") - 1)).alias("frame_idx"),
        F.length(content_col).alias("byte_len"),
    ).withColumn("byte_offset", F.col("frame_idx") * every_n_bytes)
