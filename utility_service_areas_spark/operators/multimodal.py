"""Multimodal columns (SURVEY.md §2.5): image/audio/video as opaque
binary columns with typed metadata, plus decode / frame-sample /
feature-extract stages.

No media library (PIL/ffmpeg/librosa) is a dependency, so decoding
uses `fake_decode_meta`, a deterministic md5-based stand-in with the
contract a real decoder has (bytes, mime -> metadata dict); the
Spark-side plumbing — schema, Arrow batch shape, partitioning, UDF
signatures — is real and fully tested. Swapping the fake for PIL is a
one-function change with no plan-shape impact.

Scale: media bytes stay in executor-side Arrow batches end-to-end
(mapInPandas); metadata-only stages (frame sampling, filtering by
dimensions) operate on the typed columns without touching bytes, so
Catalyst prunes the heavy binary column away unless a stage needs it.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

MEDIA_META_SCHEMA = StructType(
    [
        StructField("mime", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),
    ]
)

MIMES = ("image/png", "audio/wav", "video/mp4")


def attach_media(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Deterministic fake media: the text bytes stand in for a blob;
    mime rotates by id. Real pipelines read (path, bytes) via
    spark.read.format('binaryFile')."""
    mime = F.element_at(
        F.array(*[F.lit(m) for m in MIMES]), (F.col(id_col) % 3 + 1).cast("int")
    )
    return df.select(
        F.col(id_col),
        F.encode(F.col(text_col), "utf-8").alias("media_bytes"),
        mime.alias("mime"),
    )


def fake_decode_meta(blob: bytes, mime: str) -> dict:
    """Deterministic md5-derived metadata with the same contract a
    real decoder would have (pure function bytes→meta)."""
    h = hashlib.md5(blob).hexdigest()
    width = 1 + int(h[0:4], 16) % 1024
    height = 1 + int(h[4:8], 16) % 1024
    duration = 1 + int(h[8:12], 16) % 60_000 if mime.startswith(("audio", "video")) else 0
    return {"mime": mime, "width": width, "height": height, "duration_ms": duration}


def decode_media(df: DataFrame, bytes_col: str = "media_bytes", mime_col: str = "mime") -> DataFrame:
    """Arrow-batched decode stage: bytes → typed metadata struct."""
    out_schema = StructType(
        df.schema.fields + [StructField("meta", MEDIA_META_SCHEMA)]
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = [
                fake_decode_meta(b, m)
                for b, m in zip(pdf[bytes_col], pdf[mime_col])
            ]
            pdf = pdf.copy()
            pdf["meta"] = [
                (d["mime"], d["width"], d["height"], d["duration_ms"]) for d in metas
            ]
            yield pdf

    return df.mapInPandas(decode, out_schema)


def sample_frames(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame sampling as pure plan logic: one row per sampled
    timestamp (sequence + explode — no decode needed for scheduling;
    a downstream mapInPandas would decode the chosen frames)."""
    frames = F.sequence(
        F.lit(0), F.greatest(F.col("meta.duration_ms") - 1, F.lit(0)), F.lit(every_ms)
    )
    return (
        df.filter(F.col("meta.mime").startswith("video"))
        .withColumn("frame_ts_ms", F.explode(frames))
        .select(df.columns[0], "frame_ts_ms")
    )


FEATURE_DIM = 8


def extract_features(df: DataFrame, bytes_col: str = "media_bytes") -> DataFrame:
    """Feature extraction: bytes → fixed-dim float vector (md5-derived
    fake embedding; a real model would run per Arrow batch here)."""
    id_col = df.columns[0]
    out_schema = StructType(
        [
            df.schema[id_col],
            StructField("features", ArrayType(FloatType())),
        ]
    )

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for b in pdf[bytes_col]:
                d = hashlib.md5(b).digest()
                feats.append([(d[i] - 128) / 128.0 for i in range(FEATURE_DIM)])
            yield pd.DataFrame({id_col: pdf[id_col], "features": feats})

    return df.mapInPandas(featurize, out_schema)
