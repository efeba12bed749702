"""Multimodal column plumbing: image/audio/video as opaque binary columns.

Real Spark-side machinery — schema, Arrow batching via mapInPandas,
partition-friendly shapes — with the codec layer faked: no image/audio
libraries are installed, so ``decode_and_featurize`` decodes through
``fake_decode_batch``, a deterministic stand-in with the (bytes -> ndarray)
contract a real decoder (PIL / soundfile / pyav) would keep.

Design for 100 TB of media:
  - binary payloads stay columnar (parquet BYTE_ARRAY) and are never
    collected to the driver;
  - decode/feature-extract runs inside ``mapInPandas`` so each task streams
    Arrow batches: memory is bounded by batch size, not partition size;
  - outputs are fixed-width float vectors -> downstream similarity / dedup
    operators apply unchanged.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.IntegerType(), True),
                    T.StructField("codec", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_DIM = 16


def fake_decode_batch(payloads: pd.Series) -> np.ndarray:
    """Deterministic decode stand-in: bytes -> pseudo-sample array derived
    from the payload content (so tests exercise real data flow, and
    identical payloads featurize identically)."""
    out = np.zeros((len(payloads), 64), dtype=np.float64)
    for i, p in enumerate(payloads):
        if p is None or len(p) == 0:
            continue
        arr = np.frombuffer(p, dtype=np.uint8)
        reps = int(np.ceil(64 / len(arr)))
        out[i] = np.tile(arr, reps)[:64].astype(np.float64) / 255.0
    return out


def decode_and_featurize(df: DataFrame) -> DataFrame:
    """binary payload -> FEATURE_DIM float feature vector per media row.

    Arrow-batched mapInPandas: each batch decodes to a (batch x samples)
    matrix and reduces to per-row moment features (mean/std/quantile bands).
    Schema out: media_id, kind, n_bytes, features array<double>."""
    out_schema = "media_id long, kind string, n_bytes long, features array<double>"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            samples = fake_decode_batch(pdf["payload"])
            qs = np.quantile(samples, np.linspace(0, 1, FEATURE_DIM - 2), axis=1).T
            feats = np.column_stack([samples.mean(axis=1), samples.std(axis=1), qs])
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(lambda p: 0 if p is None else len(p)),
                    "features": list(feats),
                }
            )

    return df.mapInPandas(run, out_schema)


def frame_sample(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame sampling plan: one output row per sampled frame offset,
    computed from metadata only (duration / every_ms) — the decode of each
    sampled frame goes through the same codec seam. Demonstrates the
    explode-by-timeline pattern that keeps per-task memory flat."""
    n_frames = (F.col("meta.duration_ms") / F.lit(every_ms)).cast("int")
    return (
        df.where(F.col("kind") == "video")
        .withColumn("frame_no", F.explode(F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0)))))
        .select(
            "media_id",
            "frame_no",
            (F.col("frame_no") * every_ms).alias("offset_ms"),
            "payload",
        )
    )


def segment_audio(df: DataFrame, window_ms: int = 2000, hop_ms: int = 1000) -> DataFrame:
    """Audio segmentation plan (the Whisper-style window/hop pattern): one
    output row per hop-aligned segment [start, min(start+window, duration)),
    computed from metadata only — a 3-hour recording becomes ~10k segment
    rows with flat per-task memory, and each segment's decode goes through
    the same declared codec seam as every other media op. Overlap
    (window > hop) is the transcription-context pattern; window == hop is
    plain chunking. Segment count = ceil(duration / hop), exact integer
    arithmetic."""
    dur = F.col("meta.duration_ms").cast("long")
    n_segs = F.floor((dur + F.lit(hop_ms - 1).cast("long")) / F.lit(hop_ms)).cast("long")
    return (
        df.where(F.col("kind") == "audio")
        .withColumn(
            "seg_no",
            F.explode(F.sequence(F.lit(0).cast("long"), F.greatest(n_segs - 1, F.lit(0).cast("long")))),
        )
        .select(
            "media_id",
            "seg_no",
            (F.col("seg_no") * hop_ms).cast("long").alias("start_ms"),
            F.least(F.col("seg_no") * hop_ms + F.lit(window_ms).cast("long"), dur)
            .cast("long")
            .alias("end_ms"),
            "payload",
        )
    )
