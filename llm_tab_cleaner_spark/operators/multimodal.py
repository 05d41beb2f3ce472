"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

A 100 TB training-data pipeline carries media as `binary` payloads with a
schema'd metadata struct; decode/resize/frame-sample run as Arrow-batched
``mapInPandas`` stages. The image/audio codecs are NOT in this container, so
the decode kernel is stubbed two ways (both clearly marked):

* ``decode="strict"`` raises NotImplementedError — the production hook where
  Pillow/torchaudio/pyav plug in;
* ``decode="fake"`` derives a deterministic small tensor from the payload
  bytes — so the Spark-side plumbing (schema, batch shape, partitioning,
  UDF signature) is fully real and TESTED end-to-end.

Reference analog: multimodal_cleaning.py treats text/NaN cleanup per mode;
this module is the genuinely-multimodal extension the north-star pipeline
needs (task brief: "make the Spark-side plumbing real and tested").

No query or public API reaches this module; SURVEY row X18 (multimodal
binary columns) is why it stays.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), False),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                    T.StructField("n_frames", T.IntegerType(), True),
                    T.StructField("codec", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_SCHEMA = (
    "media_id long, media_type string, n_bytes long, payload_sha256 string, "
    "byte_entropy double, feature array<float>"
)


def _fake_decode(payload: bytes, dim: int = 8) -> np.ndarray:
    """Deterministic stand-in for a real decoder: a dim-float 'embedding'
    derived from the payload digest. STUB — replace with the real codec."""
    digest = hashlib.sha256(payload).digest()
    raw = np.frombuffer(digest[: dim * 4], dtype=np.uint32)
    return (raw / np.float64(2**32)).astype(np.float32)


def _entropy(payload: bytes) -> float:
    if not payload:
        return 0.0
    counts = np.bincount(np.frombuffer(payload, dtype=np.uint8), minlength=256)
    p = counts[counts > 0] / len(payload)
    return float(-(p * np.log2(p)).sum())


def extract_media_features(df: DataFrame, decode: str = "fake", feature_dim: int = 8) -> DataFrame:
    """Per-media features via mapInPandas: byte stats natively-derivable, a
    decode-based feature vector via the (stubbed) decoder. Arrow moves the
    binary column in batches — no per-row serialization."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            if decode == "strict":
                raise NotImplementedError(
                    "real media decode requires Pillow/torchaudio/pyav — not in this image"
                )
            feats = [list(map(float, _fake_decode(p, feature_dim))) for p in payloads]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": payloads.str.len().astype("int64"),
                    "payload_sha256": [hashlib.sha256(p).hexdigest() for p in payloads],
                    "byte_entropy": [round(_entropy(p), 6) for p in payloads],
                    "feature": feats,
                }
            )

    return df.mapInPandas(op, schema=FEATURE_SCHEMA)


def frame_sample_plan(df: DataFrame, every_n: int = 10) -> DataFrame:
    """Frame-sampling PLAN for video rows: expands (media_id, n_frames) into
    the frame indices a decoder would extract — pure native exprs (sequence
    is not a lambda HOF), so the work distributes before any decode."""
    frames = F.sequence(
        F.lit(0), F.greatest(F.col("meta.n_frames") - 1, F.lit(0)), F.lit(every_n)
    )
    return (
        df.filter(F.col("media_type") == "video")
        .select("media_id", F.explode(frames).alias("frame_index"))
    )


def media_size_stats(df: DataFrame) -> DataFrame:
    """Native byte-size profile per media type (no UDF)."""
    return df.groupBy("media_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min(F.length("payload")).alias("min_bytes"),
        F.max(F.length("payload")).alias("max_bytes"),
        F.round(F.avg(F.length("payload")), 2).alias("avg_bytes"),
    )


def make_media_fixture(n: int = 64, seed: int = 42) -> pd.DataFrame:
    """Deterministic synthetic media table (binary payloads, no codecs)."""
    rng = np.random.default_rng(seed)
    rows = []
    types = ["image", "audio", "video"]
    for i in range(n):
        mt = types[i % 3]
        payload = rng.integers(0, 256, size=int(rng.integers(64, 512)), dtype=np.uint8).tobytes()
        meta = {
            "width": int(rng.integers(16, 512)) if mt == "image" else None,
            "height": int(rng.integers(16, 512)) if mt == "image" else None,
            "sample_rate": 16000 if mt == "audio" else None,
            "n_frames": int(rng.integers(1, 300)) if mt == "video" else None,
            "codec": {"image": "png", "audio": "pcm", "video": "h264"}[mt],
        }
        rows.append((i, mt, payload, meta))
    return pd.DataFrame(rows, columns=["media_id", "media_type", "payload", "meta"])
