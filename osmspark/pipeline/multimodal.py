"""Multimodal column plumbing: opaque binary media + typed metadata.

Images/audio/video ride as ``binary`` columns with a metadata struct —
exactly how a 100 TB multimodal training table stores them (payload stays
columnar, codecs run executor-side in Arrow-batched UDFs). The decode
kernels here are STUBS (real media codecs such as PIL/ffmpeg are out
of scope — BASELINE "stub the decode step, make the Spark-side plumbing
real"): the deterministic fake decoder derives width/height/duration and a
feature vector from the payload bytes, so partitioning, schema, UDF
signatures and batch shapes are all real and tested.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

__all__ = ["MEDIA_SCHEMA", "synthesize_media", "decode_media_metadata",
           "extract_features", "sample_frames"]

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),      # image|audio|video
    T.StructField("payload", T.BinaryType(), False),   # opaque encoded bytes
    T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
])

META_OUT_SCHEMA = T.StructType(MEDIA_SCHEMA.fields + [
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("duration_ms", T.IntegerType(), True),
])

_FEATURE_DIM = 16


def _stub_dims(payload: bytes, kind: str):
    """Deterministic fake decode: dims/duration from a payload digest."""
    d = hashlib.sha256(payload).digest()
    w = 64 + d[0] % 192
    h = 64 + d[1] % 192
    dur = 1000 + int.from_bytes(d[2:4], "big") % 59000
    if kind == "image":
        return w, h, None
    if kind == "audio":
        return None, None, dur
    return w, h, dur  # video


def synthesize_media(spark, n: int, seed: int = 42) -> DataFrame:
    """Deterministic media table (payload = seeded bytes, kind round-robin)."""
    kinds = ["image", "audio", "video"]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                rng = np.random.default_rng([seed, int(i)])
                payload = rng.integers(0, 256, 256 + int(i) % 512,
                                       dtype=np.uint8).tobytes()
                rows.append({
                    "media_id": int(i),
                    "kind": kinds[int(i) % 3],
                    "payload": payload,
                    "meta": {"source": f"synth-{int(i) % 7}"},
                })
            yield pd.DataFrame(rows)

    return spark.range(n).mapInPandas(gen, MEDIA_SCHEMA)


def decode_media_metadata(media: DataFrame) -> DataFrame:
    """Arrow-batched 'decode' → width/height/duration columns."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dims = [_stub_dims(bytes(p), k)
                    for p, k in zip(pdf["payload"], pdf["kind"])]
            pdf = pdf.assign(
                width=pd.array([d[0] for d in dims], dtype="Int32"),
                height=pd.array([d[1] for d in dims], dtype="Int32"),
                duration_ms=pd.array([d[2] for d in dims], dtype="Int32"),
            )
            yield pdf

    return media.mapInPandas(decode, META_OUT_SCHEMA)


def extract_features(media: DataFrame, dim: int = _FEATURE_DIM) -> DataFrame:
    """payload → deterministic float feature vector (stub embedding);
    output feeds directly into the ANN operators."""

    @F.pandas_udf(T.ArrayType(T.FloatType()))
    def feats(payloads: pd.Series) -> pd.Series:
        out = []
        for p in payloads:
            d = hashlib.sha256(bytes(p)).digest()
            v = np.frombuffer((d * ((dim * 4) // len(d) + 1))[: dim * 4],
                              dtype=np.uint32).astype(np.float32)
            v = (v / np.float32(2**32)) * 2 - 1
            out.append(v / np.linalg.norm(v))
        return pd.Series(out)

    return media.withColumn("features", feats(F.col("payload")))


def sample_frames(media: DataFrame, every_ms: int = 5000) -> DataFrame:
    """Video frame sampling plumbing: one row per sampled frame timestamp
    (decode stub — frame payloads are deterministic slices)."""
    with_meta = decode_media_metadata(media.filter(F.col("kind") == "video"))
    frames = F.sequence(F.lit(0), F.col("duration_ms"), F.lit(every_ms))
    return (with_meta
            .withColumn("frame_ts_ms", F.explode(frames))
            .select("media_id", "frame_ts_ms", "width", "height"))
