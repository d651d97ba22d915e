"""Multimodal column plumbing: opaque binary media + typed metadata.

Images/audio/video ride as ``binary`` columns with a metadata struct —
exactly how a 100 TB multimodal training table stores them (payload stays
columnar, codecs run executor-side in Arrow-batched UDFs). The decode
kernels here are STUBS (real media codecs such as PIL/ffmpeg are out
of scope — BASELINE "stub the decode step, make the Spark-side plumbing
real"): the deterministic fake decoder derives width/height/duration
from the payload bytes, so partitioning, schema, UDF signatures and
batch shapes are all real and tested.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

__all__ = ["MEDIA_SCHEMA", "decode_media_metadata"]

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
