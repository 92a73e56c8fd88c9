"""Multimodal column plumbing: image/audio/video as opaque `binary` columns
with typed metadata, processed by Arrow-batched mapInPandas stages.

The container has no image/audio codecs, so the DECODE step is stubbed two
ways (clearly marked): `strict=True` raises NotImplementedError (the prod
hook for a real decoder), `strict=False` produces a deterministic fake
feature vector from the bytes so the Spark-side plumbing — schema,
partitioning, UDF signature, Arrow batch shape — is real and testable.

Scale notes: binary payloads ride the shuffle at full weight — the stages
below are designed so payloads are touched exactly once (mapInPandas over the
scan, no payload-carrying join), metadata-only columns flow onward, and
`spark.sql.execution.arrow.maxRecordsPerBatch` bounds batch memory for
multi-MB blobs (set it ~32-128 for video frames).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = "media_id string, feature array<float>, decoder string"


def media_metadata(df: DataFrame, id_col: str, bin_col: str) -> DataFrame:
    """Typed metadata over an opaque binary column — pure JVM expressions
    except the magic sniff (first bytes via substring on binary is JVM-side
    too; kind mapping stays in SQL)."""
    head = F.hex(F.substring(F.col(bin_col), 1, 4))
    return df.select(
        F.col(id_col).cast("string").alias("media_id"),
        F.length(F.col(bin_col)).cast("long").alias("n_bytes"),
        head.alias("magic"),
        F.when(head.startswith("FFD8FF"), "image/jpeg")
        .when(head.startswith("89504E47"), "image/png")
        .when(head.startswith("47494638"), "image/gif")
        .when(head.startswith("52494646"), "audio/wav-or-avi")
        .when(head.startswith("494433"), "audio/mp3")
        .otherwise("application/octet-stream")
        .alias("media_kind"),
        F.sha1(F.col(bin_col)).alias("sha1"),
    )


def decode_stub(payload: bytes, dims: int = 8) -> list[float]:
    """STUB decoder: deterministic fake features from the byte content.
    A real deployment replaces this with PIL/ffmpeg decode + model features.
    Kept deterministic (sha-seeded) so tests pin exact outputs."""
    h = hashlib.sha256(payload).digest()
    arr = np.frombuffer(h[: dims * 4], dtype=np.uint32).astype(np.float64)
    return (arr / np.float64(2**32)).astype(np.float32).tolist()


def feature_extract(df: DataFrame, id_col: str, bin_col: str,
                    dims: int = 8, strict: bool = False) -> DataFrame:
    """mapInPandas feature extraction over binary payloads: payload touched
    once, output is metadata-sized."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if strict:
            raise NotImplementedError(
                "no image/audio codec in this environment — plug a real "
                "decoder here (PIL.Image.open / av.open) for production"
            )
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf[id_col].astype(str),
                    "feature": [
                        decode_stub(bytes(b), dims) if b is not None else None
                        for b in pdf[bin_col]
                    ],
                    "decoder": "stub-sha256",
                }
            )

    return df.select(id_col, bin_col).mapInPandas(run, schema=FEATURE_SCHEMA)


def frame_sample(df: DataFrame, id_col: str, bin_col: str,
                 every_n_bytes: int = 4096, max_frames: int = 4) -> DataFrame:
    """'Frame sampling' plumbing demo: emits ≤max_frames byte-slices per blob
    (one output row per frame — the UDTF fan-out shape a real video sampler
    has). Slice boundaries are deterministic."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, b in zip(pdf[id_col].astype(str), pdf[bin_col]):
                if b is None:
                    continue
                b = bytes(b)
                for i in range(min(max_frames, max(1, len(b) // every_n_bytes))):
                    chunk = b[i * every_n_bytes : (i + 1) * every_n_bytes]
                    rows.append(
                        {"media_id": mid, "frame_no": i,
                         "frame_sha1": hashlib.sha1(chunk).hexdigest(),
                         "frame_bytes": len(chunk)}
                    )
            yield pd.DataFrame(rows, columns=["media_id", "frame_no", "frame_sha1", "frame_bytes"])

    return df.select(id_col, bin_col).mapInPandas(
        run, schema="media_id string, frame_no int, frame_sha1 string, frame_bytes long"
    )
