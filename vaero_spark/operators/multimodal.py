"""Multimodal (image/audio/video) column operators.

Media are opaque ``binary`` payloads with typed metadata (SURVEY.md
§2.6; the reference is text-only). The Spark-side plumbing — binary
columns through Arrow, `mapInPandas` batch shapes, schema evolution —
is real and tested; no codec is wired in (the package depends on no
image/audio library), so the operators read payload bytes, never
decoded pixels or samples.

Operators:

- :func:`extract_metadata` — per-payload byte length + md5 checksum via
  ``mapInPandas`` (hashlib over real bytes, vectorized per Arrow batch).
- :func:`sample_frames` — "video frame sampling": every ``stride``-th
  fixed-size byte window of the payload, one output row per frame, md5
  per frame. The 1→N row shape of real frame extraction.
- :func:`extract_features` — fixed-width feature vector per payload
  (byte histogram moments) — the shape of an embedding-extraction
  stage, deterministic and library-free.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

FRAME_BYTES = 16
FRAME_STRIDE = 4  # sample every 4th frame

META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("checksum", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)

FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_md5", T.StringType()),
    ]
)

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("byte_sum", T.LongType()),
        T.StructField("byte_min", T.IntegerType()),
        T.StructField("byte_max", T.IntegerType()),
    ]
)


def extract_metadata(media: DataFrame) -> DataFrame:
    """Byte length + md5 checksum per payload, via mapInPandas (Arrow
    binary batches; hashlib is per-payload, not per-row-Python in the
    Spark sense — the loop is over an in-memory Arrow batch)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                    "checksum": pdf["payload"].map(
                        lambda b: hashlib.md5(bytes(b)).hexdigest()
                    ),
                    "width": pdf["width"],
                    "height": pdf["height"],
                }
            )

    return media.mapInPandas(fn, META_SCHEMA)


def sample_frames(
    media: DataFrame, frame_bytes: int = FRAME_BYTES, stride: int = FRAME_STRIDE
) -> DataFrame:
    """1→N frame sampling: frame f = payload[f*frame_bytes : +frame_bytes]
    for f = 0, stride, 2·stride… (only full frames). Real frame
    extraction has exactly this shape — per-input fan-out with bounded
    memory per batch."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, hashes = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                for f in range(0, len(b) // frame_bytes, stride):
                    chunk = b[f * frame_bytes : (f + 1) * frame_bytes]
                    ids.append(doc_id)
                    idxs.append(f)
                    hashes.append(hashlib.md5(chunk).hexdigest())
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_md5": pd.Series(hashes, dtype="object"),
                }
            )

    return media.mapInPandas(fn, FRAMES_SCHEMA)


def extract_features(media: DataFrame) -> DataFrame:
    """Deterministic fixed-width 'features' per payload (byte stats) —
    the embedding-extraction stage shape, minus the model."""
    import numpy as np

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                a = np.frombuffer(bytes(payload), dtype=np.uint8)
                rows.append(
                    (
                        doc_id,
                        int(a.size),
                        int(a.sum()),
                        int(a.min()) if a.size else 0,
                        int(a.max()) if a.size else 0,
                    )
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "n_bytes", "byte_sum", "byte_min", "byte_max"]
            ).astype(
                {
                    "doc_id": "int64",
                    "n_bytes": "int64",
                    "byte_sum": "int64",
                    "byte_min": "int32",
                    "byte_max": "int32",
                }
            )

    return media.mapInPandas(fn, FEATURES_SCHEMA)
