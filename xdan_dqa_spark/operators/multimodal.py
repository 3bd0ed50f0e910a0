"""Multimodal payload plumbing: opaque binary columns + typed metadata.

The reference lists MULTIMODAL_UNDERSTANDING as a data category
(``src/models.py:6-15``, ``config/category.yaml``) but never touches
bytes. A web-scale training-data pipeline must carry image/audio/video
payloads next to text; this module provides the Spark-side plumbing —
schema, Arrow batch shape, ``mapInPandas`` signatures, partition
behavior — with the codec step STUBBED (this container has no
image/audio libraries). The stub is deterministic, so tests pin the
whole dataflow; swap ``_decode_image_stub`` for a real PIL/ffmpeg call
via ``try_real_decoders()`` on a cluster that ships them.

Layout: payloads stay an opaque ``binary`` column with a sidecar struct
``media_meta(mime, width, height, duration_ms)``. Feature extraction
prunes the payload column immediately after (the same
drop-the-blob-early rule the text pipeline applies to ``html``).
"""

from __future__ import annotations

import importlib.util
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The codec swap-point contract: payload bytes (None/empty allowed) to a
# 1-D uint8 array of decoded samples. Real deployments pass e.g.
# ``lambda b: np.asarray(PIL.Image.open(io.BytesIO(b))).ravel()``.
DecoderFn = Callable[[bytes | None], np.ndarray]

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.IntegerType()),
    ]
)

MEDIA_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("mime", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("byte_entropy", T.DoubleType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)

EMBED_DIM = 16


def try_real_decoders() -> bool:
    """True when a real image codec is importable (not in this sandbox)."""
    try:  # pragma: no cover - container has no PIL
        return importlib.util.find_spec("PIL.Image") is not None
    except ImportError:
        return False


def _decode_image_stub(payload: bytes | None) -> np.ndarray:
    """STUB decode: derives a deterministic pseudo-pixel array from the
    bytes. A real deployment replaces this one function with
    ``PIL.Image.open(io.BytesIO(payload))``; everything downstream
    (batching, schema, pruning) is production-shaped."""
    if not payload:
        return np.zeros(1, dtype=np.uint8)
    return np.frombuffer(payload, dtype=np.uint8)


def _byte_entropy(arr: np.ndarray) -> float:
    counts = np.bincount(arr, minlength=256).astype(np.float64)
    p = counts[counts > 0] / arr.size
    return float(-(p * np.log2(p)).sum())


def _stub_embedding(arr: np.ndarray) -> np.ndarray:
    """Deterministic EMBED_DIM-vector: bucketed byte-histogram, L2-normed —
    the stand-in for a real vision-encoder embedding."""
    hist = np.bincount(arr, minlength=256).astype(np.float64)
    emb = hist.reshape(EMBED_DIM, 256 // EMBED_DIM).sum(axis=1)
    n = np.linalg.norm(emb)
    return (emb / n if n else emb).astype(np.float32)


def media_features(df: DataFrame, payload_col: str = "payload",
                   meta_col: str = "media_meta",
                   decoder: "DecoderFn | None" = None) -> DataFrame:
    """Decode → featurize via ``mapInPandas`` (streaming per-batch iterator:
    only one Arrow batch of payloads is in memory per worker at a time —
    the right shape for multi-MB media blobs, unlike a scalar UDF that
    would buffer whole columns).

    ``decoder`` is the swap point: any ``bytes | None -> np.ndarray``
    (1-D uint8) callable — e.g. a real PIL/ffmpeg decode on a cluster
    that ships codecs. Defaults to the deterministic sandbox stub. Passed
    as a value-captured closure so injection works across Python workers
    (a module-global monkeypatch would only patch the driver process).
    The contract test in tests/test_multimodal.py pins this signature."""
    decode = decoder or _decode_image_stub
    mime = F.col(f"{meta_col}.mime")
    src = df.select("doc_id", mime.alias("mime"), F.col(payload_col).alias("payload"))

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            arrs = [decode(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "mime": pdf["mime"],
                    "n_bytes": [int(a.size) for a in arrs],
                    "byte_entropy": [_byte_entropy(a) for a in arrs],
                    "embedding": [_stub_embedding(a) for a in arrs],
                }
            )

    return src.mapInPandas(featurize, schema=MEDIA_FEATURES_SCHEMA)


def frame_sample(df: DataFrame, every_ms: int = 1000,
                 payload_col: str = "payload",
                 meta_col: str = "media_meta",
                 decoder: "DecoderFn | None" = None) -> DataFrame:
    """Video frame sampling: one row per sampled frame timestamp.

    The timestamp grid is pure Column math (sequence over duration);
    only the (stubbed) per-frame decode is Python. Exploding BEFORE
    decoding keeps each output row small and lets Spark repartition
    frames across executors for the decode stage. ``decoder`` is the
    same ``bytes | None -> np.ndarray`` swap point as media_features."""
    decode = decoder or _decode_image_stub
    frames = df.select(
        "doc_id",
        F.col(f"{meta_col}.duration_ms").alias("duration_ms"),
        F.col(payload_col).alias("payload"),
    ).withColumn(
        "frame_ms",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.coalesce(F.col("duration_ms"), F.lit(0)) - 1, F.lit(0)),
                F.lit(every_ms),
            )
        ),
    )

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("frame_ms", T.IntegerType()),
            T.StructField("frame_checksum", T.LongType()),
        ]
    )

    def decode_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sums = []
            for payload, ms in zip(pdf["payload"], pdf["frame_ms"]):
                arr = decode(payload)
                # STUB "frame": a deterministic slice keyed by timestamp.
                lo = int(ms) % max(arr.size, 1)
                sums.append(int(arr[lo : lo + 64].sum()))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "frame_ms": pdf["frame_ms"],
                 "frame_checksum": sums}
            )

    return frames.mapInPandas(decode_frames, schema=out_schema)
