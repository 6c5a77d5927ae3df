"""Multimodal columns: image/audio/video as opaque ``binary`` + typed
metadata, with the Spark-side plumbing (schema, partitioning, Arrow batch
shape) real and tested. The default codec is a deterministic fake
(seeded from the content hash — this container ships no image/audio
libraries). ``strict=True`` demands a real codec: image decode goes
through PIL when it is importable on the executors (import-guarded), and
raise NotImplementedError otherwise — likewise audio/video, whose
libraries (librosa/ffmpeg) would plug in at the same marked sites.

Pattern: ``mapInPandas`` over a repartitioned DataFrame — each Arrow
batch is a pandas DataFrame whose binary column is bytes; feature
extraction returns fixed-width float arrays. At 100 TB the binary
payloads dominate: repartition by size-classes first so batches stay
within Arrow limits (spark.sql.execution.arrow.maxRecordsPerBatch) and
skewed blobs don't stall a task.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
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


def synth_media(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic fake media table matching MEDIA_SCHEMA (payload =
    seeded bytes; metadata consistent with kind)."""
    rng = np.random.default_rng(seed)
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        payload = rng.bytes(128 + int(rng.integers(0, 256)))
        meta = {
            "width": int(rng.integers(16, 512)) if kind != "audio" else None,
            "height": int(rng.integers(16, 512)) if kind != "audio" else None,
            "sample_rate": 16000 if kind != "image" else None,
            "n_frames": int(rng.integers(1, 100)) if kind == "video" else None,
            "codec": {"image": "jpeg", "audio": "pcm16", "video": "h264"}[kind],
        }
        rows.append((i, kind, bytearray(payload), meta))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def _pil_image():
    """PIL's Image module when installed, else None — the import guard
    that turns ``strict=True`` from a documented stub into a real codec
    where the environment provides one (this container does not)."""
    try:
        from PIL import Image  # noqa: PLC0415

        return Image
    except ImportError:
        return None


def _fake_decode(payload: bytes, dim: int) -> np.ndarray:
    """Deterministic stand-in for the codec: features seeded from the
    content digest (stable across partitioning/executors)."""
    h = hashlib.md5(payload).digest()
    rng = np.random.default_rng(np.frombuffer(h, dtype=np.uint32))
    return rng.normal(size=dim).astype(np.float32)


FEATURE_DIM = 16
FEATURES_SCHEMA = (
    "media_id bigint, kind string, n_bytes int, features array<float>"
)


def extract_features(media: DataFrame, strict: bool = False) -> DataFrame:
    """Decode → fixed-width feature vector via mapInPandas (Arrow batches).

    ``strict=True`` demands a REAL codec: image rows decode through PIL
    when it is importable on the executor (grayscale 4×4 thumbnail →
    the 16-dim feature vector, deterministic), and raise
    NotImplementedError otherwise — likewise for audio/video, whose
    codecs (librosa/ffmpeg) this container never ships. The surrounding
    Spark plumbing (schema, batching, shuffle) is identical on both
    paths and is the tested, real part."""

    def _strict_decode(kind: str, payload: bytes) -> np.ndarray:
        Image = _pil_image()
        if kind == "image" and Image is not None:
            import io  # noqa: PLC0415

            img = Image.open(io.BytesIO(payload)).convert("L")
            side = int(np.sqrt(FEATURE_DIM))
            px = np.asarray(
                img.resize((side, side)), dtype=np.float32
            ).ravel()
            return px / 255.0
        raise NotImplementedError(
            f"real {kind} decode requires "
            + ("PIL" if kind == "image" else "librosa/ffmpeg")
            + " (not installed in this container)"
        )

    def fn(batches):
        for pdf in batches:
            if strict:
                feats = [
                    _strict_decode(k, bytes(p)).tolist()
                    for k, p in zip(pdf["kind"], pdf["payload"])
                ]
            else:
                feats = [
                    _fake_decode(bytes(p), FEATURE_DIM).tolist()
                    for p in pdf["payload"]
                ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(len).astype("int32"),
                    "features": feats,
                }
            )

    return media.mapInPandas(fn, FEATURES_SCHEMA)
