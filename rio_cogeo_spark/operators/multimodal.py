"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed via ``mapInPandas``.

The decode step itself is STUBBED (no image/audio libs in this container)
behind ``DecoderRegistry`` — either a clearly-marked NotImplementedError
or the deterministic fake decoder used by tests — but the Spark-side
plumbing is real: schema contracts, Arrow batch iteration, partition-
preserving mapInPandas, and a frame-sampling operator whose batch shape
is what a real ffmpeg/PIL UDF would see.
"""

from __future__ import annotations

import hashlib
from typing import Callable, Dict, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, mime string, "
    "width int, height int, duration_ms int"
)


def attach_media(docs: DataFrame) -> DataFrame:
    """Derive a deterministic opaque media column from documents: payload
    = utf-8 bytes of the text (stand-in for real image/audio bytes), with
    typed metadata columns — the ingest-side schema contract."""
    kind = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return docs.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.concat(F.lit("application/x-fake-"), kind).alias("mime"),
        (F.col("doc_id") % 640 + 16).cast("int").alias("width"),
        (F.col("doc_id") % 480 + 16).cast("int").alias("height"),
        (F.col("n_chars") * 10).cast("int").alias("duration_ms"),
    )


def _fake_decode(payload: bytes, width: int, height: int) -> np.ndarray:
    """Deterministic fake decoder: md5-seeded gradient 'image' (H, W).
    Replace with PIL/ffmpeg in a real deployment."""
    seed = int.from_bytes(hashlib.md5(payload).digest()[:4], "big")
    h = max(int(height) // 16, 1)
    w = max(int(width) // 16, 1)
    base = (np.arange(h * w, dtype=np.int64).reshape(h, w) + seed) % 256
    return base


def real_decode(payload: bytes, width: int, height: int) -> np.ndarray:
    """The production decode hook. Image/audio libraries are not available
    in this environment — see module docstring."""
    raise NotImplementedError(
        "media decoding requires PIL/ffmpeg, not present in this container; "
        "use decoder='fake' for the deterministic test decoder"
    )


DecoderRegistry: Dict[str, Callable[[bytes, int, int], np.ndarray]] = {
    "fake": _fake_decode,
    "real": real_decode,
}

FEATURE_SCHEMA = (
    "media_id long, kind string, n_bytes int, checksum string, "
    "feat_mean double, feat_std double, thumb array<long>"
)


def extract_features(media: DataFrame, decoder: str = "fake") -> DataFrame:
    """Decode → feature-extract → thumbnail, one Arrow batch at a time via
    ``mapInPandas`` (partition-preserving; no shuffle). Features: byte
    stats of the decoded grid + a thumb_px² mean-pooled thumbnail."""
    decode = DecoderRegistry[decoder]

    def _proc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_bytes": pdf["payload"].map(len).astype("int32"),
                "checksum": pdf["payload"].map(
                    lambda b: hashlib.md5(b).hexdigest()
                ),
                "feat_mean": np.zeros(len(pdf)),
                "feat_std": np.zeros(len(pdf)),
                "thumb": [None] * len(pdf),
            }
            means, stds, thumbs = [], [], []
            for payload, w, h in zip(pdf["payload"], pdf["width"], pdf["height"]):
                img = decode(payload, w, h).astype(np.float64)
                means.append(round(float(img.mean()), 6))
                stds.append(round(float(img.std()), 6))
                # mean-pool to a 4 x 4 grid (pad-safe)
                yy = np.linspace(0, img.shape[0], 5, dtype=int)
                xx = np.linspace(0, img.shape[1], 5, dtype=int)
                t = np.array(
                    [
                        [int(img[yy[i]:max(yy[i + 1], yy[i] + 1),
                                 xx[j]:max(xx[j + 1], xx[j] + 1)].mean())
                         for j in range(4)]
                        for i in range(4)
                    ],
                    dtype=np.int64,
                )
                thumbs.append(t.reshape(-1))
            out["feat_mean"] = means
            out["feat_std"] = stds
            out["thumb"] = thumbs
            yield pd.DataFrame(out)

    return media.mapInPandas(_proc, FEATURE_SCHEMA)


def sample_frames(media: DataFrame) -> DataFrame:
    """Frame-sampling plumbing for video rows: explode into (media_id,
    frame_idx, t_ms) — the shape a real ffmpeg seek UDF consumes. The
    decode of each frame stays behind the registry stub."""
    n_frames = F.least(
        F.floor(F.col("duration_ms") / 1000).cast("int") + 1, F.lit(8)
    )
    return (
        media.filter(F.col("kind") == "video")
        .withColumn("frame_idx", F.explode(F.sequence(F.lit(0), n_frames - 1)))
        .select(
            "media_id",
            "frame_idx",
            (F.col("frame_idx") * 1000).alias("t_ms"),
        )
    )
