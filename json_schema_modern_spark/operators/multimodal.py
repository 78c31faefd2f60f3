"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed through Arrow-batched mapInPandas.

The Spark-side contract is real and tested — schema, partitioning, UDF
signatures, batch shapes. The codec step itself is STUBBED (this container
has no image/audio libraries): `decode_fn=None` uses a deterministic fake
that derives "features" from the bytes, and a real deployment passes e.g.
a Pillow/torchaudio-backed callable with the same (bytes → np.ndarray)
signature.  Nothing else changes at 100 TB: mapInPandas streams Arrow
record batches, so peak memory is one batch per core, and binary payloads
never pass through Python row-by-row.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def synthetic_media_df(spark, n_rows: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic fake media table for plumbing tests (payload bytes are
    a hash-stream; metadata consistent with `kind`)."""
    kinds = F.element_at(F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
                         (F.pmod(F.col("id"), F.lit(3)) + 1).cast("int"))
    payload = F.sha2(F.concat(F.lit(f"media-{seed}-"), F.col("id").cast("string")), 256).cast("binary")
    return spark.range(n_rows).select(
        F.format_string("m-%06d", F.col("id")).alias("media_id"),
        kinds.alias("kind"),
        payload.alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.when(kinds == "image", (F.pmod(F.col("id"), F.lit(4)) * 128 + 256).cast("int")).alias("width"),
        F.when(kinds == "image", (F.pmod(F.col("id"), F.lit(3)) * 128 + 256).cast("int")).alias("height"),
        F.when(kinds != "image", (F.pmod(F.col("id"), F.lit(100)) * 250 + 1000).cast("long")).alias("duration_ms"),
    )


def _stub_decode(payload: bytes, n_features: int) -> np.ndarray:
    """Deterministic fake 'decoder': features from byte statistics.
    Replace with a real codec in production — same signature."""
    if payload is None or len(payload) == 0:
        raise NotImplementedError("real media decoding requires codec libraries")
    b = np.frombuffer(payload, dtype=np.uint8).astype(np.float64)
    reps = int(np.ceil(n_features / len(b)))
    tiled = np.tile(b, reps)[:n_features]
    return (tiled - 127.5) / 127.5


def extract_features(
    df: DataFrame,
    n_features: int = 16,
    decode_fn: Callable[[bytes, int], np.ndarray] | None = None,
    batch_cols: list[str] | None = None,
) -> DataFrame:
    """media → (media_id, kind, features array<double>) via mapInPandas.

    Arrow batches in/out; the decode callable runs per element inside a
    vectorized batch loop (numpy), never per Spark row."""
    decode = decode_fn or _stub_decode
    cols = batch_cols or ["media_id", "kind", "payload"]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [decode(p, n_features).tolist() if p is not None else None
                     for p in pdf["payload"]]
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "features": feats,
            })

    return df.select(*cols).mapInPandas(
        run, schema="media_id string, kind string, features array<double>"
    )


def frame_sample_plan(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """video rows → (media_id, frame_ts_ms) sampling plan — pure plan-side
    arithmetic (sequence), the real frame grab happens in extract_features
    with a video decode_fn."""
    return (
        df.where(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(F.sequence(F.lit(0), F.col("duration_ms"), F.lit(every_ms))).alias("frame_ts_ms"),
        )
    )


def resize_metadata(df: DataFrame, max_side: int = 512) -> DataFrame:
    """image rows → target (width, height) preserving aspect ratio —
    plan-side arithmetic; actual pixel resampling is decode_fn territory."""
    scale = F.least(F.lit(max_side) / F.col("width"), F.lit(max_side) / F.col("height"), F.lit(1.0))
    return df.where(F.col("kind") == "image").select(
        "media_id", "width", "height",
        F.round(F.col("width") * scale).cast("int").alias("target_width"),
        F.round(F.col("height") * scale).cast("int").alias("target_height"),
    )
