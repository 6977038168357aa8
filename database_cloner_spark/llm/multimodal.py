"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

No decode library (PIL/ffmpeg/torchaudio) ships with the engine, so the
DECODE step is a deterministic fake (`fake_features`) — but everything
Spark-side is real and tested: the asset schema, binary payload
handling, Arrow batch shapes through mapInPandas, and the partitioning
contract. A deployment with a codec swaps it in at the same seam.

At 100 TB the rules encoded here:
- payloads travel as `binary` columns inside parquet (no tiny-file
  explosion, scan stays splittable);
- metadata lives in a typed struct so filters prune BEFORE any decode;
- decode/featurize runs in mapInPandas (Arrow batches, bounded memory
  via maxRecordsPerBatch), never in a row-at-a-time UDF.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_TYPES = ("image", "audio", "video")

FEATURE_DIM = 8

ASSET_SCHEMA = (
    "asset_id long, media_type string, payload binary, "
    "meta struct<n_bytes: long, source_doc: long, magic: string>"
)


def assets_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic asset table from the documents fixture: the UTF-8
    text bytes stand in for media payloads (schema-faithful; content is
    opaque to every operator below)."""
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        F.col("doc_id").alias("asset_id"),
        F.element_at(
            F.array(*[F.lit(m) for m in MEDIA_TYPES]),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("media_type"),
        payload.alias("payload"),
        F.struct(
            F.octet_length(payload).cast("long").alias("n_bytes"),
            F.col("doc_id").alias("source_doc"),
            F.hex(F.substring(payload, 1, 4)).alias("magic"),
        ).alias("meta"),
    )


def fake_features(assets: DataFrame) -> DataFrame:
    """Deterministic fake feature extractor over binary payloads via
    mapInPandas: 8 INTEGER fixed-point byte statistics (mean byte value
    per np.array_split chunk, in 1e-4 units, floored). Stands in for
    decode->resize->embed; identical batch shape and schema contract.

    Integer-exact by design (r8 VERDICT item 3): the r8 float form
    (round(mean, 4), half-even) had no faithful SQL twin, so the key
    could only be rows-only checked. `(sum * 10000) // len` is exact
    associative integer math — a DuckDB oracle recomputes it
    bit-for-bit from the hex-encoded payload, upgrading
    q_multimodal_features to a full hash row. Overflow headroom:
    payloads up to ~10^14 bytes fit int64 after the *10000 scaling
    (sum <= 255 * n_bytes); real assets are megabytes."""

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            feats = []
            for payload in pdf["payload"]:
                if payload is None:
                    # NULL payload (e.g. NULL source text) degrades to a
                    # NULL feature array — never a worker crash
                    feats.append(None)
                    continue
                arr = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
                if arr.size == 0:
                    feats.append([0] * FEATURE_DIM)
                    continue
                chunks = np.array_split(arr, FEATURE_DIM)
                feats.append(
                    [int(c.sum()) * 10000 // c.size if c.size else 0 for c in chunks]
                )
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "media_type": pdf["media_type"],
                    "features": feats,
                }
            )

    return assets.mapInPandas(
        extract, schema="asset_id long, media_type string, features array<long>"
    )


def resize_images(assets: DataFrame, target_bytes: int = 256) -> DataFrame:
    """'Resize' images over mapInPandas. A real deployment decodes with a
    codec and resamples (PIL.Image.resize); neither codec exists in this
    container, so the transform is a deterministic fake — truncate/pad
    the payload to target_bytes — while everything Spark-side is real:
    media-type pruning BEFORE the Python boundary, Arrow batch transfer,
    binary-in/binary-out schema, and per-batch (not per-row) work."""

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out, lens = [], []
            for payload in pdf["payload"]:
                if payload is None:
                    # NULL payload degrades to NULL output (the
                    # fake_features contract) — never a worker crash
                    out.append(None)
                    lens.append(None)
                    continue
                b = bytes(payload)
                resized = b[:target_bytes] if len(b) >= target_bytes else b.ljust(
                    target_bytes, b"\x00"
                )
                out.append(resized)
                lens.append(len(b))
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "payload": out,
                    "orig_bytes": lens,
                }
            )

    images = assets.filter(F.col("media_type") == "image").select(
        "asset_id", "payload"
    )
    return images.mapInPandas(
        resize, schema="asset_id long, payload binary, orig_bytes long"
    )


# Frame spacing of the registered frame-sampling key; its oracle reads
# it too.
FRAME_EVERY_N_BYTES = 64


def frame_sample_plan(
    assets: DataFrame, every_n_bytes: int = FRAME_EVERY_N_BYTES
) -> DataFrame:
    """'Frame sampling' on the opaque payload: byte offsets every N bytes
    (the video-frame analogue; a real decoder would seek timestamps).
    Pure column math — shows the plumbing without a codec. Integer `div`
    (not floor-of-double) so the count is exact for any 64-bit n_bytes."""
    n_frames = F.expr(f"meta.n_bytes div {int(every_n_bytes)}") + 1
    offsets = F.transform(
        F.sequence(F.lit(0).cast("long"), n_frames - 1), lambda i: i * every_n_bytes
    )
    return assets.filter(F.col("media_type") == "video").select(
        "asset_id", F.col("meta.n_bytes").alias("n_bytes"), offsets.alias("frame_offsets")
    )


def frame_sample_exploded(assets: DataFrame) -> DataFrame:
    """One row per sampled frame — the all-scalar twin of
    frame_sample_plan (same plan, posexplode on top). This is the shape
    registered with the driver: hash-comparable (no array column) and
    the shape a downstream frame-decode stage would consume anyway."""
    plan = frame_sample_plan(assets)
    return plan.select(
        "asset_id",
        "n_bytes",
        F.posexplode("frame_offsets").alias("frame_idx", "frame_offset"),
    ).select(
        "asset_id",
        "n_bytes",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        "frame_offset",
    )
