"""Multimodal column plumbing — binary payloads with typed metadata.

Images/audio/video ride through the engine as opaque ``binary`` columns
plus a flat typed metadata struct, processed by Arrow-batched pandas UDFs
over ``mapInPandas``; that keeps the payload bytes OUT of the JVM<->Python
row path except in vectorized Arrow record batches, and lets the scan
prune the (huge) binary column whenever a query touches only metadata.

The actual codecs (PIL/ffmpeg/soundfile) are NOT in this container, so the
decode step is STUBBED two ways (SURVEY round contract):

- ``decode_image(..., fake=True)``  — deterministic fake decoder: derives
  pixel-statistics features purely from the payload bytes (byte mean /
  histogram), so the full Spark plumbing (schema, batching, partitioning,
  UDF signature) is real and testable.
- ``decode_image(..., fake=False)`` — raises NotImplementedError with the
  dependency it would need; the call-site plumbing is identical.

``synthesize_media`` manufactures deterministic payloads from any string
column (zlib of the text + a seeded header) so test data needs no binary
fixtures on disk.
"""

from __future__ import annotations

import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .shipping import ensure_shipped, kernel

MEDIA_SCHEMA = (
    "doc_id long, media_type string, payload binary, "
    "width int, height int, sample_rate int, n_frames int"
)

FEATURE_SCHEMA = (
    "doc_id long, media_type string, byte_len long, "
    "byte_mean double, byte_entropy double, hist array<long>"
)


def synthesize_media(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Deterministic fake media rows from a text table (one per doc):
    payload = zlib(text bytes); metadata derived from a hash of the id.
    Runs as one mapInPandas pass — no per-row Python."""

    ensure_shipped(docs.sparkSession)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            h = (ids * 2654435761) % 997
            payloads = [zlib.compress(t.encode("utf-8")) for t in pdf[text_col]]
            yield pd.DataFrame({
                "doc_id": ids,
                "media_type": np.where(h % 3 == 0, "image",
                                       np.where(h % 3 == 1, "audio", "video")),
                "payload": payloads,
                "width": (64 + h % 512).astype(np.int32),
                "height": (64 + (h * 7) % 512).astype(np.int32),
                "sample_rate": np.where(h % 3 == 1, 16000, 0).astype(np.int32),
                "n_frames": np.where(h % 3 == 2, 1 + h % 120, 1).astype(np.int32),
            })

    return docs.select(id_col, text_col).mapInPandas(kernel(gen), schema=MEDIA_SCHEMA)


def decode_image(media: DataFrame, fake: bool = True) -> DataFrame:
    """Decode/feature-extract pass over media rows.

    fake=True: deterministic byte-level features (mean, entropy, 16-bin
    histogram) — the real Arrow/batch/partitioning path with a stand-in
    kernel. fake=False: the real decoder, unavailable in this container."""
    if not fake:
        raise NotImplementedError(
            "real image decode needs PIL/libjpeg, not present in this "
            "container; run with fake=True for the deterministic stub"
        )

    ensure_shipped(media.sparkSession)

    def features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Whole-batch numpy: concatenate every payload in the Arrow batch
        # into ONE uint8 buffer and compute all rows' histograms with a
        # single bincount over (row*256 + byte) — no Python loop over rows,
        # so the pattern a real decoder inherits is batch-shaped.
        for pdf in batches:
            n = len(pdf)
            payloads = [bytes(p) for p in pdf["payload"]]
            lens = np.fromiter((len(b) for b in payloads), dtype=np.int64, count=n)
            cat = np.frombuffer(b"".join(payloads), dtype=np.uint8)
            row = np.repeat(np.arange(n, dtype=np.int64), lens)
            bc = np.bincount(row * 256 + cat.astype(np.int64), minlength=n * 256)
            byte_hist = bc.reshape(n, 256)                      # (n, 256)
            sums = byte_hist @ np.arange(256, dtype=np.int64)   # per-row byte sum
            hist = byte_hist.reshape(n, 16, 16).sum(axis=2)     # 16 nibble bins
            safe = np.maximum(lens, 1)
            p = hist / safe[:, None]
            with np.errstate(divide="ignore", invalid="ignore"):
                ent = -np.where(p > 0, p * np.log2(np.where(p > 0, p, 1.0)), 0.0).sum(
                    axis=1
                )
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].to_numpy(dtype=np.int64),
                "media_type": pdf["media_type"].to_numpy(),
                "byte_len": lens,
                "byte_mean": np.where(lens > 0, sums / safe, 0.0),
                "byte_entropy": np.round(ent, 6),
                "hist": list(hist),
            })

    return media.mapInPandas(kernel(features), schema=FEATURE_SCHEMA)


def frame_sample(media: DataFrame, every_n: int = 10, fake: bool = True) -> DataFrame:
    """Frame-sampling plumbing for video rows: emits one row per sampled
    frame index (metadata-only in the fake path; a real decoder would
    attach the frame bytes). Demonstrates the 1->N mapInPandas shape."""
    if not fake:
        raise NotImplementedError("real frame extraction needs ffmpeg")

    ensure_shipped(media.sparkSession)

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Vectorized 1->N expansion: per-row sample counts -> np.repeat ids
        # + a flat local-index arange (global arange minus per-row offsets).
        for pdf in batches:
            vids = pdf[pdf["media_type"] == "video"]
            nf = vids["n_frames"].to_numpy(dtype=np.int64)
            cnt = (nf + every_n - 1) // every_n
            total = int(cnt.sum())
            ids = np.repeat(vids["doc_id"].to_numpy(dtype=np.int64), cnt)
            offsets = np.repeat(np.cumsum(cnt) - cnt, cnt)
            out_idx = (np.arange(total, dtype=np.int64) - offsets) * every_n
            yield pd.DataFrame({"doc_id": ids, "frame_idx": out_idx})

    return media.select("doc_id", "media_type", "n_frames").mapInPandas(
        kernel(sample), schema="doc_id long, frame_idx long"
    )

