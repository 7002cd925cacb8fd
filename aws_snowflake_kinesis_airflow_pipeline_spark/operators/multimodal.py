"""Multimodal column plumbing: image/audio/video as opaque binary + typed
metadata, processed by Arrow-batched pandas functions.

Real pixel decode is implemented for binary PPM (P6) — a complete,
dependency-free raster format — so the decode → stats path runs on actual
pixels end to end (``decode_image``/``extract_pixel_stats``). Compressed formats (PNG/JPEG) need a codec library
the container doesn't ship; ``decode_image`` rejects them with a
ValueError naming the dependency — a real partial-decoder contract, not a
stub. The sha-derived ``_fake_feature`` kernel remains as the
format-agnostic embedding stand-in for payloads that are not images.

At 100 TB: binary payloads ride in parquet binary columns; decode/feature
kernels run inside mapInPandas so each task streams Arrow batches (bounded
memory) and the cluster scales by partitions, not driver RAM.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Canonical multimodal record: opaque payload + typed metadata.
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("content", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType(), True),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_DIM = 8

_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        # double, not float32: the sha-derived values carry ~10 significant
        # digits and the oracle compares them after rounding — float32
        # storage shifts the 4th decimal on some values
        T.StructField("feature", T.ArrayType(T.DoubleType()), True),
    ]
)


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Deterministic media fixture: encode document text as the binary
    payload with synthetic image metadata. Stands in for a real
    image/audio table so the plumbing is exercised end to end."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("content"),
        F.struct(
            F.lit("image/png").alias("mime"),
            (F.col("n_chars") % 1024).cast("int").alias("width"),
            (F.col("n_chars") % 768).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


def media_metadata(media: DataFrame) -> DataFrame:
    """JVM-side metadata extraction — no decode needed: byte length, content
    digest, magic-byte sniff. This is the cheap pre-filter stage a real
    pipeline runs before spending decode cycles."""
    return media.select(
        "media_id",
        F.octet_length("content").alias("n_bytes"),
        F.sha2("content", 256).alias("digest"),
        F.col("meta.mime").alias("mime"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
    )


def decode_ppm(payload: bytes) -> np.ndarray:
    """Decode binary PPM (P6) to an (H, W, 3) uint8 array.

    Header tokens separated by any whitespace, ``#`` comments between
    tokens, maxval 255 only (full-range 8-bit samples: a smaller maxval
    means samples need rescaling and the 16-bit variant needs byte
    pairing — both are REJECTED, never misread as raw bytes). The raster
    must be exactly ``3*w*h`` bytes after the single post-maxval
    whitespace byte: a multi-byte separator (CRLF writers) or trailing
    junk would silently shift every channel, so a length mismatch raises
    instead. Raises ValueError on anything malformed — the kernel maps
    that to ``px_ok = false``.
    """
    if not payload or payload[:2] != b"P6":
        raise ValueError("decode_ppm: not a P6 PPM payload")
    pos = 2
    vals: list[int] = []
    n = len(payload)
    while len(vals) < 3:
        while pos < n and payload[pos : pos + 1].isspace():
            pos += 1
        if pos < n and payload[pos : pos + 1] == b"#":
            while pos < n and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < n and not payload[pos : pos + 1].isspace():
            pos += 1
        tok = payload[start:pos]
        if not tok.isdigit():
            raise ValueError(f"decode_ppm: bad header token {tok!r}")
        vals.append(int(tok))
    # exactly ONE whitespace byte separates maxval from the raster
    pos += 1
    w, h, maxval = vals
    if w < 1 or h < 1:
        raise ValueError("decode_ppm: non-positive dimensions")
    if maxval != 255:
        raise ValueError(
            "decode_ppm: only maxval=255 supported (smaller maxvals need"
            " rescaling, 16-bit needs byte pairing — rejected, not misread)"
        )
    need = w * h * 3
    if n - pos != need:
        raise ValueError(
            f"decode_ppm: raster is {n - pos} bytes, expected exactly"
            f" {need} (truncated payload, multi-byte separator, or"
            " trailing junk)"
        )
    return np.frombuffer(payload[pos:], dtype=np.uint8).reshape(h, w, 3)


def decode_image(payload: bytes) -> np.ndarray:
    """Decode an image payload to (H, W, 3) uint8 pixels.

    PPM (P6) decodes natively; compressed formats are rejected with the
    missing dependency named rather than silently faked.
    """
    if payload and payload[:2] == b"P6":
        return decode_ppm(payload)
    raise ValueError(
        "decode_image: unsupported format (PNG/JPEG decode requires a codec"
        " library such as PIL/libvips, not installed in this environment)"
    )


def _fake_feature(payload: bytes) -> list[float]:
    """Deterministic stand-in feature: FEATURE_DIM floats derived from the
    sha256 digest. Stable across runs/partitions — safe for tests."""
    digest = hashlib.sha256(payload or b"").digest()
    return [
        int.from_bytes(digest[4 * i : 4 * i + 4], "big") / 2**32
        for i in range(FEATURE_DIM)
    ]


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction via mapInPandas.

    The iterator-of-batches contract is the real scale shape: each task
    pulls Arrow batches, computes per-row features in pandas, yields
    batches — memory bounded by batch size, not partition size.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": pdf["content"].map(
                        lambda b: len(b) if b is not None else 0
                    ),
                    "feature": pdf["content"].map(_fake_feature),
                }
            )

    return media.select("media_id", "content").mapInPandas(
        kernel, schema=_FEATURES_SCHEMA
    )


_PIXEL_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("px_ok", T.BooleanType(), False),
        T.StructField("px_width", T.IntegerType(), True),
        T.StructField("px_height", T.IntegerType(), True),
        T.StructField("mean_r", T.DoubleType(), True),
        T.StructField("mean_g", T.DoubleType(), True),
        T.StructField("mean_b", T.DoubleType(), True),
    ]
)


def extract_pixel_stats(media: DataFrame) -> DataFrame:
    """Real pixel decode + per-channel stats via mapInPandas.

    Each payload is decoded (``decode_image``) and reduced to dimensions
    and per-channel means (4-dp, the engine-wide float-parity
    convention); undecodable payloads yield ``px_ok = false`` with NULL
    stats instead of failing the task — the per-row quarantine contract a
    corpus-scale decode stage needs (one corrupt image must not kill a
    200-million-row partition). Same batch-streaming memory shape as
    ``extract_features``.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": [], "px_ok": [], "px_width": [],
                "px_height": [], "mean_r": [], "mean_g": [], "mean_b": [],
            }
            for mid, payload in zip(pdf["media_id"], pdf["content"]):
                out["media_id"].append(mid)
                try:
                    px = decode_image(
                        bytes(payload) if payload is not None else b""
                    )
                    means = px.reshape(-1, 3).mean(axis=0)
                    out["px_ok"].append(True)
                    out["px_height"].append(px.shape[0])
                    out["px_width"].append(px.shape[1])
                    out["mean_r"].append(round(float(means[0]), 4))
                    out["mean_g"].append(round(float(means[1]), 4))
                    out["mean_b"].append(round(float(means[2]), 4))
                except ValueError:
                    out["px_ok"].append(False)
                    out["px_height"].append(None)
                    out["px_width"].append(None)
                    out["mean_r"].append(None)
                    out["mean_g"].append(None)
                    out["mean_b"].append(None)
            yield pd.DataFrame(out)

    return media.select("media_id", "content").mapInPandas(
        kernel, schema=_PIXEL_STATS_SCHEMA
    )

