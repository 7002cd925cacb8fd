"""Multimodal plumbing tests: schema, Arrow batch shape, deterministic
fake-decode kernel, PPM decode and its rejections, pixel stats."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from aws_snowflake_kinesis_airflow_pipeline_spark.catalog import load_table
from aws_snowflake_kinesis_airflow_pipeline_spark.operators import multimodal


def encode_ppm(pixels: np.ndarray) -> bytes:
    """Encode an (H, W, 3) uint8 array as binary PPM (P6)."""
    a = np.asarray(pixels, dtype=np.uint8)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError("encode_ppm: expected (H, W, 3) uint8 pixels")
    h, w = a.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + a.tobytes()


def test_documents_as_media_schema(spark, sf_dir):
    media = multimodal.documents_as_media(load_table(spark, sf_dir, "documents"))
    fields = dict((f.name, f.dataType.simpleString()) for f in media.schema.fields)
    assert fields["content"] == "binary"
    assert fields["meta"].startswith("struct<mime:string,width:int,height:int")


def test_media_metadata_jvm_side(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    media = multimodal.documents_as_media(docs)
    meta = multimodal.media_metadata(media)
    row = meta.orderBy("media_id").first()
    doc = docs.orderBy("doc_id").first()
    assert row["n_bytes"] == len(doc["text"].encode())
    assert len(row["digest"]) == 64  # sha256 hex


def test_extract_features_deterministic_batches(spark, sf_dir):
    media = multimodal.documents_as_media(
        load_table(spark, sf_dir, "documents")
    ).repartition(7)  # force multiple Arrow batches/tasks
    f1 = {r["media_id"]: r["feature"] for r in multimodal.extract_features(media).collect()}
    f2 = {r["media_id"]: r["feature"] for r in multimodal.extract_features(media).collect()}
    assert f1 == f2
    assert all(len(v) == multimodal.FEATURE_DIM for v in f1.values())
    assert all(0.0 <= x <= 1.0 for v in f1.values() for x in v)


def test_ppm_roundtrip_tiny_planted_image():
    px = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    payload = encode_ppm(px)
    assert payload.startswith(b"P6\n3 2\n255\n")
    out = multimodal.decode_ppm(payload)
    assert out.shape == (2, 3, 3)
    assert (out == px).all()


def test_ppm_header_comments_and_whitespace():
    px = np.full((1, 2, 3), 7, dtype=np.uint8)
    payload = b"P6 # a comment\n# another\n 2\t1 \n255\n" + px.tobytes()
    out = multimodal.decode_ppm(payload)
    assert (out == px).all()


@pytest.mark.parametrize(
    "payload",
    [
        b"",  # empty
        b"NOTANIMAGE",  # wrong magic
        b"P6\n2 1\n255\n\x00\x01",  # truncated raster
        b"P6\n2 1\n65535\n" + b"\x00" * 12,  # 16-bit samples rejected
        b"P6\n2 1\n15\n" + b"\x0f" * 6,  # low maxval: rescale needed, reject
        b"P6\n0 1\n255\n",  # zero dimension
        # CRLF after maxval: a one-byte-separator parse would silently
        # shift every channel by one byte — must reject, not misdecode
        b"P6\n2 1\n255\r\n" + bytes(range(6)),
        b"P6\n2 1\n255\n" + bytes(range(6)) + b"\n",  # trailing junk
        b"\x89PNG\r\n\x1a\n",  # compressed format: named dependency
    ],
)
def test_decode_image_rejects_malformed(payload):
    with pytest.raises(ValueError):
        multimodal.decode_image(payload)


def test_extract_pixel_stats_real_decode_and_quarantine(spark):
    good = encode_ppm(
        np.array([[[10, 20, 30], [50, 60, 70]]], dtype=np.uint8)
    )
    media = spark.createDataFrame(
        [(1, good), (2, b"garbage"), (3, None)],
        "media_id long, content binary",
    )
    rows = {
        r["media_id"]: r
        for r in multimodal.extract_pixel_stats(media).collect()
    }
    ok = rows[1]
    assert ok.px_ok and (ok.px_width, ok.px_height) == (2, 1)
    assert (ok.mean_r, ok.mean_g, ok.mean_b) == (30.0, 40.0, 50.0)
    # corrupt and NULL payloads quarantine per-row, never fail the task
    for mid in (2, 3):
        r = rows[mid]
        assert r.px_ok is False and r.px_width is None and r.mean_r is None


def test_registered_c13_pixel_branch_planted_cases(spark, sf_dir):
    """The driver-checked c13 'pixel' branch decodes REAL pixels: every
    planted formula image comes back px_ok with the formula means, and
    the corrupt payload comes back quarantined."""
    from aws_snowflake_kinesis_airflow_pipeline_spark.plans.llm_suite import (
        _PPM_CORRUPT_ID,
        _PPM_PLANTED_IDS,
    )
    from aws_snowflake_kinesis_airflow_pipeline_spark.plans.registry import (
        QUERIES,
    )

    out = QUERIES["c13_media_pack"].fn(spark, sf_dir)
    got = {
        r.media_id: r
        for r in out.filter(F.col("branch") == "pixel").collect()
    }
    assert set(got) == set(_PPM_PLANTED_IDS) | {_PPM_CORRUPT_ID}
    for mid in _PPM_PLANTED_IDS:
        r = got[mid]
        w, h = 2 + mid % 3, 1 + mid % 2
        assert r.px_ok and (r.px_width, r.px_height) == (w, h)
        vals = [(mid + 9 * p) % 256 for p in range(w * h)]
        assert r.mean_r == round(sum(vals) / len(vals), 4)
    assert got[_PPM_CORRUPT_ID].px_ok is False
    assert got[_PPM_CORRUPT_ID].mean_b is None
