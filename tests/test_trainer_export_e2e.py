"""End-to-end last mile: curate → encode → pack → verify.

Integration of the trainer-export seam the B-series builds piecewise:
B42 token-ID encoding feeds B18 sequence packing, with B42's decoder
auditing a sample of the packed rows. Every stage is deterministic, so
the whole pipeline is too — pinned by running it twice and comparing the
packed rows.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_snowflake_kinesis_airflow_pipeline_spark.operators.encoding import (
    build_vocab,
    decode_ids,
    encode_documents,
)
from aws_snowflake_kinesis_airflow_pipeline_spark.operators.packing import (
    pack_sequences,
)

N_DOCS = 120
MAX_TOKENS = 48


@pytest.fixture(scope="module")
def corpus(spark):
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    rows = [
        (
            i,
            " ".join(words[(i + j) % len(words)] for j in range((i * 7) % 30 + 1)),
        )
        for i in range(N_DOCS)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _run_pipeline(corpus):
    vocab = build_vocab(corpus, vocab_size=5)  # 6 words: one becomes OOV
    encoded = encode_documents(corpus, vocab)
    packed = pack_sequences(encoded, MAX_TOKENS)
    rows = encoded.join(packed.select("doc_id", "pack_id", "pack_tokens"), "doc_id")
    return vocab, rows


def test_encode_pack_verify(spark, corpus):
    vocab, rows = _run_pipeline(corpus)

    # Every pack respects the budget over the ACTUAL encoded lengths.
    pack_totals = (
        rows.groupBy("pack_id").agg(F.sum("n_tokens").alias("t")).collect()
    )
    assert all(r["t"] <= MAX_TOKENS for r in pack_totals)

    # OOV engaged but bounded (exactly one of six words is out-of-vocab).
    oov = rows.agg(
        F.sum("n_oov").alias("o"), F.sum("n_tokens").alias("t")
    ).first()
    assert 0 < oov["o"] < oov["t"]

    # Decode audit on a sample of packed rows: in-vocab tokens round-trip.
    sample = rows.orderBy("doc_id").limit(5)
    dec = {
        r["doc_id"]: r["text"]
        for r in decode_ids(sample, vocab).collect()
    }
    orig = {
        r["doc_id"]: r["text"]
        for r in corpus.join(sample.select("doc_id"), "doc_id").collect()
    }
    assert len(dec) == 5
    for i, text in dec.items():
        got = text.split()
        want = orig[i].split()
        assert len(got) == len(want)
        assert all(g == w or g == "<unk>" for g, w in zip(got, want))


def test_pipeline_deterministic(spark, corpus):
    def packed(rows):
        return sorted(tuple(r) for r in rows.collect())

    a = packed(_run_pipeline(corpus)[1])
    b = packed(_run_pipeline(corpus)[1])
    assert a == b and len(a) == N_DOCS
