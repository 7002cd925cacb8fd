"""Token-ID encoding (operators/encoding.py).

Pins: vocab rank order and tie-break, exact encoded sequences against a
pure-Python reference, OOV handling, empty/NULL docs, decode round-trip
(up to OOV + whitespace normalization), partition invariance,
and the JVM-only plan (no Python eval nodes).
"""

from __future__ import annotations

from collections import Counter

import pytest

from aws_snowflake_kinesis_airflow_pipeline_spark.operators.encoding import (
    UNK_ID,
    build_vocab,
    decode_ids,
    encode_documents,
)

DOCS = [
    (1, "the cat sat on the mat"),
    (2, "The Cat ATE a rare-token"),
    (3, ""),
    (4, None),
    (5, "the the the"),
]


def _py_vocab(docs, vocab_size):
    toks = [(t or "").lower().split() for _, t in docs]
    c = Counter(w for ts in toks for w in ts)
    items = list(c.items())
    items.sort(key=lambda kv: (-kv[1], kv[0]))
    return {w: i + 1 for i, (w, _) in enumerate(items[:vocab_size])}


def _py_encode(docs, vocab):
    out = {}
    for i, t in docs:
        ts = (t or "").lower().split()
        ids = [vocab.get(w, UNK_ID) for w in ts]
        out[i] = (ids, len(ids), sum(1 for x in ids if x == UNK_ID))
    return out


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_vocab_rank_and_tiebreak(spark, docs_df):
    got = {
        r["token"]: (r["token_id"], r["count"])
        for r in build_vocab(docs_df, vocab_size=100).collect()
    }
    want = _py_vocab(DOCS, 100)
    assert {t: i for t, (i, _) in got.items()} == want
    assert got["the"][0] == 1  # most frequent gets id 1


def test_encode_matches_python(spark, docs_df):
    for vs in (3, 100):
        vocab = build_vocab(docs_df, vocab_size=vs)
        got = {
            r["doc_id"]: (list(r["token_ids"]), r["n_tokens"], r["n_oov"])
            for r in encode_documents(docs_df, vocab).collect()
        }
        want = _py_encode(DOCS, _py_vocab(DOCS, vs))
        assert got == want, vs
        if vs == 3:  # tiny vocab actually produced OOV
            assert any(v[2] > 0 for v in want.values())


def test_empty_and_null_docs(spark, docs_df):
    vocab = build_vocab(docs_df, vocab_size=10)
    got = {
        r["doc_id"]: list(r["token_ids"])
        for r in encode_documents(docs_df, vocab).collect()
    }
    assert got[3] == [] and got[4] == []
    assert set(got) == {1, 2, 3, 4, 5}


def test_decode_roundtrip(spark, docs_df):
    vocab = build_vocab(docs_df, vocab_size=100)
    enc = encode_documents(docs_df, vocab)
    back = {r["doc_id"]: r["text"] for r in decode_ids(enc, vocab).collect()}
    assert back[1] == "the cat sat on the mat"
    assert back[2] == "the cat ate a rare-token"  # lowercased
    assert back[3] == "" and back[4] == ""


def test_partition_invariance(spark, docs_df):
    vocab = build_vocab(docs_df, vocab_size=4)
    a = {
        r["doc_id"]: list(r["token_ids"])
        for r in encode_documents(docs_df.coalesce(1), vocab).collect()
    }
    b = {
        r["doc_id"]: list(r["token_ids"])
        for r in encode_documents(docs_df.repartition(7), vocab).collect()
    }
    assert a == b


def test_plan_jvm_only(spark, docs_df):
    vocab = build_vocab(docs_df, vocab_size=10)
    plan = (
        encode_documents(docs_df, vocab)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan


def test_vocab_rank_window_input_is_pre_limited(spark, docs_df):
    # The token_id window sits above GlobalLimit vocab_size — bounded
    # input is what keeps the single-partition rank safe at scale.
    plan = (
        build_vocab(docs_df, vocab_size=7)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    w = plan.index("Window")
    assert "GlobalLimit 7" in plan[w:], plan
    # NULL text coalesces to '' BEFORE tokenizing, so token elements are
    # non-nullable and the vocab join needs no isnotnull(token) filter.
    enc_plan = (
        encode_documents(docs_df, build_vocab(docs_df, vocab_size=7))
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "isnotnull(token" not in plan + enc_plan, enc_plan
