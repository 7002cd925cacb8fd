"""Bigram-LM quality scoring (operators/lm.py).

Pins the operator against a from-scratch pure-Python bigram LM (exact
formula replay including the UNK collapse and the vocabulary tie-break),
hostile inputs (short/empty/NULL docs), partition invariance, and the plan
invariants that make it scale: the model/context joins broadcast and no
cartesian product appears.
"""

from __future__ import annotations

import math
from collections import Counter

import pytest

from aws_snowflake_kinesis_airflow_pipeline_spark.operators.lm import (
    UNK,
    bigram_lm_scores,
)

DOCS = [
    (1, "the cat sat on the mat"),
    (2, "the cat ate the rat"),
    (3, "a dog sat on a log"),
    (4, "singleton"),  # 1 token: no bigrams
    (5, ""),  # empty
    (6, None),  # NULL text
    (7, "the the the the"),  # heavy repetition: high logprob
]


def _py_scores(docs, vocab_size, add_k=0.5):
    """Independent reference implementation (dict-and-loop, no Spark)."""
    toks = {i: (t or "").lower().split() for i, t in docs}
    uni = Counter(w for ts in toks.values() for w in ts)
    vocab = {
        w
        for w, _ in sorted(uni.items(), key=lambda kv: (-kv[1], kv[0]))[
            :vocab_size
        ]
    }
    m = lambda w: w if w in vocab else UNK
    bis = {
        i: [(m(a), m(b)) for a, b in zip(ts, ts[1:])] for i, ts in toks.items()
    }
    c12 = Counter(p for ps in bis.values() for p in ps)
    c1 = Counter(p[0] for ps in bis.values() for p in ps)
    v = len(vocab)
    out = {}
    for i, ps in bis.items():
        if not ps:
            out[i] = (0, None)
            continue
        lp = sum(
            math.log((c12[p] + add_k) / (c1[p[0]] + add_k * (v + 1)))
            for p in ps
        ) / len(ps)
        out[i] = (len(ps), round(lp, 4))
    return out


def _run(spark, docs, **kw):
    """Scores with a covering fit sample (the full corpus) unless the
    caller passes ``max_fit_docs``."""
    df = spark.createDataFrame(docs, "doc_id int, text string")
    kw.setdefault("max_fit_docs", len(docs))
    rows = bigram_lm_scores(df, **kw).collect()
    return {r["doc_id"]: (r["lm_bigrams"], r["lm_logprob"]) for r in rows}


def test_matches_python_reference_no_unk(spark):
    # vocab_size larger than the corpus vocabulary: UNK path vacuous.
    got = _run(spark, DOCS, vocab_size=100)
    assert got == _py_scores(DOCS, 100)


def test_matches_python_reference_with_unk(spark):
    # Tiny vocabulary: most tokens collapse to UNK; formula must still agree.
    got = _run(spark, DOCS, vocab_size=3)
    want = _py_scores(DOCS, 3)
    assert got == want
    # The collapse was actually engaged: scores differ from the no-UNK run.
    assert got != _py_scores(DOCS, 100)


def test_short_empty_null_docs(spark):
    got = _run(spark, DOCS, vocab_size=10)
    assert got[4] == (0, None)
    assert got[5] == (0, None)
    assert got[6] == (0, None)
    # Every input doc present exactly once.
    assert set(got) == {i for i, _ in DOCS}


def test_repetition_scores_higher(spark):
    # "the the the the" bigrams are the corpus's most frequent — its mean
    # log-prob must beat every mixed-content document's.
    got = _run(spark, DOCS, vocab_size=100)
    rep = got[7][1]
    assert all(
        rep > got[i][1] for i in (1, 2, 3)
    ), f"repetition not highest: {got}"


def test_vocab_tiebreak_deterministic(spark):
    # Every token appears exactly once -> the vocab cut is decided purely
    # by the (count desc, token asc) tie-break. Python reference applies
    # the same rule, so exact agreement pins determinism.
    docs = [(1, "b d a c"), (2, "e g f h")]
    got = _run(spark, docs, vocab_size=4)
    assert got == _py_scores(docs, 4)


def test_partition_invariance(spark):
    df = spark.createDataFrame(DOCS, "doc_id int, text string")
    one = {
        r["doc_id"]: (r["lm_bigrams"], r["lm_logprob"])
        for r in bigram_lm_scores(df.coalesce(1), max_fit_docs=len(DOCS)).collect()
    }
    many = {
        r["doc_id"]: (r["lm_bigrams"], r["lm_logprob"])
        for r in bigram_lm_scores(
            df.repartition(7), max_fit_docs=len(DOCS)
        ).collect()
    }
    assert one == many


def test_plan_broadcasts_model_no_cartesian(spark):
    df = spark.createDataFrame(DOCS, "doc_id int, text string")
    plan = (
        bigram_lm_scores(df, max_fit_docs=len(DOCS))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_vocab_size_validation(spark):
    df = spark.createDataFrame(DOCS, "doc_id int, text string")
    with pytest.raises(ValueError):
        bigram_lm_scores(df, vocab_size=0, max_fit_docs=len(DOCS))


def _py_scores_sampled(docs, vocab_size, max_fit_docs, fit_seed=0, add_k=0.5):
    """Reference replay of the SAMPLED fit: model from the max_fit_docs
    smallest ids under the portable md5 permutation, full set scored with
    zero-count smoothing for unseen bigrams/contexts."""
    import hashlib

    def h(i):
        return int(
            hashlib.md5(f"{fit_seed}:{i}".encode()).hexdigest()[:8], 16
        )

    fit_ids = {
        i for i, _ in sorted(docs, key=lambda d: (h(d[0]), d[0]))[:max_fit_docs]
    }
    toks = {i: (t or "").lower().split() for i, t in docs}
    fit_toks = {i: ts for i, ts in toks.items() if i in fit_ids}
    uni = Counter(w for ts in fit_toks.values() for w in ts)
    vocab = {
        w
        for w, _ in sorted(uni.items(), key=lambda kv: (-kv[1], kv[0]))[
            :vocab_size
        ]
    }
    m = lambda w: w if w in vocab else UNK
    fit_bis = [
        (m(a), m(b))
        for ts in fit_toks.values()
        for a, b in zip(ts, ts[1:])
    ]
    c12 = Counter(fit_bis)
    c1 = Counter(p[0] for p in fit_bis)
    v = len(vocab)
    out = {}
    for i, ts in toks.items():
        ps = [(m(a), m(b)) for a, b in zip(ts, ts[1:])]
        if not ps:
            out[i] = (0, None)
            continue
        lp = sum(
            math.log((c12[p] + add_k) / (c1[p[0]] + add_k * (v + 1)))
            for p in ps
        ) / len(ps)
        out[i] = (len(ps), round(lp, 4))
    return out


def test_sampled_fit_covering_sample_equals_full_fit(spark):
    """max_fit_docs >= corpus size: the sample IS the corpus, so the
    sampled path must reproduce the full-fit reference bit-for-bit
    (including that no scoring coalesce fires — every pair is in the
    model)."""
    sampled = _run(spark, DOCS, vocab_size=5, max_fit_docs=len(DOCS) + 3)
    assert sampled == _py_scores(DOCS, 5)


def test_sampled_fit_matches_python_replay(spark):
    """Strict subsample: vocabulary, bigram counts AND the md5 sample draw
    itself replayed in pure Python; corpus bigrams the sample never saw
    score with count 0 under the same add-k smoothing."""
    for n_fit in (2, 3, 5):
        got = _run(spark, DOCS, vocab_size=4, max_fit_docs=n_fit)
        want = _py_scores_sampled(DOCS, vocab_size=4, max_fit_docs=n_fit)
        assert got == want, f"max_fit_docs={n_fit}"


def test_sampled_fit_scores_all_docs(spark):
    """Every input document is scored — sampling bounds the FIT, never the
    output surface."""
    got = _run(spark, DOCS, vocab_size=4, max_fit_docs=2)
    assert set(got) == {i for i, _ in DOCS}
