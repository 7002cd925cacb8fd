"""BPE merge-rule induction (operators/bpe.py, B-extension: the
tokenizer-training seam).

The reference replay here is written independently of the operator (a
from-the-paper reimplementation over a word-count dict) so the two can
only agree by computing the same function; the Sennrich-style fixture's
expected merges were additionally derived BY HAND (see the derivation
comment) so the pinned constants are ground truth, not an
implementation echo.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st

from aws_snowflake_kinesis_airflow_pipeline_spark.operators.bpe import (
    END_OF_WORD,
    induce_bpe_merges,
)

SETTINGS = settings(max_examples=12, deadline=None)


# --------------------------------------------------------------------------
# Independent reference: straight from the paper's pseudocode.
# --------------------------------------------------------------------------


def ref_bpe(word_counts, n_merges):
    vocab = {}
    for w, c in word_counts:
        key = " ".join(list(w) + [END_OF_WORD])
        vocab[key] = vocab.get(key, 0) + c
    merges = []
    for _ in range(n_merges):
        pairs = {}
        for key, c in vocab.items():
            syms = key.split(" ")
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + c
        if not pairs:
            break
        best = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if best[1] < 2:
            break
        (a, b) = best[0]
        merges.append((a, b))
        new_vocab = {}
        for key, c in vocab.items():
            syms = key.split(" ")
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == (a, b):
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nk = " ".join(out)
            new_vocab[nk] = new_vocab.get(nk, 0) + c
        vocab = new_vocab
    return merges


#: The classic subword corpus (low/lower/newest/widest). Hand derivation
#: of the first 8 merges at counts low=5, lower=2, newest=6, widest=3:
#: r1: (e,s)=9 ties (s,t),(t,</w>) -> lexicographic -> 'es'
#: r2: (es,t)=9 ties (t,</w>) -> 'est'
#: r3: (est,</w>)=9 -> 'est</w>'
#: r4: (l,o)=7 ties (o,w) -> 'lo'
#: r5: (lo,w)=7 -> 'low'
#: r6: (e,w)=6 ties (n,e),(w,est</w>) -> 'ew'
#: r7: (ew,est</w>)=6 ties (n,ew) -> 'ewest</w>'
#: r8: (n,ewest</w>)=6 -> 'newest</w>'
SENNRICH_COUNTS = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]
SENNRICH_MERGES_8 = [
    ("e", "s"),
    ("es", "t"),
    ("est", END_OF_WORD),
    ("l", "o"),
    ("lo", "w"),
    ("e", "w"),
    ("ew", "est" + END_OF_WORD),
    ("n", "ewest" + END_OF_WORD),
]


def _corpus_df(spark, word_counts):
    text = " ".join(w for w, c in word_counts for _ in range(c))
    return spark.createDataFrame([(1, text)], "doc_id long, text string")


def test_sennrich_fixture_matches_hand_derivation(spark):
    got = induce_bpe_merges(_corpus_df(spark, SENNRICH_COUNTS), n_merges=8)
    assert got == SENNRICH_MERGES_8
    ref = ref_bpe(SENNRICH_COUNTS, 8)
    assert ref == SENNRICH_MERGES_8


word = st.text(alphabet="abcde", min_size=1, max_size=6)
corpus = st.lists(
    st.tuples(word, st.integers(min_value=1, max_value=9)),
    min_size=1,
    max_size=10,
)


@given(wc=corpus, k=st.integers(min_value=0, max_value=12))
@SETTINGS
def test_operator_matches_reference_replay(spark, wc, k):
    """The Spark fit (sample draw + word-count aggregation + driver loop)
    must equal the paper-pseudocode replay for any corpus and merge
    budget — including early stop when pair counts dry up."""
    # Collapse duplicate word entries the way a corpus would.
    got = induce_bpe_merges(_corpus_df(spark, wc), n_merges=k)
    ref = ref_bpe(wc, k)
    assert got == ref


def test_bounded_sample_and_early_stop(spark):
    # All words unique -> every pair count is 1 -> zero merges.
    df = spark.createDataFrame(
        [(1, "ab cd ef"), (2, "gh ij")], "doc_id long, text string"
    )
    assert induce_bpe_merges(df, n_merges=10) == []
    with pytest.raises(ValueError):
        induce_bpe_merges(df, n_merges=-1)
