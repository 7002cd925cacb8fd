"""BPE merge-rule induction — the tokenizer-training seam.

Byte-pair encoding (Sennrich et al. 2016, "Neural Machine Translation of
Rare Words with Subword Units", arXiv:1508.07909): start from characters,
repeatedly merge the most frequent adjacent symbol pair, keep the ordered
merge list as the tokenizer. This module trains that merge list over a
Spark corpus — the missing piece next to the word-level frequency-rank
vocab of :mod:`.encoding` (B42), which cannot represent unseen words at
all; a BPE vocab degrades gracefully to subwords instead of UNK.

Scale shape (the k-means / bigram-LM fit discipline, similarity.py /
lm.py): BPE's fit state is BOUNDED BY DESIGN — a capped word-frequency
table — so the merge loop runs driver-side over that table instead of as
``n_merges`` sequential corpus-wide Spark jobs (merge r+1 depends on
merge r, so a distributed loop is n_merges FULL scans that cannot
pipeline; the published trainers are single-node over word counts for
the same reason). The corpus pass is ONE tokenize + word-count
aggregation, map-side combined to word types, capped at
``MAX_WORD_TYPES`` rows collected (the operator's only driver-side data
state — same bounded-collect contract as lm.py's vocab and
similarity.py's k-means sample).

Determinism contract: ties on pair count break by (left, right)
lexicographic ascending, and the word table order cannot affect the
result (counts are summed per pair before the argmax) — the same corpus
always yields the same merge list on any cluster shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import lower_tokens

#: End-of-word sentinel symbol. Appended as its OWN symbol after the last
#: character (the paper's convention) so merges can distinguish suffixes
#: from in-word sequences ("est</w>" vs "est"); must not collide with any
#: single character the tokenizer can emit.
END_OF_WORD = "</w>"

#: Cap on the (count desc, word asc) word table the fit collects; rare
#: types beyond it contribute no merges anyway under the count>=2 stop
#: rule unless the corpus is pathologically flat.
MAX_WORD_TYPES = 100_000


def _bpe_fit_on_counts(
    word_counts: list[tuple[str, int]], n_merges: int
) -> list[tuple[str, str]]:
    """The driver-side merge loop over a (word, count) table.

    Pure function of its input (no Spark): each round counts adjacent
    symbol pairs weighted by word frequency, merges the (count desc,
    pair asc) winner everywhere, and stops early when no pair occurs
    twice (merging a count-1 pair would memorize one word's spelling).
    """
    words: dict[tuple[str, ...], int] = {}
    for w, c in word_counts:
        syms = tuple(w) + (END_OF_WORD,)
        # Duplicate word rows (caller error) still sum, not overwrite.
        words[syms] = words.get(syms, 0) + c

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pair_counts: dict[tuple[str, str], int] = {}
        for syms, c in words.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pair_counts[p] = pair_counts.get(p, 0) + c
        if not pair_counts:
            break
        best = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < 2:
            break
        (a, b), _ = best
        merges.append((a, b))
        merged = a + b
        new_words: dict[tuple[str, ...], int] = {}
        for syms, c in words.items():
            out: list[str] = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            t = tuple(out)
            new_words[t] = new_words.get(t, 0) + c
        words = new_words
    return merges


def induce_bpe_merges(docs: DataFrame, n_merges: int = 100) -> list[tuple[str, str]]:
    """Learn an ordered BPE merge list from the corpus.

    Returns ``[(left, right), ...]`` in merge order (rank 0 first) — at
    most ``n_merges`` entries, fewer when the corpus' pair counts dry up
    (no adjacent pair left with count >= 2).

    Tokenization of ``text`` is the engine-wide lowercased whitespace
    tokenizer; each word contributes its characters plus the
    ``END_OF_WORD`` sentinel.
    """
    if n_merges < 0:
        raise ValueError("induce_bpe_merges: n_merges must be >= 0")
    counts = (
        docs.select(F.explode(lower_tokens()).alias("_w"))
        .groupBy("_w")
        .agg(F.count("*").alias("_c"))
        .orderBy(F.col("_c").desc(), F.col("_w").asc())
        .limit(MAX_WORD_TYPES)
        .collect()
    )
    return _bpe_fit_on_counts([(r["_w"], r["_c"]) for r in counts], n_merges)
