"""Distributed heavy hitters (B34): top-k most frequent values of a
(possibly exploded) key column, with the candidates drawn from a bounded
per-partition sketch rather than a sort of the whole key domain. The
classic two-phase form (Metwally et al., "Efficient Computation of
Frequent and Top-k Elements in Data Streams", ICDT 2005):

1. **SpaceSaving partials, one pass, no shuffle**: each partition keeps a
   bounded counter table of ``capacity`` entries (evict-min with count
   inheritance). The summary per partition is tiny (capacity rows) and its
   guarantee is one-sided: any value with true partition count >
   partition_total/capacity is present. Implemented as an Arrow-batched
   ``mapInPandas`` — the only Python in the operator, and it touches each
   row once.
2. **Candidate union + exact lookup**: the union of per-partition
   summaries (≤ capacity × n_partitions rows, collected nowhere) is
   grouped to candidate keys, and the caller's exact (key, n) counts are
   restricted to those candidates with a broadcast semi-join. The one
   caller (b10) already computes the full exact count for its own exact
   top-k branch, so the operator adds no second pass over the raw data.

Recovery guarantee: if capacity ≥ k · (heavy-tail skew factor), the true
top-k all survive phase 1 on every partition where they matter; the final
counts are EXACT (phase 2 reads them from the exact counts), so the only
approximation risk is a true top-k value missing from the candidate set —
bounded by the SpaceSaving error n_p/capacity per partition. The test
pins exact-top-k recovery on Zipfian data at modest capacity.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _spacesaving_partials(capacity: int, col: str):
    """Weighted SpaceSaving: per Arrow batch, aggregate with C-speed
    ``value_counts`` first, then merge the (value, weight) pairs into the
    bounded counter table — Python work is O(distinct-per-batch · log cap),
    not O(rows). Eviction uses a lazy min-heap (stale entries skipped);
    the evicted minimum's count is inherited, preserving the SpaceSaving
    overcount bound under weighted updates."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import heapq

        counts: dict = {}
        heap: list = []  # (count-at-push, value); may hold stale entries
        for pdf in batches:
            vc = pdf[col].value_counts(dropna=True)
            for v, w in vc.items():
                w = int(w)
                if v in counts:
                    counts[v] += w
                    heapq.heappush(heap, (counts[v], v))
                elif len(counts) < capacity:
                    counts[v] = w
                    heapq.heappush(heap, (w, v))
                else:
                    # pop to the first non-stale entry = current minimum
                    while True:
                        mn, mv = heapq.heappop(heap)
                        if mv in counts and counts[mv] == mn:
                            break
                    del counts[mv]
                    counts[v] = mn + w
                    heapq.heappush(heap, (mn + w, v))
        if counts:
            yield pd.DataFrame(
                {col: list(counts.keys()), "est": list(counts.values())}
            )

    return gen


def top_k_frequent(
    df: DataFrame,
    col: str,
    k: int = 100,
    capacity: int = 4096,
    *,
    exact_counts: DataFrame,
) -> DataFrame:
    """Exact counts of the candidate top-k values of ``col``.

    Returns (col, n) ordered by n desc, col asc — at most k rows. The
    candidate set comes from per-partition SpaceSaving summaries of
    ``df``; the counts are ``exact_counts`` (col, n) — covering at least
    every non-null value of ``col`` in ``df`` — restricted to the
    candidates by a broadcast semi-join.
    """
    src = df.select(col).where(F.col(col).isNotNull())
    partials = src.mapInPandas(
        _spacesaving_partials(capacity, col),
        schema=f"{col} {dict(src.dtypes)[col]}, est long",
    )
    # keep the strongest candidates: sum of per-partition estimates is an
    # upper bound on the true count; cap the candidate set at a small
    # multiple of k before the lookup join
    candidates = (
        partials.groupBy(col)
        .agg(F.sum("est").alias("_ub"))
        .orderBy(F.col("_ub").desc(), F.col(col))
        .limit(4 * k)
        .select(col)
    )
    return (
        exact_counts.join(F.broadcast(candidates), col, "left_semi")
        .orderBy(F.col("n").desc(), F.col(col))
        .limit(k)
    )


def top_k_tokens(
    docs: DataFrame,
    k: int = 100,
    capacity: int = 4096,
    *,
    exact_counts: DataFrame,
) -> DataFrame:
    """Corpus vocabulary heavy hitters: whitespace tokens of ``text``
    (same tokenizer contract as functions/text.py) -> top-k by frequency.
    ``exact_counts``: (token, n), see :func:`top_k_frequent`."""
    from ..functions import text as TX

    toks = docs.select(
        F.explode(TX.tokens(F.col("text"))).alias("token")
    ).where(F.col("token") != "")
    return top_k_frequent(toks, "token", k, capacity, exact_counts=exact_counts)
