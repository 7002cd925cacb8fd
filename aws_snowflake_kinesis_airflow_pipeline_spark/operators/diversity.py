"""Per-group corpus diversity / repetition statistics (SURVEY.md §2
north-star extra; the data-mixing counterpart of the dedup family).

A training-data pipeline needs more than per-document quality signals: the
mixing decision ("how much of source X") and the dedup-effectiveness check
("did near-dup removal actually raise diversity?") are CORPUS-level
questions. The standard cheap instrument is n-gram type/token statistics
per group: total n-gram occurrences (tokens), distinct n-grams (types),
and their ratio (TTR) — a corpus whose TTR collapses is dominated by
repeated boilerplate even when every document looks fine in isolation.

All counts are EXACT (groupBy/distinct, no sketches) so the whole report
is DuckDB-oracle-checkable; swap the distinct for approx_count_distinct at
100 TB if a ±2% answer is acceptable — the plan shape is otherwise
identical.

Scale shape: one row-local n-gram build (zip of shifted token-array
slices — no explode of raw text until the n-grams exist), one
corpus-volume distinct over (group, ngram) pairs whose scaled exchange is
keyed on the ngram alone (subset-key rule: equal (group, ngram) implies
equal ngram), and two tiny per-group aggregates that combine map-side to
~|groups| rows per partition. Skew note: when the scaled exchange fires
it replaces the distinct's own exchange, so no map-side partial dedup
runs below it — every OCCURRENCE of a viral n-gram routes to one
partition. The straggler stays bounded because the scaled partition count
grows with the corpus while one n-gram's occurrences grow sublinearly;
with the guard off, the distinct's own exchange partial-dedups map-side
and ships at most one row per (map partition, group, ngram).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens
from .spread import scaled_repartition as _scaled_repartition


def ngram_column() -> "F.Column":
    """Whitespace-token 3-grams of ``text`` as an array of space-joined
    strings, built row-locally (same token contract as the Jaccard/c3
    oracles: split on the pinned whitespace class, drop empties; NULL
    text yields an empty array)."""
    t = tokens(F.coalesce(F.col("text"), F.lit("")))
    n = F.greatest(F.size(t) - F.lit(2), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(t, i + 1, n).alias(f"w{i}") for i in range(3)])
    return F.transform(
        zipped,
        lambda s: F.concat_ws(" ", *[s[f"w{i}"] for i in range(3)]),
    )


def corpus_diversity(docs: DataFrame) -> DataFrame:
    """One row per ``source`` value: ``(source, n_docs, total_ngrams,
    distinct_ngrams, ttr)``.

    ``total_ngrams`` counts every 3-gram occurrence in the group,
    ``distinct_ngrams`` counts 3-gram types, ``ttr`` is their rounded
    ratio (NULL for a group with no 3-grams — e.g. every doc shorter than
    3 tokens). Groups with a NULL ``source`` are reported as a real
    group, matching SQL GROUP BY semantics.
    """
    grams = docs.select(F.col("source"), ngram_column().alias("_g"))
    # Totals are row-local sizes — no n-gram ever leaves its row here, and
    # the per-group sum/count combine map-side to |groups| rows.
    totals = grams.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size("_g")).alias("total_ngrams"),
    )
    # Types: the one corpus-volume step. The scaled exchange keys on the
    # n-gram alone so it satisfies the distinct's (group, ngram)
    # clustering (subset-key rule) with ONE exchange; the count above it
    # combines map-side. No-op at bench SFs (spread.py).
    exploded = grams.select("source", F.explode("_g").alias("_ng"))
    types = (
        _scaled_repartition(exploded, "_ng", source=docs)
        .distinct()
        .groupBy("source")
        .agg(F.count("*").alias("distinct_ngrams"))
    )
    # Left join: a group whose documents have no 3-grams at all produces
    # no distinct rows but must still be reported (with 0 / NULL ttr).
    # NULL-safe on the group key: groupBy treats NULL as a real group but
    # a plain equi-join would drop it.
    return (
        totals.alias("t")
        .join(
            types.alias("d"),
            F.col("t.source").eqNullSafe(F.col("d.source")),
            "left",
        )
        .select(
            F.col("t.source").alias("source"),
            "n_docs",
            "total_ngrams",
            F.coalesce("distinct_ngrams", F.lit(0)).alias("distinct_ngrams"),
            F.when(
                F.col("total_ngrams") > 0,
                F.round(
                    F.col("distinct_ngrams") / F.col("total_ngrams"), 4
                ),
            ).alias("ttr"),
        )
    )
