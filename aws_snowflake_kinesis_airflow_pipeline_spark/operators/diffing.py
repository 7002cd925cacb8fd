"""Corpus snapshot diff — added / removed / changed / unchanged.

Continuous corpus maintenance runs against VERSIONS of a corpus (a new
crawl, a re-extraction, a licensing takedown pass). Before re-running the
expensive downstream stages (dedup, quality, packing) a pipeline diffs the
new snapshot against the previous one and feeds only the delta to the
incremental operators (``operators/incremental.py``) — and audits the
takedowns actually landed.

Semantics: rows are keyed by ``doc_id``; ``text`` is compared by a
normalized content fingerprint (``functions/text.doc_fingerprint`` — md5
of whitespace-normalized lowercased text), NOT raw equality, so
formatting-only churn (re-wrapped whitespace) classifies as ``unchanged``.

Scale shape: one full outer join on the id — both sides shuffled once on
the key, the same budget as exact dedup. Each side is pre-projected to
(id, 16-byte fingerprint) so the exchange never carries document bodies
(the c1 lesson from round 1). The diff output is (id, status) — join it
back to whichever side's bodies a consumer needs; Catalyst prunes the
other columns out of that scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..functions.text import doc_fingerprint


def _prints(df: DataFrame) -> DataFrame:
    fp = doc_fingerprint(F.coalesce(F.col("text"), F.lit("\x00null\x00")))
    return df.select(F.col("doc_id"), fp.alias("_fp"))


def corpus_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """(doc_id, status) for every id present in either snapshot.

    ``added``     — id only in ``new``
    ``removed``   — id only in ``old``
    ``changed``   — id in both, fingerprints differ
    ``unchanged`` — id in both, fingerprints equal

    ``doc_id`` must be unique within each snapshot (the corpus-key
    contract shared with the dedup family — run exact dedup first).
    """
    o = _prints(old).withColumnRenamed("_fp", "_fp_old")
    n = _prints(new).withColumnRenamed("_fp", "_fp_new")
    return o.join(n, "doc_id", "full_outer").select(
        "doc_id",
        F.when(F.col("_fp_old").isNull(), F.lit("added"))
        .when(F.col("_fp_new").isNull(), F.lit("removed"))
        .when(F.col("_fp_old") != F.col("_fp_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )

