"""Leakage-safe train/val/test splitting — near-duplicates never straddle.

A plain per-document hash split leaks: two near-duplicate documents can
land one in train and one in val, and the eval score silently measures
memorization. The standard fix (the reason dedup pipelines run BEFORE
split assignment) is to split by near-dup CLUSTER: every member of a
duplicate group draws the same split, keyed on the group's canonical id.

Composition of existing engine pieces, no new algorithmic machinery:
``dedup.minhash_lsh_pairs`` (or any (id1, id2) pair set the caller already
has) → ``dedup.connected_components`` → group key = component min-id for
clustered docs, own id for singletons → ``sampling.with_split`` on the
group key (portable md5 bucketing, so the assignment is reproducible in
any engine).

Scale shape: the pair set and components are near-dup-volume (tiny next
to the corpus); the only corpus-sized operations are one left join of the
corpus to the (id, component) table and the hash split projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import connected_components, minhash_lsh_pairs
from .sampling import with_split


def leakage_safe_split(
    docs: DataFrame,
    val_fraction: float = 0.1,
    threshold: float = 0.8,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Input rows + ``split_key`` (the cluster-canonical ``doc_id``) +
    ``split``.

    ``pairs``: pre-computed (id1, id2) near-dup pairs; when omitted the
    MinHash-LSH operator runs over ``text`` at ``threshold``. Guarantee (tested): no
    pair's two documents ever receive different splits.
    """
    if pairs is None:
        pairs = minhash_lsh_pairs(docs, threshold=threshold)
    comp = connected_components(pairs).withColumnRenamed("id", "doc_id")
    keyed = docs.join(comp, "doc_id", "left").withColumn(
        "split_key", F.coalesce(F.col("component"), F.col("doc_id"))
    ).drop("component")
    return with_split(keyed, "split_key", val_fraction=val_fraction)
