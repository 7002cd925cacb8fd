"""Skew-mitigation operators — the hand-rolled counterpart to AQE's skew
handling, for the cases AQE can't fix (skewed *aggregation* keys, and joins
where runtime stats arrive too late).

At 100 TB a single hot key (one user generating 10% of events, one null-ish
default id) serializes a whole shuffle partition. Salting splits the hot
key's rows across N sub-keys, aggregates partially per sub-key, then merges:
two small shuffles instead of one stuck straggler.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_count_by_key(
    df: DataFrame, key: str, n_salts: int = 16
) -> DataFrame:
    """COUNT(*) GROUP BY key with two-phase salted aggregation.

    Phase 1 groups on (key, salt) — the hot key fans out across n_salts
    reducers; phase 2 merges the partial counts per key. Result is
    identical to a plain groupBy().count(); only the shuffle shape differs.
    (For count/sum/min/max Spark's partial aggregation already achieves
    this map-side; the explicit form matters for exact count-distinct and
    collect-style aggregates where map-side combine can't compress.)
    """
    salt = F.pmod(F.monotonically_increasing_id(), F.lit(n_salts)).alias("_salt")
    partial = (
        df.select(F.col(key), salt)
        .groupBy(key, "_salt")
        .agg(F.count("*").alias("_partial"))
    )
    return partial.groupBy(key).agg(F.sum("_partial").alias("n"))


def salted_distinct_count_by_key(
    df: DataFrame, key: str, distinct_col: str, n_salts: int = 16
) -> DataFrame:
    """COUNT(DISTINCT distinct_col) GROUP BY key, salt-safe.

    Phase 1 dedups (key, value) pairs sharded by a *value-derived* salt —
    the same value always lands in the same shard, so cross-shard double
    counting is impossible; phase 2 sums per-shard distinct counts.
    """
    salt = F.pmod(F.xxhash64(F.col(distinct_col)), F.lit(n_salts)).alias("_salt")
    per_shard = (
        # COUNT(DISTINCT x) ignores NULLs; without this filter a NULL value
        # would survive distinct() and count as one extra per key.
        df.filter(F.col(distinct_col).isNotNull())
        .select(F.col(key), F.col(distinct_col), salt)
        .distinct()
        .groupBy(key, "_salt")
        .agg(F.count("*").alias("_d"))
    )
    per_key = per_shard.groupBy(key).agg(F.sum("_d").alias("n_distinct"))
    # keys whose values are all NULL must still appear (with 0), exactly as
    # groupBy().agg(countDistinct) reports them. The re-attach join must be
    # NULL-safe: groupBy treats NULL as a real key, but a plain equi-join
    # would drop it and misreport the NULL key's count as 0.
    all_keys = df.select(key).distinct().alias("ak")
    joined = all_keys.join(
        per_key.alias("pk"),
        F.col(f"ak.{key}").eqNullSafe(F.col(f"pk.{key}")),
        "left",
    )
    return joined.select(
        F.col(f"ak.{key}").alias(key),
        F.coalesce("n_distinct", F.lit(0)).alias("n_distinct"),
    )


def _require_salts(n_salts: int) -> None:
    """n_salts < 1 must raise, not silently corrupt: replicating the right
    side zero times makes an inner join return nothing (loud) but makes an
    ANTI join keep EVERY left row — the filter silently disappears."""
    if n_salts < 1:
        raise ValueError(f"n_salts must be >= 1, got {n_salts}")


def salted_inner_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    n_salts: int = 8,
) -> DataFrame:
    """Inner equi-join resilient to left-side key skew.

    Left rows get a deterministic row-salt; the (small) right side is
    replicated once per salt value, and the join runs on (key, salt) — a
    hot left key spreads over n_salts partitions instead of one.
    Row-for-row identical to ``left.join(right, key)``.

    Use when the right side is too big to broadcast but small enough to
    replicate n_salts times; otherwise prefer AQE's skew-join split.
    """
    _require_salts(n_salts)
    salted_left = left.withColumn(
        "_salt", F.pmod(F.monotonically_increasing_id(), F.lit(n_salts))
    )
    salts = F.explode(
        F.array(*[F.lit(i).cast("long") for i in range(n_salts)])
    ).alias("_salt")
    replicated_right = right.select("*", salts)
    out = salted_left.join(replicated_right, [key, "_salt"], "inner")
    return out.drop("_salt")


def salted_left_anti_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    n_salts: int = 8,
) -> DataFrame:
    """Left-anti equi-join resilient to left-side key skew.

    Same construction as ``salted_inner_join``: left rows get a
    deterministic row-salt, the right side is replicated once per salt,
    and the anti-join runs on (key, salt). Semantics are unchanged — a
    left row is dropped iff the replicated right contains (key, its salt),
    and replication guarantees every salt of every right key exists.
    Row-for-row identical to ``left.join(right, key, "left_anti")``.

    Exists because AQE's skew split CANNOT reach this shape: the rule
    pattern-matches a join whose children are sorts directly over shuffle
    stages, and the typical anti-join right side (a groupBy-derived hot
    set) interposes an aggregate, so a hot left key — the boilerplate
    line every document carries — stays one straggler partition. The
    production-default escape is broadcasting the small right side; use
    this form when the right side outgrows broadcast.
    """
    _require_salts(n_salts)
    salted_left = left.withColumn(
        "_salt", F.pmod(F.monotonically_increasing_id(), F.lit(n_salts))
    )
    salts = F.explode(
        F.array(*[F.lit(i).cast("long") for i in range(n_salts)])
    ).alias("_salt")
    replicated_right = right.select(F.col(key), salts)
    out = salted_left.join(replicated_right, [key, "_salt"], "left_anti")
    return out.drop("_salt")

