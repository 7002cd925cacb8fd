"""Deterministic splitting / sampling for training-data pipelines.

`randomSplit`/`sample` are seed-dependent AND partitioning-dependent — the
same row can land in different splits when the cluster layout changes,
which silently leaks val data into train across reruns. These operators
derive the split from a content hash instead: a row's assignment is a pure
function of its key, reproducible on any cluster shape, any engine (md5 is
everywhere — the DuckDB oracle checks it bit-for-bit).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hash_bucket(col: Column | str, buckets: int = 1000) -> Column:
    """Stable bucket in [0, buckets): first 8 hex chars of md5 -> int.

    32-bit value — fits a long exactly; identical arithmetic in any engine.
    """
    c = F.col(col) if isinstance(col, str) else col
    h = F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("long")
    return h % buckets


def with_split(
    df: DataFrame,
    key_col: str,
    val_fraction: float = 0.1,
    buckets: int = 1000,
) -> DataFrame:
    """Attach a 'split' column ('train'/'val') keyed on content hash.
    The fraction is exact to 1/buckets granularity (round, not int: the
    binary product 0.57*10000 is 5699.999..., and truncation would
    silently keep one bucket fewer than the stated grid value)."""
    b = hash_bucket(key_col, buckets)
    val_hi = round(val_fraction * buckets)
    return df.withColumn("split", F.when(b < val_hi, "val").otherwise("train"))


def per_group_cap(
    df: DataFrame,
    key_col: str,
    group_col: str,
    cap: int,
    seed: int = 0,
) -> DataFrame:
    """Keep at most ``cap`` rows per group, chosen deterministically.

    The web-corpus "per-domain cap": no source may contribute more than
    ``cap`` documents, and which documents survive is a pure function of
    (seed, key) — the hash order of :func:`shuffle_hash` — so reruns,
    repartitions, and engine swaps keep the identical sample. Adds a
    1-based ``sample_rank`` column (the row's position in its group's hash
    order).

    Scale shape: one shuffle on ``group_col``. The rank-filter form is
    deliberate — Spark ≥3.5 rewrites ``row_number() <= cap`` into
    WindowGroupLimit, so every input partition forwards at most ``cap``
    rows per group into the exchange; a hot domain costs O(cap · partitions)
    shuffle rows, not its full document count.
    """
    from pyspark.sql.window import Window

    c = F.col(key_col)
    w = Window.partitionBy(group_col).orderBy(shuffle_hash(c, seed), c)
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= cap)
    )


def per_group_weight_budget(
    df: DataFrame,
    key_col: str,
    group_col: str,
    weight_col: str,
    budget: int,
    seed: int = 0,
) -> DataFrame:
    """Keep rows, in deterministic hash order, until each group's running
    weight total would exceed ``budget``.

    The token-budget variant of :func:`per_group_cap`: instead of counting
    documents it sums a weight (token count) along the same (seed, key)
    hash order and keeps the maximal prefix whose cumulative weight stays
    ≤ ``budget`` — "give me ~1B tokens per source, sampled reproducibly".
    Adds ``cum_weight`` (the running total including the row itself).

    One shuffle on ``group_col``; the running sum is a framed window
    aggregate with O(1) state per group. Unlike the cap, the prefix filter
    cannot be pushed below the exchange (a row's fate depends on every
    earlier row's weight), so budget sampling costs the full group's rows
    in the shuffle — cap first when both are wanted.
    """
    from pyspark.sql.window import Window

    c = F.col(key_col)
    w = (
        Window.partitionBy(group_col)
        .orderBy(shuffle_hash(c, seed), c)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn(
            "cum_weight", F.sum(F.col(weight_col).cast("long")).over(w)
        )
        .filter(F.col("cum_weight") <= budget)
    )


def shuffle_hash(col: Column | str, seed: int = 0) -> Column:
    """The (seed, key) -> int64 hash whose sort order IS the training-order
    permutation: the first 8 hex chars of md5("seed:key") as an integer —
    bit-identical in any engine, so the DuckDB oracle recomputes every
    order it selects (xxhash64 is cheaper but JVM-only)."""
    c = F.col(col) if isinstance(col, str) else col
    h = F.md5(F.concat_ws(":", F.lit(seed), c.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long")


def with_shuffle_rank(df: DataFrame, seed: int = 0) -> DataFrame:
    """Pseudo-random training order as a pure function of (seed, doc_id),
    materialized as a ``shuffle_rank`` column (1-based within each
    ``split``): the row's position in (shuffle_hash(seed, doc_id), doc_id)
    order. Unlike orderBy(rand()) the order
    survives reruns, repartitions and speculative retries, and changing
    the seed gives an independent epoch permutation.

    Contract: ``doc_id`` must uniquely identify rows; rows sharing an id
    tie on both sort components and their relative order would again be
    partition-dependent — dedup first.

    The rank is per split: an un-partitioned rank would be a
    single-partition window.
    """
    from pyspark.sql.window import Window

    c = F.col("doc_id")
    order = [shuffle_hash(c, seed), c]
    w = Window.partitionBy("split").orderBy(*order)
    return df.withColumn("shuffle_rank", F.row_number().over(w).cast("long"))
