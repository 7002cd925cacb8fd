"""As-of (point-in-time) join — for each left row, the latest right row with
``right_ts <= left_ts`` per key. The staple operator for event enrichment
(attach the most recent prior state/quote/view to each event) that neither
the reference nor vanilla Spark SQL provides.

Spark-first formulation: union the two sides tagged, sort within each key by
time, and carry the last-seen right payload forward with
``last(..., ignorenulls=True)`` over a running window. One shuffle on the
key — same cost as a regular sort-merge join, no per-row lookups, no
range-explosion. At 100 TB the carried window state per key is one payload
row, so memory is flat regardless of history length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload_cols: list[str],
) -> DataFrame:
    """For every left row, attach ``payload_cols`` from the latest right row
    at-or-before its timestamp (per ``key``).

    Output columns: all of ``left``'s, then ``payload_cols``. Payload names
    must not collide with left's columns. Unmatched left rows are kept
    with a NULL payload (a left as-of join).
    """
    left_other = [c for c in left.columns if c != key]
    overlap = set(payload_cols) & set(left.columns)
    if overlap:
        raise ValueError(f"payload columns collide with left columns: {overlap}")

    left_dtypes = dict(left.dtypes)
    right_dtypes = dict(right.dtypes)
    struct_type = (
        "struct<" + ",".join(f"{c}:{right_dtypes[c]}" for c in payload_cols) + ">"
    )

    # The payload travels as ONE struct so the carried value is always a
    # whole right row — per-column last(ignorenulls) would stitch together
    # fields from different right rows whenever payload columns contain
    # NULLs (a torn row that never existed).
    lhs = left.select(
        F.col(key),
        F.col(left_ts).alias("_t"),
        F.lit(1).alias("_is_left"),
        F.lit(None).cast(struct_type).alias("_payload"),
        *[F.col(c) for c in left_other],
    )
    # NULL-timestamp right rows can match nothing ('rts <= lts' is never
    # true), but asc ordering puts NULLs FIRST — unfiltered they'd be
    # carried as the payload for every left row. Drop them up front.
    rhs = right.filter(F.col(right_ts).isNotNull()).select(
        F.col(key),
        F.col(right_ts).alias("_t"),
        F.lit(0).alias("_is_left"),
        F.struct(*[F.col(c) for c in payload_cols]).alias("_payload"),
        *[F.lit(None).cast(left_dtypes[c]).alias(c) for c in left_other],
    )
    unioned = lhs.union(rhs)

    # Right rows sort before left rows at equal timestamps so '<=' holds.
    # _payload as the final key makes the carried row deterministic when two
    # right rows tie on (key, timestamp): struct ordering is field-wise, so
    # last() always carries the max payload struct instead of whichever row
    # the shuffle happened to order last. (Left rows all have NULL payload —
    # their relative order is irrelevant to last(ignorenulls).) Map-typed
    # payloads are not orderable in Spark, so the tiebreak is skipped for
    # them — ties on (key, ts) then carry an arbitrary one of the tied
    # right rows, as before.
    orderable = not any("map<" in right_dtypes[c] for c in payload_cols)
    order_keys = [F.col("_t"), F.col("_is_left")]
    if orderable:
        order_keys.append(F.col("_payload").asc_nulls_first())
    w = (
        Window.partitionBy(key)
        .orderBy(*order_keys)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        F.col(key),
        F.col("_is_left"),
        F.last(F.col("_payload"), ignorenulls=True).over(w).alias("_payload"),
        *[F.col(c) for c in left_other],
    )
    return carried.filter(F.col("_is_left") == 1).select(
        key,
        *left_other,
        *[F.col(f"_payload.{c}").alias(c) for c in payload_cols],
    )
