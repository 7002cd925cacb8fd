"""Event-path transition counts — the Markov view of user journeys.

For each user's time-ordered event sequence, count (from_type, to_type)
transitions corpus-wide. The third event-analytics staple next to
``event_funnel`` (ordered conversion) and ``retention`` (cohorts).

Scale shape: one window (lead over the per-user time order — a single
shuffle on the user key, each partition sorts locally) and one bounded
aggregation over (from, to) pairs — |event types|² rows out. Ties on
(user, ts) are ordered by an explicit tiebreak column so the result is a
pure function of the data, not of partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def event_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """(from_type, to_type, n) over consecutive same-user events.

    Tiebreak NULLs sort LAST: Spark's default asc is NULLS FIRST while the
    ANSI engines this operator is replayed against (the s1 DuckDB oracle)
    default to NULLS LAST — pinning asc_nulls_last makes the tied-ts order
    engine-independent even on data with NULL tiebreak ids.
    """
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col), F.col(tiebreak_col).asc_nulls_last()
    )
    nxt = events.select(
        F.col(type_col).alias("from_type"),
        F.lead(type_col).over(w).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    return nxt.groupBy("from_type", "to_type").agg(F.count("*").alias("n"))
