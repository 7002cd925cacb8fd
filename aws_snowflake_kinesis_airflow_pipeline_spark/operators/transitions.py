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


def event_transitions(events: DataFrame) -> DataFrame:
    """(from_type, to_type, n) over consecutive same-user events.

    Ties on (user_id, ts) order by event_id. Its NULLs sort LAST: Spark's default asc is NULLS FIRST while the
    ANSI engines this operator is replayed against (the s1 DuckDB oracle)
    default to NULLS LAST — pinning asc_nulls_last makes the tied-ts order
    engine-independent even on data with NULL tiebreak ids.
    """
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts"), F.col("event_id").asc_nulls_last()
    )
    nxt = events.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    return nxt.groupBy("from_type", "to_type").agg(F.count("*").alias("n"))
