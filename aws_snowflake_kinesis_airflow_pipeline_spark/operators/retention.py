"""Cohort retention — the second classic event-analytics matrix.

Users are cohorted by the week of their FIRST event; retention[c][k] is
how many of cohort c's users came back with any event k weeks later.
Together with ``operators/event_funnel`` this covers the two queries every
event pipeline (the reference's domain) ultimately feeds.

Scale shape: one aggregation for first-seen (1 row per user), one
broadcast-free shuffle join of the fact back to it on the user key, one
(cohort, offset) aggregation over distinct users. The distinct is the
only 2-key exchange and its domain is (cohorts × offsets × users-active),
bounded by the fact itself. Zero Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def cohort_retention(events: DataFrame) -> DataFrame:
    """(cohort timestamp, period_offset int, n_users long), by week.

    ``period_offset`` counts whole weeks between the user's cohort week
    and the activity week (0 = the cohort week itself, so
    retention[c][0] is the cohort size).
    """
    week = lambda c: F.date_trunc("week", c)
    first = events.groupBy("user_id").agg(week(F.min("ts")).alias("_cohort"))
    act = events.select(F.col("user_id"), week(F.col("ts")).alias("_p"))
    return (
        act.join(first, "user_id")
        .select(
            F.col("_cohort").cast("timestamp_ntz").alias("cohort"),
            (F.datediff("_p", "_cohort") / 7).cast("int").alias("period_offset"),
            F.col("user_id"),
        )
        .distinct()
        .groupBy("cohort", "period_offset")
        .agg(F.count("*").alias("n_users"))
    )
