"""Ordered event-funnel conversion — view → click → purchase analytics.

The classic event-pipeline question over the reference's own domain
(`scripts/kinesis_data_producer.py:21-37` generates exactly these event
types): of the users who did step 1, how many went on to do step 2 and
then step 3, in order, within a time budget of the first step?

Semantics (deterministic, SQL-replayable): a user completes step k when
they have an event of type ``steps[k]`` STRICTLY after their step-(k-1)
completion time and no later than one hour after their step-1 time;
each completion time is the EARLIEST qualifying event (greedy-earliest —
the standard funnel definition; a user completing by some later path but
not the earliest one does not count, which keeps the result a pure
function of per-user event sets).

Scale shape: step 1 is one filtered aggregation (1 row per converting
user). Each later step is one filtered scan of the fact joined to the
previous step's per-user table (shuffle join on the user key — the right
side is ≤1 row per user, shrinking every step) and re-aggregated. For a
k-step funnel: k filtered scans, k-1 user-key joins, zero Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def funnel_completion_times(events: DataFrame, steps: list[str]) -> DataFrame:
    """Per-user completion times within one hour of step 1: (user_id, t1,
    t2, ... tk) with NULLs from the first uncompleted step onward (users
    with no step-1 event are absent)."""
    if len(steps) < 2:
        raise ValueError("funnel needs >= 2 steps")
    deadline = F.expr("INTERVAL 1 hour")
    cur = (
        events.filter(F.col("event_type") == steps[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    for k, step in enumerate(steps[1:], start=2):
        nxt = (
            events.filter(F.col("event_type") == step)
            .select("user_id", F.col("ts").alias("_ts"))
            .join(cur, "user_id")
            .filter(
                (F.col("_ts") > F.col(f"t{k-1}"))
                & (F.col("_ts") <= F.col("t1") + deadline)
            )
            .groupBy("user_id")
            .agg(F.min("_ts").alias(f"t{k}"))
        )
        cur = cur.join(nxt, "user_id", "left")
    return cur


def funnel_conversion(events: DataFrame, steps: list[str]) -> DataFrame:
    """(step, step_idx, n_users): users completing steps[0..idx] in order
    within one hour of step 1. n_users is non-increasing in step_idx by
    construction."""
    times = funnel_completion_times(events, steps)
    counts = times.agg(
        *[
            F.count(F.col(f"t{k}")).cast("long").alias(f"n{k}")
            for k in range(1, len(steps) + 1)
        ]
    )
    rows = None
    for k, step in enumerate(steps, start=1):
        r = counts.select(
            F.lit(step).alias("step"),
            F.lit(k).cast("int").alias("step_idx"),
            F.col(f"n{k}").alias("n_users"),
        )
        rows = r if rows is None else rows.unionByName(r)
    return rows
