"""Stream-stream interval join (B31): correlate two event streams on a key
plus a time-range predicate, with watermarks on BOTH sides so Spark can bound
the join state (each side buffers only rows inside watermark + interval).

Reference parity: the reference's pipeline lands clickstream-style events
(``scripts/kinesis_data_producer.py:21-37`` emits page_view/click/purchase
event types) and correlates them downstream in SQL; the streaming-native
form of that correlation is Structured Streaming's watermarked interval
join, which this module provides; the same function runs the exact batch
join when its input is bounded.

Semantics: for every *purchase* event, find the same user's *click* events
in the half-open window ``(purchase_ts - MAX_LAG, purchase_ts]``. The
streaming form is an append-mode stream-stream inner self-join — supported
since Spark 2.3 — whose state for each side is evicted once the watermark
passes ``ts + MAX_LAG``. A bounded input gets the identical join as a
batch plan; ``tests/test_streaming.py`` pins stream == batch and the registry's
``s1_window_counts`` pack pins the hourly rollup against DuckDB.

Scale note: at cluster scale this is a shuffle on ``user_id`` for both
sides plus per-key state bounded by ``watermark + MAX_LAG`` of traffic —
the canonical shape; no cross product exists because the equi-key is part
of the join condition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .windows import _with_watermark

#: The join's lag bound, as an INTERVAL literal and in seconds (the batch
#: join's time-bucket width).
MAX_LAG = "30 minutes"
_MAX_LAG_S = 30 * 60


def interval_join_pairs(events: DataFrame) -> DataFrame:
    """(purchase event, prior click by the same user within MAX_LAG) pairs.
    A streaming ``events`` gets the watermarked stream-stream join; a
    bounded one the bucketed batch join.

    Returns columns: user_id, left_id, left_ts, right_id, right_ts.
    """
    left = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("left_id"),
        F.col("ts").alias("left_ts"),
    )
    right = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("r_user_id"),
        F.col("event_id").alias("right_id"),
        F.col("ts").alias("right_ts"),
    )
    if events.isStreaming:
        left = _with_watermark(left, "left_ts")
        right = _with_watermark(right, "right_ts")
        cond = (
            (left["user_id"] == right["r_user_id"])
            & (right["right_ts"] <= left["left_ts"])
            & (
                right["right_ts"]
                > left["left_ts"] - F.expr(f"INTERVAL {MAX_LAG}")
            )
        )
        return left.join(right, cond, "inner").select(
            "user_id", "left_id", "left_ts", "right_id", "right_ts"
        )
    # Batch twin: OSS Spark has no range-join optimization, so a plain
    # (user == user AND ts-range) join sort-merges on user_id alone and
    # filters the range AFTER pairing — per-user QUADRATIC in history
    # length (13.6 s of s1's sf10 cost was this join). Bucketing both
    # sides into lag-width time buckets and joining on
    # (user, bucket ∈ {same, next}) keeps candidates temporally local:
    # a qualifying right event lands in the left's bucket or the one
    # before, so each right row is emitted into {b, b+1} and the equi-join
    # on (user, bucket) covers every qualifying pair exactly once (the two
    # tags can't both equal the left bucket). Same results, one equi-join,
    # candidate volume O(events per user-bucket pair) instead of
    # O(events per user)^2.
    lbucket = F.floor(F.unix_timestamp(left["left_ts"]) / _MAX_LAG_S)
    rbucket = F.floor(F.unix_timestamp(right["right_ts"]) / _MAX_LAG_S)
    left_b = left.withColumn("_b", lbucket)
    right_b = right.withColumn(
        "_b", F.explode(F.array(rbucket, rbucket + 1))
    )
    cond = (
        (left_b["user_id"] == right_b["r_user_id"])
        & (left_b["_b"] == right_b["_b"])
        & (right_b["right_ts"] <= left_b["left_ts"])
        & (
            right_b["right_ts"]
            > left_b["left_ts"] - F.expr(f"INTERVAL {MAX_LAG}")
        )
    )
    return left_b.join(right_b, cond, "inner").select(
        left_b["user_id"], "left_id", "left_ts", "right_id", "right_ts"
    )


def interval_join_hourly_counts(events: DataFrame) -> DataFrame:
    """Hourly rollup of the interval join — matches per hour of the left
    event. Batch shape used by the registry pack; the streaming form of the
    rollup would add a windowed aggregate after the join (append mode)."""
    pairs = interval_join_pairs(events)
    hour = F.date_trunc("hour", F.col("left_ts"))
    return (
        pairs.groupBy(hour.alias("window_start"))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("window_start").cast("timestamp_ntz"),
            (F.col("window_start") + F.expr("INTERVAL 1 HOUR"))
            .cast("timestamp_ntz")
            .alias("window_end"),
            F.col("n"),
        )
    )
