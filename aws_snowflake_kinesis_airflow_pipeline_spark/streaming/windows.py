"""Streaming window operators (SURVEY.md §2 B14-B16) + batch equivalents.

Each window operator runs unchanged on a streaming or a bounded frame: the
input's ``isStreaming`` decides whether the watermark goes on, so the test
harness asserts stream(availableNow) == batch on one function, and the
batch form doubles as an oracle-checkable registry query.

Watermarks bound state: a tumbling/sliding agg keeps only windows newer than
(max event time - watermark); dropDuplicatesWithinWatermark evicts seen-key
state past the horizon. That bounded-state discipline is what makes these
run indefinitely at 100 TB/day.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

WATERMARK = "10 minutes"
SESSION_GAP_MINUTES = 30


def _with_watermark(df: DataFrame, ts_col: str) -> DataFrame:
    """Watermarks require TIMESTAMP; the engine stores TIMESTAMP_NTZ. Cast
    for state tracking (value-preserving under the pinned UTC session) —
    outputs cast window bounds back to NTZ so stream == batch."""
    return df.withColumn(ts_col, F.col(ts_col).cast("timestamp")).withWatermark(
        ts_col, WATERMARK
    )


def tumbling_counts(events: DataFrame) -> DataFrame:
    """Per-(hour window, event_type) counts over tumbling windows; on a
    stream, late rows beyond the watermark are dropped (B14)."""
    src = _with_watermark(events, "ts") if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            F.col("w.end").cast("timestamp_ntz").alias("window_end"),
            "event_type",
            "n",
        )
    )


def sliding_counts(events: DataFrame) -> DataFrame:
    """Counts over 1-hour windows sliding every 30 minutes (each row lands
    in two windows)."""
    src = _with_watermark(events, "ts") if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            F.col("w.end").cast("timestamp_ntz").alias("window_end"),
            "n",
        )
    )


def session_counts(events: DataFrame) -> DataFrame:
    """Session windows per user: a session extends while consecutive
    events arrive within the gap (B15). On a stream Spark merges/expires
    session state using the watermark; on a bounded frame the same
    session_window function runs without it."""
    src = _with_watermark(events, "ts") if events.isStreaming else events
    gap = f"{SESSION_GAP_MINUTES} minutes"
    return (
        src.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            F.col("w.end").cast("timestamp_ntz").alias("session_end"),
            "user_id",
            "n",
        )
    )


def keyed_sliding_counts(events: DataFrame) -> DataFrame:
    """Per-(sliding window, event_type) counts — the state layer of
    trending top-k (B38). Watermark-bounded on a stream like
    :func:`sliding_counts`; state is one counter per live (window, key)."""
    src = _with_watermark(events, "ts") if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            F.col("w.end").cast("timestamp_ntz").alias("window_end"),
            "event_type",
            "n",
        )
    )


def rank_trending(counts: DataFrame) -> DataFrame:
    """Top-k keys per window by (count desc, key asc) — the deterministic
    finisher of trending top-k (B38).

    Applied to BATCH frames only: an append-mode streaming aggregate
    cannot host a rank (the rank of a window's keys isn't final until the
    watermark closes the window). In a live pipeline this runs inside
    foreachBatch over closed windows — exactly what the stream==batch
    test composes. The per-window rank is a bounded window function: each
    partition is one (window_start, window_end) group with ≤ |keys| rows.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("window_start", "window_end").orderBy(
        F.col("n").desc(), F.col("event_type").asc()
    )
    return (
        counts.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= 2)
        .drop("_rk")
    )


def trending_topk(events: DataFrame) -> DataFrame:
    """Batch trending top-2: the two most frequent event types in every
    sliding window (B38). The streaming form is
    :func:`keyed_sliding_counts` on the stream → :func:`rank_trending`
    over each closed window."""
    return rank_trending(keyed_sliding_counts(events))


def dedup_within_watermark(events: DataFrame, key_cols: list[str]) -> DataFrame:
    """Stateful streaming dedup (B16): drop rows whose keys were already
    seen, with state evicted past the watermark horizon — the streaming
    form of the reference's NOT-IN insert filter (J1) with bounded memory.

    ``ts`` is cast back to TIMESTAMP_NTZ on the way out (the
    watermark needs the TZ-aware type for state tracking, but every
    consumer — the NTZ events table, unions with the batch twin — runs
    on the engine-wide NTZ contract; see the module note on window
    bounds)."""
    deduped = _with_watermark(events, "ts").dropDuplicatesWithinWatermark(
        key_cols
    )
    return deduped.withColumn("ts", F.col("ts").cast("timestamp_ntz"))


def batch_dedup_keep_first(events: DataFrame) -> DataFrame:
    """Batch twin of :func:`dedup_within_watermark`: keep the earliest row
    per ``event_id`` (ROW_NUMBER over ``ts`` = 1) — what the streaming dedup
    converges to on a bounded frame where every duplicate arrives inside
    the watermark. One shuffle on the keys; per-key state is one row.

    Ties on (key, ts) pick an arbitrary row among the tied ones — callers
    needing oracle-grade determinism must ensure tied rows are identical
    (true for at-least-once replay duplicates, the case this models).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("event_id").orderBy("ts")
    return (
        events.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def batch_sessions_gaps_and_islands(events: DataFrame) -> DataFrame:
    """Batch session assignment by the classic gaps-and-islands window trick
    (lag -> new-session flag -> running sum as session id). Semantically the
    batch ground truth for :func:`session_counts`."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts")
    gap_expr = F.lit(SESSION_GAP_MINUTES * 60)
    # NTZ has no direct cast to long in Spark 4; route through TIMESTAMP
    # (value-preserving under the engine's pinned UTC session TZ).
    epoch = F.col("ts").cast("timestamp").cast("long")
    with_flag = events.withColumn(
        "new_session",
        # strict '>': session_window's end (last event + gap) is INCLUSIVE —
        # an event at exactly prev+gap merges into the session (verified
        # empirically against session_window in the boundary test).
        F.when(epoch - F.lag(epoch).over(w) > gap_expr, 1)
        .otherwise(0)
        .cast("long"),
    )
    with_id = with_flag.withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        with_id.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_last_event"),
            F.count("*").alias("n"),
        )
    )
