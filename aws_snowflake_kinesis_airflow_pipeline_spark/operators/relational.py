"""Reference-derived relational operators (SURVEY.md §2 Part A).

Each function re-expresses one SQL statement the reference ships to Snowflake,
as a DataFrame transform over the fixture ``events`` table. Column mapping
(FIXTURES.md §2.1): ``event_timestamp`` -> ``ts``, ``data`` VARIANT ->
``props`` JSON string.

Scale notes are inline per operator; the common posture: group-bys use
partial (map-side) aggregation automatically, the dedup anti-join is a
shuffle-on-event_id join whose build side Catalyst/AQE can flip to broadcast
when the "already loaded" set is small, and nothing ever collects to the
driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.variant import variant_get

#: Columns the reference requires non-null before insert
#: (reference airflow/dags/snowflake_data_pipeline.py:141,165-170).
REQUIRED_EVENT_COLS = ("event_id", "ts", "event_type", "user_id")


def daily_event_summary(events: DataFrame) -> DataFrame:
    """The reference's materialized hourly summary (CTAS).

    Re-expression of ``CREATE OR REPLACE TABLE daily_event_summary AS SELECT
    DATE(event_timestamp), event_type, COUNT(*), MIN(ts), MAX(ts) ... GROUP BY
    1, 2`` (reference sql/create_snowflake_tables.sql:31-39, re-run hourly at
    dags/kinesis_to_snowflake_dag.py:49-60).

    Scale: two grouping keys of low cardinality (dates x 5 event types) —
    partial aggregation collapses each input partition to a handful of rows
    before the shuffle, so this is scan-bound at any SF.
    """
    return (
        events.groupBy(
            F.to_date("ts").alias("event_date"),
            "event_type",
        )
        .agg(
            F.count("*").alias("event_count"),
            F.min("ts").alias("first_event"),
            F.max("ts").alias("last_event"),
        )
    )


def user_events_view(events: DataFrame) -> DataFrame:
    """The reference's ``user_events`` view: purchase-only projection with
    VARIANT path extraction (reference sql/create_snowflake_tables.sql:18-28).

    ``data:product_id::VARCHAR`` / ``data:price::FLOAT`` map to
    ``props:k::INT`` on the fixture schema (props is ``{"k": <int>}``).
    The filter and the two physical column reads push down to the parquet
    scan; JSON extraction happens post-scan in codegen.
    """
    return events.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.col("ts").alias("event_timestamp"),
        variant_get("k", "int").alias("prop_k"),
        F.col("value").alias("price"),
    )


def insert_dedup_anti_join(staging: DataFrame, target: DataFrame) -> DataFrame:
    """Rows of ``staging`` safe to append to ``target`` without duplicating.

    The reference dedups at-least-once ingest with ``WHERE event_id IS NOT
    NULL AND event_id NOT IN (SELECT event_id FROM EVENTS)`` (reference
    airflow/dags/snowflake_data_pipeline.py:141-142). ``NOT IN`` over a
    subquery with NULLs returns no rows; we replicate the reference's *full*
    predicate — not-null filter first, then anti-join — which is also the
    NULL-safe formulation (SURVEY.md §2 J1).

    Scale: left-anti join shuffles both sides on event_id unless the target
    id set is broadcastable. At 100 TB the target side must be pruned first
    (e.g. to the partition/hour range the staging batch can overlap) — the
    caller controls that; this operator stays a pure anti-join.
    """
    return staging.filter(F.col("event_id").isNotNull()).join(
        target.select("event_id"), on="event_id", how="left_anti"
    )


def duplicate_event_ids(events: DataFrame) -> DataFrame:
    """event_ids appearing more than once, with their counts.

    DQ check #1 of the reference: ``SELECT event_id, COUNT(*) ... GROUP BY
    event_id HAVING COUNT(*) > 1`` (reference
    airflow/dags/snowflake_data_pipeline.py:156-162).
    """
    return (
        events.groupBy("event_id")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
    )


def duplicate_count(events: DataFrame) -> DataFrame:
    """Scalar wrapper over :func:`duplicate_event_ids` (the outer COUNT(*)
    the reference's DQ task pushes to XCom)."""
    return duplicate_event_ids(events).agg(
        F.count("*").alias("duplicate_count")
    )


def incomplete_predicate() -> F.Column:
    """Disjunctive NULL predicate over the required event columns
    (reference airflow/dags/snowflake_data_pipeline.py:165-170) — shared by
    every check so the required set can't drift between them."""
    pred = None
    for c in REQUIRED_EVENT_COLS:
        p = F.col(c).isNull()
        pred = p if pred is None else (pred | p)
    return pred


def incomplete_count(events: DataFrame) -> DataFrame:
    """DQ check #2: rows missing any required column."""
    return events.filter(incomplete_predicate()).agg(
        F.count("*").alias("incomplete_count")
    )


def dq_counts(events: DataFrame) -> DataFrame:
    """Both reference DQ scalars in one row: (duplicate_count,
    incomplete_count) — the two checks the reference's quality task runs
    back to back (reference airflow/dags/snowflake_data_pipeline.py:154-170).
    crossJoin combines two single-row aggregates (bounded 1x1)."""
    return duplicate_count(events).crossJoin(incomplete_count(events))
