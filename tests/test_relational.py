"""Unit tests for the reference-derived relational operators, covering the
edge cases the reference's logic implies (FIXTURES.md §1.4): NULL ids,
duplicate ids, empty batch."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Row

from aws_snowflake_kinesis_airflow_pipeline_spark.operators import relational

TS = dt.datetime(2024, 1, 1, 12, 0, 0)


def make_events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, event_type string, user_id long"
    )


def test_daily_event_summary_groups_by_date_and_type(spark):
    df = make_events(
        spark,
        [
            (1, dt.datetime(2024, 1, 1, 1), "view", 1),
            (2, dt.datetime(2024, 1, 1, 23), "view", 2),
            (3, dt.datetime(2024, 1, 2, 1), "view", 1),
            (4, dt.datetime(2024, 1, 1, 5), "click", 1),
        ],
    )
    out = {
        (r["event_date"].isoformat(), r["event_type"]): r
        for r in relational.daily_event_summary(df).collect()
    }
    assert out[("2024-01-01", "view")]["event_count"] == 2
    assert out[("2024-01-01", "view")]["first_event"] == dt.datetime(2024, 1, 1, 1)
    assert out[("2024-01-01", "view")]["last_event"] == dt.datetime(2024, 1, 1, 23)
    assert out[("2024-01-02", "view")]["event_count"] == 1
    assert out[("2024-01-01", "click")]["event_count"] == 1


def test_anti_join_dedup_drops_nulls_and_existing(spark):
    staging = make_events(
        spark,
        [
            (1, TS, "view", 1),
            (2, TS, "view", 1),
            (None, TS, "view", 1),  # reference filters NULL ids before insert
        ],
    )
    target = make_events(spark, [(1, TS, "view", 1)])
    got = sorted(
        r["event_id"]
        for r in relational.insert_dedup_anti_join(staging, target).collect()
    )
    assert got == [2]


def test_anti_join_dedup_empty_batch(spark):
    staging = make_events(spark, [])
    target = make_events(spark, [(1, TS, "view", 1)])
    assert relational.insert_dedup_anti_join(staging, target).count() == 0


def test_duplicate_and_incomplete_counts(spark):
    df = make_events(
        spark,
        [
            (1, TS, "view", 1),
            (1, TS, "view", 2),  # duplicate event_id
            (2, None, "view", 1),  # incomplete (null ts)
            (3, TS, None, 1),  # incomplete (null type)
        ],
    )
    assert relational.duplicate_count(df).first()["duplicate_count"] == 1
    assert relational.incomplete_count(df).first()["incomplete_count"] == 2
    dups = relational.duplicate_event_ids(df).collect()
    assert [(r["event_id"], r["n"]) for r in dups] == [(1, 2)]


def test_user_events_view_extracts_variant(spark):
    df = spark.createDataFrame(
        [
            Row(
                event_id=1,
                ts=TS,
                event_type="purchase",
                user_id=1,
                value=9.5,
                props='{"k": 42}',
            ),
            Row(
                event_id=2,
                ts=TS,
                event_type="view",
                user_id=1,
                value=1.0,
                props='{"k": 7}',
            ),
            Row(
                event_id=3,
                ts=TS,
                event_type="purchase",
                user_id=2,
                value=3.0,
                props="{}",
            ),
        ]
    )
    rows = {r["event_id"]: r for r in relational.user_events_view(df).collect()}
    assert set(rows) == {1, 3}  # purchase filter
    assert rows[1]["prop_k"] == 42
    assert rows[3]["prop_k"] is None  # missing path -> NULL (Snowflake semantics)
    assert rows[1]["price"] == 9.5
