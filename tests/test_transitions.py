"""Event transition counts (operators/transitions.py).

Pins: exact counts vs a pure-Python replay on hand-built and randomized
journeys, tie determinism via the tiebreak column, and partition
invariance.
"""

from __future__ import annotations

import datetime as dt
import random
from collections import Counter

import pytest

from aws_snowflake_kinesis_airflow_pipeline_spark.operators.transitions import (
    event_transitions,
)

T0 = dt.datetime(2024, 6, 1)


def _py_transitions(rows):
    by_user = {}
    for eid, u, ts, et in rows:
        by_user.setdefault(u, []).append((ts, eid, et))
    c = Counter()
    for seq in by_user.values():
        seq.sort()
        for (_, _, a), (_, _, b) in zip(seq, seq[1:]):
            c[(a, b)] += 1
    return dict(c)


def _run(spark, rows):
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp_ntz, event_type string"
    )
    return {
        (r["from_type"], r["to_type"]): r["n"]
        for r in event_transitions(df).collect()
    }


def test_hand_built(spark):
    rows = [
        (1, 1, T0, "view"),
        (2, 1, T0 + dt.timedelta(minutes=1), "click"),
        (3, 1, T0 + dt.timedelta(minutes=2), "purchase"),
        (4, 2, T0, "view"),
        (5, 2, T0 + dt.timedelta(minutes=5), "view"),
        (6, 3, T0, "click"),  # single event: no transition
    ]
    assert _run(spark, rows) == {
        ("view", "click"): 1,
        ("click", "purchase"): 1,
        ("view", "view"): 1,
    }


def test_tie_determinism(spark):
    # Two events at the SAME timestamp: order decided by event_id.
    rows = [
        (10, 1, T0, "view"),
        (11, 1, T0, "click"),  # same ts, higher id -> after view
        (12, 1, T0 + dt.timedelta(minutes=1), "purchase"),
    ]
    assert _run(spark, rows) == {
        ("view", "click"): 1,
        ("click", "purchase"): 1,
    }


def test_null_tiebreak_sorts_last(spark):
    # A NULL event_id on a tied timestamp sorts AFTER the non-NULL ids
    # (asc_nulls_last), matching the ANSI NULLS LAST default the s1
    # DuckDB oracle's ORDER BY ts, event_id uses — without the pin,
    # Spark's NULLS FIRST default would silently flip this journey to
    # err -> view -> click.
    rows = [
        (20, 1, T0, "view"),
        (None, 1, T0, "err"),  # same ts, NULL id -> last of the tie
        (22, 1, T0 + dt.timedelta(minutes=1), "click"),
    ]
    assert _run(spark, rows) == {
        ("view", "err"): 1,
        ("err", "click"): 1,
    }


def test_randomized_against_python_and_partitions(spark):
    rng = random.Random(31)
    rows = []
    eid = 0
    for u in range(40):
        for _ in range(rng.randint(1, 15)):
            rows.append(
                (
                    eid,
                    u,
                    T0 + dt.timedelta(minutes=rng.randint(0, 500)),
                    rng.choice(["view", "click", "purchase", "error"]),
                )
            )
            eid += 1
    got = _run(spark, rows)
    assert got == _py_transitions(rows) and len(got) > 8
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp_ntz, event_type string"
    )
    got7 = {
        (r["from_type"], r["to_type"]): r["n"]
        for r in event_transitions(df.repartition(7)).collect()
    }
    assert got7 == got
