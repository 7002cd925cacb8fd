"""Cohort retention (operators/retention.py).

Pins: the weekly matrix against a pure-Python replay on hand-built and
randomized event sets, offset-0 == cohort size.
"""

from __future__ import annotations

import datetime as dt
import random
from collections import defaultdict

from aws_snowflake_kinesis_airflow_pipeline_spark.operators.retention import (
    cohort_retention,
)

T0 = dt.datetime(2024, 1, 1)  # a Monday: week truncation lands here


def _py_retention(rows):
    def trunc(ts):
        d = ts.date()
        m = d - dt.timedelta(days=d.weekday())
        return dt.datetime(m.year, m.month, m.day)

    first = {}
    for u, ts in rows:
        c = trunc(ts)
        if u not in first or c < first[u]:
            first[u] = c
    seen = defaultdict(set)
    for u, ts in rows:
        off = (trunc(ts) - first[u]).days // 7
        seen[(first[u], off)].add(u)
    return {k: len(v) for k, v in seen.items()}


def _run(spark, rows):
    df = spark.createDataFrame(rows, "user_id long, ts timestamp_ntz")
    return {
        (r["cohort"], r["period_offset"]): r["n_users"]
        for r in cohort_retention(df).collect()
    }


HAND = [
    (1, T0), (1, T0 + dt.timedelta(days=8)),          # week 0 and week 1
    (2, T0 + dt.timedelta(days=2)),                   # week 0 only
    (3, T0 + dt.timedelta(days=7)), (3, T0 + dt.timedelta(days=21)),
    (4, T0), (4, T0 + dt.timedelta(days=1)),          # same week twice
]


def test_hand_built_weeks(spark):
    got = _run(spark, HAND)
    w0, w1 = T0, T0 + dt.timedelta(days=7)
    assert got == {
        (w0, 0): 3,  # users 1, 2, 4
        (w0, 1): 1,  # user 1 returns
        (w1, 0): 1,  # user 3
        (w1, 2): 1,  # user 3 at day 21
    }


def test_randomized_against_python(spark):
    rng = random.Random(23)
    rows = [
        (u, T0 + dt.timedelta(hours=rng.randint(0, 24 * 60)))
        for u in range(80)
        for _ in range(rng.randint(1, 8))
    ]
    got = _run(spark, rows)
    want = _py_retention(rows)
    assert got == want and len(want) > 20

