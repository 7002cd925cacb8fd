"""Ordered event-funnel conversion (operators/event_funnel.py).

Pins: exact completion semantics on hand-built user journeys (ordering
violations, deadline cuts, greedy-earliest, repeats), monotone step
counts, and a pure-Python replay on randomized journeys.
"""

from __future__ import annotations

import datetime as dt
import random

import pytest

from aws_snowflake_kinesis_airflow_pipeline_spark.operators.event_funnel import (
    funnel_completion_times,
    funnel_conversion,
)

T0 = dt.datetime(2024, 5, 1)
STEPS = ["view", "click", "purchase"]


def _ev(uid, minutes, et):
    return (uid, T0 + dt.timedelta(minutes=minutes), et)


ROWS = [
    # u1: clean conversion within the hour
    _ev(1, 0, "view"), _ev(1, 10, "click"), _ev(1, 20, "purchase"),
    # u2: purchase BEFORE click -> stops after click
    _ev(2, 0, "view"), _ev(2, 10, "purchase"), _ev(2, 20, "click"),
    # u3: click past the 60-min deadline -> stops after view
    _ev(3, 0, "view"), _ev(3, 90, "click"), _ev(3, 95, "purchase"),
    # u4: greedy-earliest click at 5 min, purchase before it -> the later
    # purchase at 50 qualifies (after t2=5, within deadline)
    _ev(4, 0, "view"), _ev(4, 3, "purchase"), _ev(4, 5, "click"),
    _ev(4, 50, "purchase"),
    # u5: no view at all -> absent
    _ev(5, 0, "click"), _ev(5, 10, "purchase"),
    # u6: click exactly AT the view time -> strictly-after fails
    _ev(6, 0, "view"), _ev(6, 0, "click"),
]


@pytest.fixture(scope="module")
def events(spark):
    return spark.createDataFrame(
        ROWS, "user_id long, ts timestamp_ntz, event_type string"
    )


def test_hand_built_journeys(spark, events):
    times = {
        r["user_id"]: (r["t1"], r["t2"], r["t3"])
        for r in funnel_completion_times(events, STEPS).collect()
    }
    assert set(times) == {1, 2, 3, 4, 6}
    assert times[1][2] is not None
    assert times[2][1] is not None and times[2][2] is None
    assert times[3][1] is None
    assert times[4][2] == T0 + dt.timedelta(minutes=50)
    assert times[6][1] is None  # strictly-after

    conv = {
        r["step"]: r["n_users"]
        for r in funnel_conversion(events, STEPS).collect()
    }
    assert conv == {"view": 5, "click": 3, "purchase": 2}


def _py_funnel(rows, steps, within_min):
    by_user = {}
    for u, ts, et in rows:
        by_user.setdefault(u, []).append((ts, et))
    counts = [0] * len(steps)
    for u, evs in by_user.items():
        s1 = [t for t, e in evs if e == steps[0]]
        if not s1:
            continue
        t_prev = min(s1)
        deadline = t_prev + dt.timedelta(minutes=within_min)
        counts[0] += 1
        for k, step in enumerate(steps[1:], start=1):
            cand = [
                t for t, e in evs if e == step and t > t_prev and t <= deadline
            ]
            if not cand:
                break
            t_prev = min(cand)
            counts[k] += 1
    return {s: c for s, c in zip(steps, counts)}


def test_randomized_against_python(spark):
    rng = random.Random(17)
    rows = []
    for u in range(60):
        for _ in range(rng.randint(1, 12)):
            rows.append(
                _ev(u, rng.randint(0, 180), rng.choice(STEPS + ["noise"]))
            )
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp_ntz, event_type string"
    )
    got = {
        r["step"]: r["n_users"]
        for r in funnel_conversion(ev, STEPS).collect()
    }
    want = _py_funnel(rows, STEPS, 60)
    assert got == want
    assert got["view"] >= got["click"] >= got["purchase"] > 0


def test_validation(spark, events):
    with pytest.raises(ValueError):
        funnel_conversion(events, ["view"])
