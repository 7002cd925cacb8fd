"""As-of join semantics on hand-built cases: before/at/after boundaries,
no-match rows, multiple updates."""

from __future__ import annotations

import datetime as dt

from aws_snowflake_kinesis_airflow_pipeline_spark.operators.asof import asof_join


def ts(m):
    return dt.datetime(2024, 1, 1, 0, m)


def test_asof_join_boundaries(spark):
    left = spark.createDataFrame(
        [(1, ts(10), "a"), (1, ts(20), "b"), (2, ts(5), "c"), (3, ts(9), "d")],
        "k long, lts timestamp_ntz, tag string",
    )
    right = spark.createDataFrame(
        [
            (1, ts(10), 100.0),  # equal ts -> matches row 'a' (<=)
            (1, ts(15), 150.0),  # latest before 'b'
            (1, ts(25), 250.0),  # after everything -> never used
            (2, ts(6), 60.0),  # after left's only row -> no match for 'c'
        ],
        "k long, rts timestamp_ntz, price double",
    )
    out = {
        r["tag"]: r["price"]
        for r in asof_join(
            left, right, "k", "lts", "rts", ["price"]
        ).collect()
    }
    assert out == {"a": 100.0, "b": 150.0, "c": None, "d": None}


def test_asof_join_never_tears_rows(spark):
    """Payloads with NULL fields must be carried as whole rows: the latest
    right row wins for ALL payload columns, even its NULL fields —
    per-column carry would stitch values from different right rows."""
    left = spark.createDataFrame(
        [(1, ts(10), "x")], "k long, lts timestamp_ntz, tag string"
    )
    right = spark.createDataFrame(
        [
            (1, ts(1), "e1", None),     # older: id set, value NULL
            (1, ts(2), None, 5.0),      # latest: id NULL, value set
        ],
        "k long, rts timestamp_ntz, rid string, price double",
    )
    row = asof_join(left, right, "k", "lts", "rts", ["rid", "price"]).first()
    assert row["rid"] is None and row["price"] == 5.0  # r2 whole, not r1+r2


def test_asof_join_ignores_null_right_timestamps(spark):
    """A right row with NULL ts matches nothing (its 'rts <= lts' is never
    true) — unfiltered it would sort nulls-first and be carried into every
    left row."""
    left = spark.createDataFrame(
        [(1, ts(10), "x")], "k long, lts timestamp_ntz, tag string"
    )
    right = spark.createDataFrame(
        [(1, None, 9.0)], "k long, rts timestamp_ntz, price double"
    )
    row = asof_join(left, right, "k", "lts", "rts", ["price"]).first()
    assert row["price"] is None


def test_asof_join_matches_pandas_merge_asof(spark):
    """Property check against pandas' reference implementation on random
    keyed series (seeded)."""
    import random as rnd

    import pandas as pd

    rng = rnd.Random(42)
    left_rows = [
        (k, ts(rng.randrange(0, 59)), i)
        for i, k in enumerate(rng.choices([1, 2, 3], k=40))
    ]
    right_rows = [
        (k, ts(rng.randrange(0, 59)), float(i))
        for i, k in enumerate(rng.choices([1, 2, 3], k=40))
    ]
    # merge_asof needs unique (key, ts) on the right for a deterministic
    # answer; dedup keeping the last value like the engine's window does
    rdf = (
        pd.DataFrame(right_rows, columns=["k", "rts", "price"])
        .sort_values(["rts", "price"])  # latest duplicate wins
        .drop_duplicates(["k", "rts"], keep="last")
    )
    ldf = pd.DataFrame(left_rows, columns=["k", "lts", "tag"]).sort_values(
        ["lts", "tag"]
    )
    expected = pd.merge_asof(
        ldf, rdf, left_on="lts", right_on="rts", by="k", direction="backward"
    )
    want = {
        (r.k, r.tag): (None if pd.isna(r.price) else r.price)
        for r in expected.itertuples()
    }

    left = spark.createDataFrame(
        [(k, t, tag) for k, t, tag in left_rows],
        "k long, lts timestamp_ntz, tag long",
    )
    right = spark.createDataFrame(
        [(int(r.k), r.rts.to_pydatetime(), r.price) for r in rdf.itertuples()],
        "k long, rts timestamp_ntz, price double",
    )
    got = {
        (r["k"], r["tag"]): r["price"]
        for r in asof_join(left, right, "k", "lts", "rts", ["price"]).collect()
    }
    assert got == want


def test_asof_join_carries_latest_not_first(spark):
    left = spark.createDataFrame(
        [(1, ts(30), "x")], "k long, lts timestamp_ntz, tag string"
    )
    right = spark.createDataFrame(
        [(1, ts(1), 1.0), (1, ts(2), 2.0), (1, ts(29), 29.0)],
        "k long, rts timestamp_ntz, price double",
    )
    row = asof_join(left, right, "k", "lts", "rts", ["price"]).first()
    assert row["price"] == 29.0


def test_asof_map_payload_skips_struct_tiebreak(spark):
    """Map-typed payloads are not orderable — the deterministic-tie
    ordering must degrade gracefully instead of raising at plan time."""
    from pyspark.sql import functions as F

    left = spark.createDataFrame(
        [(1, 10)], "user_id long, ts long"
    )
    right = spark.createDataFrame(
        [(1, 5, {"a": "x"})],
        "user_id long, view_ts long, attrs map<string,string>",
    )
    out = asof_join(
        left, right, key="user_id", left_ts="ts", right_ts="view_ts",
        payload_cols=["attrs"],
    ).collect()
    assert len(out) == 1 and out[0]["attrs"] == {"a": "x"}
