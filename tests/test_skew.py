"""Skew operators must be result-identical to their plain forms — checked
on a deliberately skewed dataset (one key owning ~90% of rows), then
property-tested over arbitrary key distributions (hypothesis): NULL keys,
all-NULL inputs, duplicate join keys on both sides, and the degenerate
n_salts=1 configuration."""

from __future__ import annotations

from collections import Counter

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from aws_snowflake_kinesis_airflow_pipeline_spark.operators import skew


def skewed_df(spark):
    hot = spark.range(900).select(
        F.lit("hot").alias("k"), (F.col("id") % 50).alias("v")
    )
    cold = spark.range(100).select(
        F.concat(F.lit("c"), (F.col("id") % 10)).alias("k"),
        F.col("id").alias("v"),
    )
    return hot.union(cold)


def test_salted_count_matches_plain(spark):
    df = skewed_df(spark)
    plain = {r["k"]: r["n"] for r in df.groupBy("k").agg(F.count("*").alias("n")).collect()}
    salted = {r["k"]: r["n"] for r in skew.salted_count_by_key(df, "k").collect()}
    assert salted == plain
    assert salted["hot"] == 900


def test_salted_distinct_count_matches_plain(spark):
    df = skewed_df(spark)
    plain = {
        r["k"]: r["n"]
        for r in df.groupBy("k").agg(F.countDistinct("v").alias("n")).collect()
    }
    salted = {
        r["k"]: r["n_distinct"]
        for r in skew.salted_distinct_count_by_key(df, "k", "v").collect()
    }
    assert salted == plain
    assert salted["hot"] == 50


def test_salted_distinct_count_ignores_nulls(spark):
    df = spark.createDataFrame(
        [("k1", None), ("k1", None), ("k1", 1), ("k2", None)],
        "k string, v int",
    )
    plain = {
        r["k"]: r["n"]
        for r in df.groupBy("k").agg(F.countDistinct("v").alias("n")).collect()
    }
    salted = {
        r["k"]: r["n_distinct"]
        for r in skew.salted_distinct_count_by_key(df, "k", "v").collect()
    }
    assert salted == plain == {"k1": 1, "k2": 0}


def test_salted_join_matches_plain(spark):
    left = skewed_df(spark)
    right = spark.createDataFrame(
        [("hot", 1), ("c1", 2), ("c2", 3)], "k string, tag int"
    )
    plain = sorted(
        (r["k"], r["v"], r["tag"])
        for r in left.join(right, "k", "inner").collect()
    )
    salted = sorted(
        (r["k"], r["v"], r["tag"])
        for r in skew.salted_inner_join(left, right, "k").collect()
    )
    assert salted == plain
    assert len(plain) == 900 + 10 + 10  # hot + c1 + c2 rows


# --------------------------------------------------------------------------
# Property tests: result identity under ARBITRARY key distributions.
# The salted forms differ from the plain forms only in shuffle shape; any
# input where the results diverge — skewed, uniform, NULL-keyed, empty — is
# a correctness bug, so let hypothesis pick the distribution.
# --------------------------------------------------------------------------

_keys = st.one_of(st.none(), st.sampled_from(["hot", "a", "b"]))
_vals = st.one_of(st.none(), st.integers(0, 3))
_kv_rows = st.lists(st.tuples(_keys, _vals), max_size=30)
_salts = st.sampled_from([1, 2, 16])

_SETTINGS = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k string, v int")


@given(rows=_kv_rows, n_salts=_salts)
@example(rows=[(None, None)] * 5, n_salts=1)  # all-NULL keys, degenerate salt
@_SETTINGS
def test_salted_count_identity_property(spark, rows, n_salts):
    df = _mk(spark, rows)
    plain = Counter(
        (r["k"], r["n"])
        for r in df.groupBy("k").agg(F.count("*").alias("n")).collect()
    )
    salted = Counter(
        (r["k"], r["n"])
        for r in skew.salted_count_by_key(df, "k", n_salts=n_salts).collect()
    )
    assert salted == plain


@given(rows=_kv_rows, n_salts=_salts)
@example(rows=[(None, None), (None, 1), ("a", None)], n_salts=1)
@_SETTINGS
def test_salted_distinct_count_identity_property(spark, rows, n_salts):
    df = _mk(spark, rows)
    plain = Counter(
        (r["k"], r["n"])
        for r in df.groupBy("k").agg(F.countDistinct("v").alias("n")).collect()
    )
    salted = Counter(
        (r["k"], r["n_distinct"])
        for r in skew.salted_distinct_count_by_key(
            df, "k", "v", n_salts=n_salts
        ).collect()
    )
    assert salted == plain


_tag_rows = st.lists(st.tuples(_keys, st.integers(0, 5)), max_size=6)


@given(left_rows=_kv_rows, right_rows=_tag_rows, n_salts=_salts)
@example(  # NULL keys both sides (equi-join must drop them), dup right keys
    left_rows=[(None, 1), ("hot", 2), ("hot", None)],
    right_rows=[(None, 0), ("hot", 1), ("hot", 2)],
    n_salts=1,
)
@_SETTINGS
def test_salted_join_identity_property(spark, left_rows, right_rows, n_salts):
    left = _mk(spark, left_rows)
    right = spark.createDataFrame(right_rows, "k string, tag int")
    plain = Counter(
        (r["k"], r["v"], r["tag"])
        for r in left.join(right, "k", "inner").collect()
    )
    salted = Counter(
        (r["k"], r["v"], r["tag"])
        for r in skew.salted_inner_join(
            left, right, "k", n_salts=n_salts
        ).collect()
    )
    assert salted == plain


@given(left_rows=_kv_rows, right_rows=_tag_rows, n_salts=_salts)
@example(  # NULL keys both sides (anti-join must KEEP the NULL-key rows:
    # NULL never equi-matches), duplicate right keys
    left_rows=[(None, 1), ("hot", 2), ("hot", None), ("cold", 3)],
    right_rows=[(None, 0), ("hot", 1), ("hot", 2)],
    n_salts=1,
)
@_SETTINGS
def test_salted_anti_join_identity_property(
    spark, left_rows, right_rows, n_salts
):
    left = _mk(spark, left_rows)
    right = spark.createDataFrame(right_rows, "k string, tag int")
    plain = Counter(
        (r["k"], r["v"])
        for r in left.join(right, "k", "left_anti").collect()
    )
    salted = Counter(
        (r["k"], r["v"])
        for r in skew.salted_left_anti_join(
            left, right, "k", n_salts=n_salts
        ).collect()
    )
    assert salted == plain


def _with_tiny_skew_thresholds(spark):
    """Context manager: shrink AQE's skew thresholds so a planted hot key
    is 'skewed' at test scale, and disable broadcast so the join shuffles
    (the production trigger is a partition past 256 MB; the mechanism is
    identical)."""
    import contextlib

    @contextlib.contextmanager
    def cm():
        keys = {
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16384",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8192",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        }
        old = {k: spark.conf.get(k, None) for k in keys}
        try:
            for k, v in keys.items():
                spark.conf.set(k, v)
            yield
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    return cm()


def test_aqe_skew_join_is_the_chosen_shuffle_join_mitigation(spark):
    """The engine's skewed-SHUFFLE-JOIN mitigation is AQE's runtime skew
    split (hand salting stays for the aggregation/collect paths AQE cannot
    fix — see operators/skew.py). Pin that the mitigation actually ENGAGES:
    a planted hot key must produce a `skew=true` sort-merge join in the
    adaptive final plan, with row-identical results."""
    # Payload must be incompressible — shuffle partition sizes are measured
    # post-compression, and a constant pad compresses below any threshold.
    pad = F.repeat(F.sha1(F.col("id").cast("string")), 10)
    hot = spark.range(40_000).select(
        F.lit(0).alias("k"), pad.alias("payload")
    )
    cold = spark.range(2_000).select(
        (F.col("id") % 100 + 1).alias("k"), pad.alias("payload")
    )
    left = hot.union(cold)
    right = spark.range(101).select(
        F.col("id").alias("k"), F.col("id").alias("dim")
    )
    with _with_tiny_skew_thresholds(spark):
        # keep the payload in the output: column pruning would otherwise
        # strip it BEFORE the shuffle and no partition would be big enough
        # to register as skewed (correct behavior — pruning beats salting)
        joined = left.join(right, "k").select("k", "dim", "payload")
        # collect() (not count()) so the inspected plan is THIS query
        # execution's adaptive final plan — count() builds its own.
        n = len(joined.collect())
        plan = joined._jdf.queryExecution().executedPlan().toString()
    assert n == 42_000
    assert "skew=true" in plan, plan[:2000]


def _boiler_docs(spark, n_docs):
    boiler = "subscribe to the hot newsletter " + "b" * 100
    return spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit(boiler + "\n"),
            F.lit(boiler + "\n"),
            F.lit(boiler + "\n"),
            F.lit("unique line "),
            F.col("id"),
        ).alias("text"),
    )


def test_linedup_viral_line_hot_join_broadcasts(spark):
    """The first real-cluster skew incident shape: one viral boilerplate
    line in every document is a hot key. linedup keeps it off any
    shuffle: the hot fingerprint set is aggregate-bounded and
    BROADCASTS into the narrow (id, pos, fingerprint) projection, so no
    exchange routes the line's occurrences by key. With broadcast
    disabled the hot join shuffles by fingerprint instead and the output
    is unchanged."""
    from aws_snowflake_kinesis_airflow_pipeline_spark.operators.linedup import (
        drop_duplicate_lines,
    )

    docs = _boiler_docs(spark, 30_000)
    expect = lambda rows: (  # noqa: E731
        len(rows) == 30_000
        and all(
            r.clean_text == f"unique line {r.doc_id}" and r.n_kept == 1
            for r in rows
        )
    )

    out = drop_duplicate_lines(docs, "doc_id", "text", max_line_df=3)
    assert expect(out.collect())
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:2000]

    with _with_tiny_skew_thresholds(spark):
        out2 = drop_duplicate_lines(docs, "doc_id", "text", max_line_df=3)
        assert expect(out2.collect())
        plan2 = out2._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan2, plan2[:2000]


def test_nonpositive_salts_raise(spark):
    """n_salts < 1 must raise: with zero salts the replicated right side
    is empty, which makes an ANTI join silently keep every left row —
    the filter disappears with no error."""
    import pytest

    df = skewed_df(spark)
    right = df.select("k").distinct()
    for n in (0, -1):
        with pytest.raises(ValueError):
            skew.salted_inner_join(df, right, "k", n_salts=n)
        with pytest.raises(ValueError):
            skew.salted_left_anti_join(df, right, "k", n_salts=n)

