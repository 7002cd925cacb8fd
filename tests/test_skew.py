"""Skew mitigation on the engine's shuffle joins: AQE's runtime skew split
engages on a planted hot key, and linedup keeps its hot line off every
shuffle by broadcasting the bounded hot-fingerprint set."""

from __future__ import annotations

from pyspark.sql import functions as F


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
    split. Pin that the mitigation actually ENGAGES: a planted hot key must
    produce a `skew=true` sort-merge join in the adaptive final plan, with
    row-identical results."""
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

    out = drop_duplicate_lines(docs)
    assert expect(out.collect())
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:2000]

    with _with_tiny_skew_thresholds(spark):
        out2 = drop_duplicate_lines(docs)
        assert expect(out2.collect())
        plan2 = out2._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan2, plan2[:2000]

