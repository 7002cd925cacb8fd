"""Benchmark decontamination + PII redaction operator tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_snowflake_kinesis_airflow_pipeline_spark.functions import pii
from aws_snowflake_kinesis_airflow_pipeline_spark.operators.contamination import (
    benchmark_ngram_overlap,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_benchmark_copy_is_fully_contaminated(spark):
    bench = _df(spark, [(1, "alpha beta gamma delta epsilon zeta")])
    corpus = _df(
        spark,
        [
            (10, "alpha beta gamma delta epsilon zeta"),  # exact copy
            (11, "one two three four five six seven"),  # disjoint vocab
            (12, "zero alpha beta gamma nine ten eleven"),  # partial overlap
        ],
    )
    out = {
        r["doc_id"]: r
        for r in benchmark_ngram_overlap(corpus, bench).collect()
    }
    assert out[10]["contamination"] == 1.0
    assert out[11]["n_contaminated"] == 0
    # doc 12 shares exactly one trigram ("alpha beta gamma") of its five
    assert out[12]["n_contaminated"] == 1
    assert out[12]["n_shingles"] == 5
    assert abs(out[12]["contamination"] - 0.2) < 1e-9


def test_short_docs_produce_no_shingles(spark):
    bench = _df(spark, [(1, "alpha beta gamma")])
    corpus = _df(spark, [(10, "alpha beta")])  # < k tokens
    assert benchmark_ngram_overlap(corpus, bench).count() == 0


def test_pii_counts_and_redaction(spark):
    rows = [
        (1, "mail a.b@x.io and c-d@y.org now"),
        (2, "call 555-123-4567 or 800.555.0199"),
        (3, "hosts 10.0.0.1 192.168.1.255"),
        (4, "clean text with number 12345"),
    ]
    out = {
        r["doc_id"]: r
        for r in _df(spark, rows)
        .select(
            "doc_id",
            pii.email_count("text").alias("e"),
            pii.phone_count("text").alias("p"),
            pii.ipv4_count("text").alias("i"),
            pii.redact_pii("text").alias("red"),
        )
        .collect()
    }
    assert (out[1]["e"], out[1]["p"], out[1]["i"]) == (2, 0, 0)
    assert out[1]["red"] == "mail <EMAIL> and <EMAIL> now"
    assert (out[2]["e"], out[2]["p"], out[2]["i"]) == (0, 2, 0)
    assert out[2]["red"] == "call <PHONE> or <PHONE>"
    assert (out[3]["e"], out[3]["p"], out[3]["i"]) == (0, 0, 2)
    assert out[3]["red"] == "hosts <IP> <IP>"
    assert out[4]["red"] == "clean text with number 12345"


def test_redaction_is_idempotent(spark):
    df = _df(spark, [(1, "x a@b.co 1.2.3.4 555-123-4567 y")])
    once = df.select(pii.redact_pii("text").alias("t"))
    twice = once.select(pii.redact_pii("t").alias("t"))
    assert once.first()["t"] == twice.first()["t"]


def test_contamination_plan_broadcasts_benchmark(spark):
    """The benchmark shingle set must come in as a broadcast join — a
    shuffle join against the (tiny) eval set would serialize the whole
    corpus exchange on it at scale."""
    bench = _df(spark, [(1, "alpha beta gamma delta")])
    corpus = _df(spark, [(10, "alpha beta gamma epsilon")])
    plan = (
        benchmark_ngram_overlap(corpus, bench)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_decontaminate_drops_only_contaminated(spark):
    from aws_snowflake_kinesis_airflow_pipeline_spark.operators.contamination import (
        decontaminate,
    )

    bench = _df(spark, [(1, "alpha beta gamma delta epsilon zeta")])
    corpus = _df(
        spark,
        [
            (10, "alpha beta gamma delta epsilon zeta"),  # 100% contaminated
            (11, "one two three four five six seven"),  # clean
            (12, "zero alpha beta gamma nine ten eleven"),  # 20% — below cut
            (13, "ab"),  # too short to shingle: must survive
        ],
    )
    kept = {
        r["doc_id"]
        for r in decontaminate(
            corpus, bench, max_contamination=0.5
        ).collect()
    }
    assert kept == {11, 12, 13}
