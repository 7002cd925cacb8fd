"""Heavy-hitters tests (B34): SpaceSaving candidates + exact counts must
recover the exact top-k on skewed data, across partition layouts, and the
corpus tokenizer path must agree with a full exact count."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from aws_snowflake_kinesis_airflow_pipeline_spark.catalog import load_table
from aws_snowflake_kinesis_airflow_pipeline_spark.operators import sketches


def _counts(df, col):
    return df.groupBy(col).agg(F.count("*").alias("n"))


def _exact_topk(df, col, k):
    return [
        (r[col], r["n"])
        for r in df.where(F.col(col).isNotNull())
        .groupBy(col)
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col(col))
        .limit(k)
        .collect()
    ]


def test_topk_exact_on_zipfian_fuzz(spark):
    """Zipf(1.2) over a 5000-word vocab, 60k draws, 16 partitions, modest
    capacity: the operator must return the EXACT top-20 (values and
    counts) — phase 2 reads exact counts, so any deviation means a
    candidate was lost, which the SpaceSaving bound forbids at this skew."""
    rng = random.Random(42)
    vocab = [f"w{i:04d}" for i in range(5000)]
    weights = [1.0 / (i + 1) ** 1.2 for i in range(5000)]
    draws = rng.choices(vocab, weights=weights, k=60_000)
    df = spark.createDataFrame(
        [(v,) for v in draws], "word string"
    ).repartition(16)
    got = [
        (r["word"], r["n"])
        for r in sketches.top_k_frequent(
            df, "word", k=20, capacity=1024, exact_counts=_counts(df, "word")
        ).collect()
    ]
    assert got == _exact_topk(df, "word", 20)


def test_topk_heavy_keys_survive_uniform_noise(spark):
    """A few massive keys buried in high-cardinality uniform noise, with a
    hostile partition layout (hash repartition scatters every key
    everywhere): the heavy keys must come back with exact counts."""
    rng = random.Random(7)
    rows = [("HEAVY_A",)] * 3000 + [("HEAVY_B",)] * 2000 + [("HEAVY_C",)] * 1000
    rows += [(f"noise{rng.randrange(200_000)}",) for _ in range(40_000)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "word string").repartition(32)
    got = sketches.top_k_frequent(
        df, "word", k=3, capacity=2048, exact_counts=_counts(df, "word")
    ).collect()
    assert [(r["word"], r["n"]) for r in got] == [
        ("HEAVY_A", 3000),
        ("HEAVY_B", 2000),
        ("HEAVY_C", 1000),
    ]


def test_topk_nulls_ignored_and_k_truncates(spark):
    df = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 3 + [(None,)] * 10 + [("c",)] * 1,
        "word string",
    )
    got = [
        (r["word"], r["n"])
        for r in sketches.top_k_frequent(
            df, "word", k=2, exact_counts=_counts(df, "word")
        ).collect()
    ]
    assert got == [("a", 5), ("b", 3)]


def test_top_k_tokens_matches_exact_count_on_fixture(spark, sf_dir):
    from aws_snowflake_kinesis_airflow_pipeline_spark.functions import text as TX

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(TX.tokens(F.col("text"))).alias("token")).where(
        F.col("token") != ""
    )
    got = [
        (r["token"], r["n"])
        for r in sketches.top_k_tokens(
            docs, k=15, capacity=1024, exact_counts=_counts(toks, "token")
        ).collect()
    ]
    assert got == _exact_topk(toks, "token", 15)
    assert len(got) == 15 and got[0][1] >= got[-1][1]

