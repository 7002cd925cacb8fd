"""Sequence packing + corpus mixing tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_snowflake_kinesis_airflow_pipeline_spark.catalog import load_table
from aws_snowflake_kinesis_airflow_pipeline_spark.functions.text import token_count
from aws_snowflake_kinesis_airflow_pipeline_spark.operators import packing


def docs_with_tokens(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", token_count().alias("n_tokens")
    )


def test_packing_respects_budget_and_covers_all(spark, sf_dir):
    docs = docs_with_tokens(spark, sf_dir)
    max_tokens = 200
    packed = packing.pack_sequences(docs, max_tokens).cache()
    assert packed.count() == docs.count()  # every doc assigned exactly once
    over = (
        packed.groupBy("pack_id")
        .agg(F.sum("n_tokens").alias("t"), F.max("n_tokens").alias("m"))
        .filter((F.col("t") > max_tokens) & (F.col("m") <= max_tokens))
        .count()
    )
    assert over == 0  # no multi-doc pack exceeds the budget
    # packing actually packs: fewer packs than docs
    assert packed.select("pack_id").distinct().count() < docs.count()


def test_packing_deterministic_across_runs(spark, sf_dir):
    docs = docs_with_tokens(spark, sf_dir)
    a = {
        (r["doc_id"], r["pack_id"])
        for r in packing.pack_sequences(docs, 300).collect()
    }
    b = {
        (r["doc_id"], r["pack_id"])
        for r in packing.pack_sequences(
            docs.repartition(7), 300
        ).collect()
    }
    assert a == b


def test_oversized_doc_gets_singleton_pack(spark):
    docs = spark.createDataFrame(
        [(1, 500), (2, 50), (3, 60)], "doc_id long, n_tokens long"
    )
    packed = {r["doc_id"]: r for r in packing.pack_sequences(docs, 100).collect()}
    assert packed[1]["pack_tokens"] == 500  # alone in its pack
    assert packed[2]["pack_id"] != packed[1]["pack_id"]


def test_mix_corpus_skips_absent_sources(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    mixed = packing.mix_corpus(
        docs, {"src0": 1.0, "no_such_source": 1.0}
    )
    counts = {
        r["source"]
        for r in mixed.select("source").distinct().collect()
    }
    assert counts == {"src0"}  # absent source skipped, no KeyError


def test_mix_corpus_hits_weights(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    mixed = packing.mix_corpus(
        docs, {"src0": 1.0, "src1": 1.0, "src2": 2.0}
    )
    counts = {
        r["source"]: r["n"]
        for r in mixed.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert set(counts) == {"src0", "src1", "src2"}  # unlisted sources dropped
    # src2 should be ~2x src0/src1 (hash sampling is approximate at n=25)
    assert counts["src2"] >= counts["src0"]
    assert counts["src2"] >= counts["src1"]
