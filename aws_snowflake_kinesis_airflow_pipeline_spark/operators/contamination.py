"""Benchmark decontamination for LLM training corpora.

Flags training documents that share word-k-gram shingles with an evaluation
benchmark set — the n-gram-overlap decontamination rule of the GPT-3 / C4
lineage (13-grams there; 3-grams here).

This extends the reference pipeline's data-quality-gate family
(airflow/dags/snowflake_data_pipeline.py:154-202 — detect-and-reject bad
rows before publish) to the LLM-data north star; no reference file
implements decontamination itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import shingle_index


def benchmark_ngram_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
) -> DataFrame:
    """Per-corpus-document benchmark-overlap stats over word 3-grams.

    Returns ``(doc_id, n_shingles, n_contaminated, contamination)`` where
    ``n_shingles`` counts the document's distinct word-k-grams,
    ``n_contaminated`` counts those that also appear anywhere in the
    benchmark, and ``contamination`` is their ratio (rounded to 4 dp).
    Callers drop or quarantine rows above their threshold.

    Scale shape: an eval benchmark is thousands of documents against a
    corpus of billions, so the benchmark's distinct-shingle set is
    broadcast — the whole operator is one explode, one broadcast-hash left
    join, and one groupBy on the document id. The corpus-side inverted
    index is never self-joined, so there is no candidate-pair blowup to
    guard. Shingles travel as 64-bit hashes (see :func:`shingle_index`).
    Documents with fewer than 3 tokens have no shingles and drop out
    (they cannot be contaminated).
    """
    corpus_sh = shingle_index(corpus)
    bench_sh = (
        shingle_index(benchmark)
        .select("shingle")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        corpus_sh.join(F.broadcast(bench_sh), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("_hit").alias("n_contaminated"),
        )
        .withColumn(
            "contamination",
            F.round(F.col("n_contaminated") / F.col("n_shingles"), 4),
        )
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    max_contamination: float = 0.1,
) -> DataFrame:
    """The end-to-end action: drop every corpus row whose benchmark-shingle
    overlap exceeds ``max_contamination``, keep everything else (including
    docs too short to shingle — no shingles means nothing to leak). One
    broadcast-hash semi-join shape: the overlap stats never leave the
    cluster, and the surviving rows keep all their columns.
    """
    flagged = benchmark_ngram_overlap(corpus, benchmark)
    drop = flagged.filter(
        F.col("contamination") > max_contamination
    ).select("doc_id")
    return corpus.join(drop, "doc_id", "left_anti")
