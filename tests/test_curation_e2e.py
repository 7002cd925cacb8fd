"""End-to-end curation pipeline: the stages a 100 TB pretraining corpus
actually runs, chained in their canonical order over one hostile fixture —

  normalize → exact dedup → duplicate-SPAN dedup → near-dup dedup →
  quality gate → PII redaction → benchmark decontamination →
  leakage-safe split

with the invariants that matter asserted at the boundaries AND globally:
every planted hazard class is eliminated exactly once (unicode twins
merge, boilerplate spans vanish, near-dup clusters keep one canonical
doc, contaminated rows drop, PII never reaches the output, near-dups
never straddle the split), clean documents survive byte-intact, and the
whole chain is deterministic (two runs, identical output hash).

Complements tests/test_trainer_export_e2e.py (the encode→pack→shard
last mile); together they cover the full corpus lifecycle.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_snowflake_kinesis_airflow_pipeline_spark.functions.normalize import (
    normalize_text,
)
from aws_snowflake_kinesis_airflow_pipeline_spark.functions.pii import (
    email_count,
    ipv4_count,
    phone_count,
    redact_pii,
)
from aws_snowflake_kinesis_airflow_pipeline_spark.functions.text import (
    stopword_ratio,
    token_count,
)
from aws_snowflake_kinesis_airflow_pipeline_spark.operators.contamination import (
    decontaminate,
)
from aws_snowflake_kinesis_airflow_pipeline_spark.operators.dedup import (
    exact_dedup,
    near_dup_dedup,
)
from aws_snowflake_kinesis_airflow_pipeline_spark.operators.leakage import (
    leakage_safe_split,
)
from aws_snowflake_kinesis_airflow_pipeline_spark.operators.spandup import (
    remove_duplicate_spans,
)

BOILER = ("all rights reserved copyright holder contact the legal "
          "department of this site for permission requests")
EVAL_Q = "what is the capital of freedonia answer sylvania obviously"


def _fixture(spark):
    """A corpus planting one instance of every hazard the chain must fix."""
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    rows = [
        # 1-2: unicode twins — byte-different, render-identical (curly
        # quotes + NFKC full-width + zero-width) -> ONE survivor.
        (1, f"“{base}” extra tail words here to pass the quality gate"),
        (2, f"\"{base}\" extra tail words here to pass the quality gate"
            .replace("quick", "ｑｕｉｃｋ") + "​"),
        # 3-4: distinct docs sharing the 9-token boilerplate run -> span
        # removed from the non-canonical doc only.
        (3, f"unique preamble three {BOILER} unique middle section for "
            "document three runs longer"),
        (4, f"other intro words four {BOILER} completely different body "
            "text for document four here"),
        # 5-6: near-duplicates (one word swapped) -> min-id survivor.
        (5, "colorless green ideas sleep furiously while the machine "
            "hums along the corridor tonight"),
        (6, "colorless green ideas sleep furiously while the machine "
            "hums along the corridor today"),
        # 7: too short -> quality gate drops it.
        (7, "tiny doc"),
        # 8: contaminated with the eval benchmark verbatim.
        (8, f"padding words before the leak {EVAL_Q} padding words after "
            "the leak keep going"),
        # 9: carries PII -> redacted, not dropped.
        (9, "please contact john at john.doe@example.com for the files "
            "about the annual report and the quarterly numbers"),
        # 10: plain clean document -> must survive byte-intact.
        (10, "a perfectly ordinary document about rivers mountains and "
             "the weather patterns of the northern hemisphere"),
        # 11: near-dup of 5/6 in a THIRD variant -> same cluster, and the
        # cluster must land on one side of the split.
        (11, "colorless green ideas sleep furiously while the machine "
             "hums along the corridor forever"),
        # 12-13: MID-similarity pair — a 10-token shared run (below the
        # span-dedup window of 12, so it survives stage 3) with 2-token
        # unique tails: trigram jaccard 8/12 = 0.667, between the split
        # threshold (0.5) and the dedup threshold (0.8). BOTH survive
        # dedup, so the leakage-safe split must cluster them onto one
        # side — the non-vacuous straddle check (at equal thresholds
        # every surviving pair is below the split threshold by
        # construction and the invariant could never fire).
        (12, "nine gray herons stand in silence beside the frozen lake "
             "morning calm"),
        (13, "nine gray herons stand in silence beside the frozen lake "
             "evening hush"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


import pytest


@pytest.fixture(scope="module")
def chain(spark):
    return _run_chain(spark)


def _run_chain(spark):
    docs = _fixture(spark)
    # 1. normalize (NFKC + control strip + punct + whitespace)
    normed = docs.select(
        "doc_id", normalize_text("text").alias("text")
    ).localCheckpoint()
    # 2. exact dedup on normalized text
    exact = exact_dedup(normed, key_cols=["text"], id_col="doc_id")
    # 3. duplicate-span removal: window=12 removes the 15-token
    # boilerplate run while letting the 10-token mid-similarity run of
    # docs 12/13 through to the near-dup/split stages.
    spanless = remove_duplicate_spans(exact, window=12).select(
        "doc_id", F.col("clean_text").alias("text")
    )
    # 4. near-dup dedup (min-id canonical per cluster)
    neared = near_dup_dedup(spanless, threshold=0.8)
    # 5. quality gate
    gated = neared.filter(
        (token_count() >= 8) & (stopword_ratio() >= 0.05)
    )
    # 6. PII redaction (rewrite, not drop)
    redacted = gated.select(
        "doc_id", redact_pii("text").alias("text")
    )
    # 7. benchmark decontamination
    bench = spark.createDataFrame([(0, EVAL_Q)], "doc_id long, text string")
    cleaned = decontaminate(
        redacted, bench, max_contamination=0.3
    )
    # 8. leakage-safe split (pairs recomputed on the cleaned corpus)
    # Split threshold BELOW the dedup threshold: pairs in (0.5, 0.8)
    # survive dedup yet must not straddle the eval boundary.
    split = leakage_safe_split(
        cleaned, val_fraction=0.3, threshold=0.5
    )
    return {r["doc_id"]: r for r in split.collect()}


def test_every_hazard_handled_and_clean_docs_survive(spark, chain):
    out = chain
    ids = set(out)

    # unicode twins merged: min-id canonical survives, twin gone
    assert 1 in ids and 2 not in ids
    # boilerplate span: both docs survive, canonical (doc 3) keeps the
    # run, doc 4 lost exactly those tokens
    assert 3 in ids and 4 in ids
    assert BOILER in out[3]["text"]
    assert BOILER not in out[4]["text"]
    assert "completely different body" in out[4]["text"]
    # near-dup cluster 5/6: min id survives
    assert 5 in ids and 6 not in ids
    # quality gate dropped the tiny doc
    assert 7 not in ids
    # contaminated doc dropped
    assert 8 not in ids
    # PII redacted in place, doc retained
    assert 9 in ids
    assert "john.doe@example.com" not in out[9]["text"]
    assert "annual report" in out[9]["text"]
    # the clean doc survives with content intact (normalize collapses
    # whitespace only — text was already single-spaced ASCII)
    assert out[10]["text"] == (
        "a perfectly ordinary document about rivers mountains and "
        "the weather patterns of the northern hemisphere"
    )
    # nothing in the final corpus contains PII
    n_pii = (
        spark.createDataFrame(
            [(r["text"],) for r in out.values()], "text string"
        )
        .filter(
            (email_count("text") > 0)
            | (phone_count("text") > 0)
            | (ipv4_count("text") > 0)
        )
        .count()
    )
    assert n_pii == 0


def test_near_dup_pairs_never_straddle_the_split(spark, chain):
    out = chain
    # 12/13 sit between the split threshold (0.5) and the dedup
    # threshold (0.8): both MUST survive dedup and MUST share a split
    # side — asserted unconditionally so the invariant actually fires
    # (with split threshold == dedup threshold, every surviving pair is
    # below the split threshold by construction and this check would be
    # structurally vacuous).
    assert 12 in out and 13 in out
    assert out[12]["split"] == out[13]["split"]
    assert out[12]["split_key"] == out[13]["split_key"]


def test_chain_is_deterministic(spark, chain):
    a = chain
    b = _run_chain(spark)
    assert {k: (v["text"], v["split"]) for k, v in a.items()} == {
        k: (v["text"], v["split"]) for k, v in b.items()
    }
