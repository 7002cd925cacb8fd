"""Unicode text normalization (functions/normalize.py).

Pins: NFKC compatibility folding against unicodedata, control/format-char
stripping (keeping \\t\\n\\r as whitespace until the collapse), punctuation
unification, idempotence on random hostile strings, NULLs, and the plan
(Arrow-batched Python, no row-at-a-time eval).
"""

from __future__ import annotations

import random
import unicodedata

from aws_snowflake_kinesis_airflow_pipeline_spark.functions.normalize import (
    normalize_text,
    unicode_normalize,
)


def _run_ordered(spark, texts, expr):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    )
    return [r["o"] for r in df.select("i", expr("text").alias("o")).orderBy("i").collect()]


def test_nfkc_folds_compatibility_forms(spark):
    texts = ["ﬁsh", "Ａｂｃ１２３", "café", None]
    got = _run_ordered(spark, texts, unicode_normalize)
    assert got[0] == "fish"
    assert got[1] == "Abc123"
    assert got[2] == unicodedata.normalize("NFKC", "café")
    assert got[3] is None


def test_full_cleaning_pass(spark):
    texts = [
        "“smart” — quotes​ and\x00 control",
        "  runs \t of\n whitespace  ",
        "«guillemets» ‘single’",
    ]
    got = _run_ordered(spark, texts, normalize_text)
    assert got[0] == '"smart" - quotes and control'
    assert got[1] == "runs of whitespace"
    assert got[2] == "\"guillemets\" 'single'"


def test_idempotent_on_random_strings(spark):
    rng = random.Random(3)
    pool = "aZ1 .‘’“”–—​﻿Ａﬁé中\t\n\x07"
    texts = [
        "".join(rng.choice(pool) for _ in range(rng.randint(0, 60)))
        for _ in range(120)
    ]
    once = _run_ordered(spark, texts, normalize_text)
    twice = _run_ordered(spark, once, normalize_text)
    assert once == twice


def test_plan_arrow_batched(spark):
    df = spark.createDataFrame([("x",)], "text string")
    plan = (
        df.select(normalize_text("text"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan
