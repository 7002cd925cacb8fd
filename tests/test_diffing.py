"""Corpus snapshot diff (operators/diffing.py).

Pins: every status class on a hand-built pair of snapshots, the
whitespace-normalization contract (re-wrapped text is unchanged), NULL
text, and the plan invariant that the diff exchange carries fingerprints
instead of document bodies.
"""

from __future__ import annotations

import pytest

from aws_snowflake_kinesis_airflow_pipeline_spark.operators.diffing import corpus_diff

OLD = [
    (1, "alpha beta gamma"),
    (2, "to be removed"),
    (3, "stable content"),
    (4, "Some   Text\nwith   spacing"),
    (5, "real change coming"),
    (6, None),
]
NEW = [
    (1, "alpha beta gamma"),
    (3, "stable content"),
    (4, "some text with spacing"),  # whitespace/case-only: unchanged
    (5, "real change arrived"),  # changed
    (6, None),  # NULL == NULL: unchanged
    (7, "brand new doc"),  # added
]


@pytest.fixture(scope="module")
def snaps(spark):
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    return mk(OLD), mk(NEW)


def test_all_status_classes(spark, snaps):
    old, new = snaps
    got = {r["doc_id"]: r["status"] for r in corpus_diff(old, new).collect()}
    assert got == {
        1: "unchanged",
        2: "removed",
        3: "unchanged",
        4: "unchanged",  # normalized fingerprint absorbs the re-wrap
        5: "changed",
        6: "unchanged",
        7: "added",
    }


def test_identity_diff_is_all_unchanged(spark, snaps):
    old, _ = snaps
    st = {r["status"] for r in corpus_diff(old, old).collect()}
    assert st == {"unchanged"}


def test_exchange_carries_fingerprints_not_bodies(spark, snaps):
    old, new = snaps
    plan = (
        corpus_diff(old, new)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # The join keys/payload are the id + md5 fingerprint; the text column
    # must be projected away before the exchange.
    assert "_fp_old" in plan and "Exchange" in plan
    import re
    for m in re.finditer(r"Exchange [^\n]*", plan):
        assert "text#" not in m.group(0), m.group(0)
