"""Tests for near-dup clustering (connected components + survivor pick) and
the IVF ANN path."""

from __future__ import annotations

import random as rnd

import numpy as np
import pytest

from aws_snowflake_kinesis_airflow_pipeline_spark.operators import dedup, similarity


def test_connected_components_merges_chains(spark):
    # 1-2, 2-3 chain and isolated pair 10-11 -> components {1,2,3}, {10,11}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id1 long, id2 long"
    )
    comp = {
        r["id"]: r["component"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == 10


def test_connected_components_raises_past_max_iterations(spark):
    # A 10-node path needs 9 label-propagation rounds; a 4-round bound
    # must raise, never return a split component.
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 10)], "id1 long, id2 long"
    )
    with pytest.raises(RuntimeError, match="did not converge in 4 rounds"):
        dedup.connected_components(pairs, max_iterations=4)
    comp = {r["id"]: r["component"] for r in dedup.connected_components(pairs).collect()}
    assert set(comp.values()) == {1} and len(comp) == 10


def test_near_dup_dedup_keeps_one_per_cluster(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and runs far away into "
        "the deep green forest tonight while stars shine bright above"
    )
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base.replace("tonight", "today")),  # near-dup of 1
            (3, base),  # exact dup of 1 -> same cluster
            (4, "entirely different text about query engines and shuffles "
                "joining large distributed tables across many machines"),
        ],
        "doc_id long, text string",
    )
    survivors = sorted(
        r["doc_id"]
        for r in dedup.near_dup_dedup(docs, threshold=0.5).collect()
    )
    assert survivors == [1, 4]  # min-id survivor of {1,2,3}, plus unique 4


def test_ivf_topk_recall_on_clusters(spark):
    rng = rnd.Random(11)
    centroids = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(4)]
    rows = []
    vid = 0
    for c in centroids:
        for _ in range(30):
            rows.append((vid, [x + rng.gauss(0, 0.05) for x in c]))
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    model, indexed = similarity.ivf_index(emb, n_clusters=4)
    indexed = indexed.cache()

    E = np.array([r[1] for r in rows])
    q = list(E[0])
    cos = (E @ np.array(q)) / (
        np.linalg.norm(E, axis=1) * np.linalg.norm(q)
    )
    exact = [
        i
        for i in sorted(range(len(rows)), key=lambda i: (-round(cos[i], 4), i))
        if i != 0
    ][:10]

    got = [
        r["vec_id"]
        for r in similarity.ivf_topk(
            model, indexed, q,
            k=10, n_probe=1, exclude_ids=[0],
        ).collect()
    ]
    recall = len(set(got) & set(exact)) / 10
    assert recall >= 0.9, f"recall@10 = {recall}"
    # probing 1 of 4 cells must not scan the full corpus
    probed = indexed.filter(
        indexed.ivf_cluster
        == indexed.filter(indexed.vec_id == 0).first()["ivf_cluster"]
    ).count()
    assert probed <= 40  # one cluster's worth, not 120


def test_operator_api_never_triggers_exact_scan(spark, monkeypatch):
    """c15's FULL-CORPUS brute-force ground-truth scan is a plan-layer
    harness artifact (plans/llm_suite.py) for a checkable oracle row; the
    operator API must stay O(probed cells). Pin both halves: every exact
    scan ivf_topk issues is over the cell-FILTERED subset (the plan
    carries the ivf_cluster probe filter), and pq_topk — ADC over codes —
    never performs an exact scan at all."""
    from aws_snowflake_kinesis_airflow_pipeline_spark.operators import (
        pq,
        similarity,
    )

    rng = rnd.Random(7)
    rows = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = rows[0][1]

    real = similarity.brute_force_topk
    scanned_inputs = []

    def _spy(df, *a, **k):
        scanned_inputs.append(df)
        return real(df, *a, **k)

    monkeypatch.setattr(similarity, "brute_force_topk", _spy)
    model, indexed = similarity.ivf_index(emb, n_clusters=4)
    got_ivf = similarity.ivf_topk(
        model, indexed, q, k=5, n_probe=2,
        exclude_ids=[0],
    ).collect()
    assert len(got_ivf) == 5
    assert len(scanned_inputs) == 1
    plan = scanned_inputs[0]._jdf.queryExecution().optimizedPlan().toString()
    assert "ivf_cluster" in plan  # the probe filter bounds the scan

    def _poisoned(*a, **k):  # pragma: no cover - must never run
        raise AssertionError("pq_topk invoked an exact scan")

    monkeypatch.setattr(similarity, "brute_force_topk", _poisoned)
    pq_model = pq.pq_fit(emb, m=4, n_codes=8, dim=16)
    encoded = pq.pq_encode(emb, pq_model)
    got_pq = pq.pq_topk(
        pq_model, encoded, q, k=5, exclude_ids=[0]
    ).collect()
    assert len(got_pq) == 5
