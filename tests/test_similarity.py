"""Similarity-search tests: brute-force exactness vs numpy, LSH recall."""

from __future__ import annotations

import numpy as np
import pytest

from aws_snowflake_kinesis_airflow_pipeline_spark.catalog import load_table
from aws_snowflake_kinesis_airflow_pipeline_spark.operators import similarity


@pytest.fixture(scope="module")
def emb_df(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


@pytest.fixture(scope="module")
def emb_np(sf_dir):
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/embeddings.parquet")
    ids = np.array(t["vec_id"].to_pylist())
    E = np.array(t["embedding"].to_pylist(), dtype=np.float64)
    return ids, E


def numpy_topk(ids, E, qvec, k, exclude):
    q = np.asarray(qvec, dtype=np.float64)
    cos = (E @ q) / (np.linalg.norm(E, axis=1) * np.linalg.norm(q))
    order = sorted(range(len(ids)), key=lambda i: (-round(cos[i], 4), ids[i]))
    return [
        (int(ids[i]), round(float(cos[i]), 4))
        for i in order
        if ids[i] not in exclude
    ][:k]


def test_brute_force_matches_numpy(spark, emb_df, emb_np):
    ids, E = emb_np
    qvec = E[list(ids).index(0)].tolist()
    expected = numpy_topk(ids, E, qvec, 10, {0})
    got = [
        (r["vec_id"], r["cosine"])
        for r in similarity.brute_force_topk(
            emb_df, qvec, k=10, exclude_ids=[0]
        ).collect()
    ]
    assert got == expected


def test_lsh_topk_high_recall_on_clustered_data(spark):
    """ANN recall is only meaningful when true neighbors are actually close
    (the fixture embeddings are near-uniform: max pairwise cos ≈ 0.51, a
    regime where *any* LSH degrades to random probing). Plant 5 tight
    clusters; neighbors of a cluster member must be recalled."""
    import random as rnd

    rng = rnd.Random(7)
    centroids = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(5)]
    rows = []
    vid = 0
    for c in centroids:
        for _ in range(40):
            rows.append(
                (vid, [x + rng.gauss(0, 0.05) for x in c])
            )
            vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ids = [r[0] for r in rows]
    E = np.array([r[1] for r in rows])
    qvec = list(E[0])
    exact = [v for v, _ in numpy_topk(np.array(ids), E, qvec, 10, {0})]
    got = [
        r["vec_id"]
        for r in similarity.lsh_topk(
            emb, qvec, probe_hamming=1, exclude_ids=[0],
        ).collect()
    ]
    recall = len(set(got) & set(exact)) / 10
    assert recall >= 0.9, f"recall@10 = {recall}"


def test_lsh_topk_on_uniform_fixture_returns_valid_topk(spark, emb_df, emb_np):
    """On the near-uniform fixture the ANN path must still return k valid,
    correctly-ordered results from its probed subset (graceful degradation,
    not correctness of recall)."""
    ids, E = emb_np
    qvec = E[list(ids).index(0)].tolist()
    got = similarity.lsh_topk(
        emb_df, qvec, probe_hamming=2, exclude_ids=[0],
    ).collect()
    assert len(got) == 10
    cosines = [r["cosine"] for r in got]
    assert cosines == sorted(cosines, reverse=True)


def test_query_bucket_matches_stored_bucket_for_every_row(spark, emb_df):
    """For every indexed vector, probing with that vector as the query must
    land in its own stored bucket — index-side (numpy matmul in the UDF)
    and query-side (_bucket_of) bucketing must share one floating-point
    evaluation order, or near-zero dot products flip sides and recall
    silently drops. (Regression: _bucket_of once used a sequential Python
    sum while the index side used BLAS.)"""
    rows = similarity.with_lsh_buckets(emb_df).select(
        "vec_id", "embedding", "lsh_bucket"
    ).collect()
    assert len(rows) > 0
    for r in rows:
        qb = similarity._bucket_of(r["embedding"], dim=64)
        assert qb == r["lsh_bucket"], f"vec {r['vec_id']}: {qb} != {r['lsh_bucket']}"


def test_lsh_buckets_deterministic(spark, emb_df):
    a = {
        (r["vec_id"], r["lsh_bucket"])
        for r in similarity.with_lsh_buckets(emb_df).collect()
    }
    b = {
        (r["vec_id"], r["lsh_bucket"])
        for r in similarity.with_lsh_buckets(emb_df).collect()
    }
    assert a == b
