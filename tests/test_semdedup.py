"""SemDeDup cluster-scoped semantic dedup (operators/semdedup.py).

Pins: pair set against a numpy brute-force all-pairs ground truth on a
clustered fixture (exact + near duplicates planted), structural recall of
EXACT duplicates (identical vectors always share a cell), survivor policy
(min id per component), the oversized-cell guard, zero-vector handling,
and partition invariance.
"""

from __future__ import annotations

import random as rnd

import numpy as np
import pytest

from aws_snowflake_kinesis_airflow_pipeline_spark.operators.semdedup import (
    semantic_dedup,
    semantic_dedup_pairs,
)

DIM = 16
THRESH = 0.95


def _fixture_vectors():
    """4 well-separated gaussian clusters; planted duplicate groups:
    ids (100, 101) exact copies, (200, 201, 202) exact triple, (300, 301)
    near-copy (tiny perturbation), id 400 a zero vector."""
    rng = rnd.Random(7)
    cents = [[rng.gauss(0, 1) * 4 for _ in range(DIM)] for _ in range(4)]
    rows = []
    vid = 0
    for c in cents:
        for _ in range(12):
            rows.append((vid, [x + rng.gauss(0, 0.5) for x in c]))
            vid += 1
    base1 = [x + 0.3 for x in cents[0]]
    rows += [(100, base1), (101, list(base1))]
    base2 = [x - 0.2 for x in cents[1]]
    rows += [(200, base2), (201, list(base2)), (202, list(base2))]
    base3 = [x + 0.1 for x in cents[2]]
    rows += [(300, base3), (301, [x * 1.001 for x in base3])]
    rows.append((400, [0.0] * DIM))
    return rows


def _brute_pairs(rows, thresh=THRESH):
    ids = np.array([i for i, _ in rows])
    v = np.asarray([x for _, x in rows], dtype=np.float64)
    n = np.linalg.norm(v, axis=1)
    n[n == 0] = 1.0
    vn = v / n[:, None]
    s = vn @ vn.T
    out = set()
    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            if round(s[a, b], 4) >= thresh:
                out.add((min(ids[a], ids[b]), max(ids[a], ids[b])))
    return out


@pytest.fixture(scope="module")
def emb(spark):
    return spark.createDataFrame(
        _fixture_vectors(), "vec_id long, embedding array<double>"
    )


def test_pairs_match_brute_force_ground_truth(spark, emb):
    got = {
        (r["id1"], r["id2"])
        for r in semantic_dedup_pairs(emb, n_clusters=4, threshold=THRESH).collect()
    }
    want = _brute_pairs(_fixture_vectors())
    # Planted groups are non-vacuous and all found (same-cell by
    # construction: exact copies share a cell structurally, the near-copy
    # is deep inside its cluster).
    assert {(100, 101), (200, 201), (200, 202), (201, 202), (300, 301)} <= want
    assert got == want


def test_exact_duplicate_recall_is_structural(spark, emb):
    # Even a deliberately bad clustering granularity cannot split exact
    # copies: assignment is a pure function of the vector.
    for k in (2, 8):
        got = {
            (r["id1"], r["id2"])
            for r in semantic_dedup_pairs(emb, n_clusters=k).collect()
        }
        assert {(100, 101), (200, 201), (200, 202), (201, 202)} <= got


def test_survivors_min_id_per_component(spark, emb):
    pairs = semantic_dedup_pairs(emb, n_clusters=4)
    kept = {r["vec_id"] for r in semantic_dedup(emb, pairs).collect()}
    all_ids = {i for i, _ in _fixture_vectors()}
    want_dropped = set()
    comp = {}
    for a, b in sorted(_brute_pairs(_fixture_vectors())):
        root = comp.get(a, a)
        comp[a] = comp[b] = min(root, comp.get(b, b))
    for i, c in comp.items():
        if i != c:
            want_dropped.add(i)
    assert kept == all_ids - want_dropped
    assert {101, 201, 202, 301} <= want_dropped


def test_zero_vector_matches_nothing(spark, emb):
    pairs = semantic_dedup_pairs(emb, n_clusters=4).collect()
    assert all(400 not in (r["id1"], r["id2"]) for r in pairs)


def test_oversized_cluster_raises(spark, emb):
    with pytest.raises(Exception, match="max_cluster_rows"):
        semantic_dedup_pairs(
            emb, n_clusters=1, max_cluster_rows=10
        ).collect()


def test_partition_invariance(spark, emb):
    a = {
        (r["id1"], r["id2"], r["cosine"])
        for r in semantic_dedup_pairs(emb.coalesce(1), n_clusters=4).collect()
    }
    b = {
        (r["id1"], r["id2"], r["cosine"])
        for r in semantic_dedup_pairs(emb.repartition(7), n_clusters=4).collect()
    }
    assert a == b and len(a) >= 5


def test_cell_cap_resplit_keeps_planted_recall(spark, emb):
    """Force the in-kernel re-split (one giant cell, tiny cap): exact
    copies survive structurally (identical vectors score identically at
    every split level) and the near-copy pair (300, 301) is geometrically
    inseparable (cosine ~1 => near-identical assignment scores)."""
    got = {
        (r["id1"], r["id2"])
        for r in semantic_dedup_pairs(
            emb, n_clusters=1, cell_cap=8
        ).collect()
    }
    assert {(100, 101), (200, 201), (200, 202), (201, 202), (300, 301)} <= got


def test_cell_cap_resplit_partition_invariance(spark, emb):
    """The re-split is a pure function of cell CONTENT (rows sorted by id
    in-kernel), so the emitted pair set cannot depend on how Spark
    partitioned the input."""
    a = {
        (r["id1"], r["id2"], r["cosine"])
        for r in semantic_dedup_pairs(
            emb.coalesce(1), n_clusters=1, cell_cap=8
        ).collect()
    }
    b = {
        (r["id1"], r["id2"], r["cosine"])
        for r in semantic_dedup_pairs(
            emb.repartition(7), n_clusters=1, cell_cap=8
        ).collect()
    }
    assert a == b and len(a) >= 5


def test_identical_clique_exceeding_cap_is_emitted_whole(spark):
    """A group k-means cannot split (all rows one point) falls through to
    the full pairwise pass: every clique pair emitted exactly once, none
    lost to a futile recursion."""
    n = 30
    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(n)]
    rows += [(1000 + i, [float(i), -1.0, 0.5, 2.0]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r["id1"], r["id2"])
        for r in semantic_dedup_pairs(df, n_clusters=1, cell_cap=8).collect()
    }
    want_clique = {(a, b) for a in range(n) for b in range(a + 1, n)}
    assert want_clique <= got
    assert len(want_clique & got) == n * (n - 1) // 2


def test_cell_cap_default_inactive_at_small_cells(spark, emb):
    """Cells under the cap take the exact same single-group path as
    before the re-split landed: pair set unchanged vs an effectively
    infinite cap."""
    lo = {
        (r["id1"], r["id2"], r["cosine"])
        for r in semantic_dedup_pairs(emb, n_clusters=4).collect()
    }
    hi = {
        (r["id1"], r["id2"], r["cosine"])
        for r in semantic_dedup_pairs(
            emb, n_clusters=4, cell_cap=10_000_000
        ).collect()
    }
    assert lo == hi


def test_threshold_validation(spark, emb):
    with pytest.raises(ValueError):
        semantic_dedup_pairs(emb, threshold=0.0)


def test_null_and_ragged_vectors_are_skipped_not_fatal(spark):
    """NULL / wrong-length embeddings all land in the NULL ivf cluster;
    they must be excluded from pairing (an invalid vector cannot be a
    semantic duplicate), not crash the pandas kernel."""
    from aws_snowflake_kinesis_airflow_pipeline_spark.operators.semdedup import (
        semantic_dedup_pairs,
    )

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),
        (3, None),
        (4, None),
        (5, [1.0, 0.0]),  # wrong length
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = semantic_dedup_pairs(df, n_clusters=2, threshold=0.95).collect()
    assert [(r["id1"], r["id2"]) for r in pairs] == [(1, 2)]
