"""Incremental near-dup dedup against a persisted MinHash index.

The contract under test: probing a persisted index with a new batch finds
EXACTLY the pairs the batch LSH operator finds on the union corpus
(restricted to pairs touching the batch), and the probe plan never
shuffles the corpus-side bucket store.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_snowflake_kinesis_airflow_pipeline_spark.catalog import load_table
from aws_snowflake_kinesis_airflow_pipeline_spark.operators import incremental
from aws_snowflake_kinesis_airflow_pipeline_spark.operators.dedup import (
    minhash_lsh_pairs,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def corpus_and_batch(spark):
    """documents split ~2:1 into an indexed corpus and a new batch.

    The modulus split interleaves ids, so the fixture's planted near-dup
    groups straddle the boundary — both corpus-vs-batch and batch-internal
    pairs exist (asserted in the equivalence test, so a fixture change
    that vacuates either side fails loudly)."""
    docs = load_table(spark, SF_DIR, "documents")
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    return docs, corpus, batch


@pytest.fixture(scope="module")
def index_path(spark, corpus_and_batch, tmp_path_factory):
    _, corpus, _ = corpus_and_batch
    path = str(tmp_path_factory.mktemp("mh_index") / "idx")
    incremental.write_minhash_index(corpus, path)
    return path


def _pair_set(df):
    return {(r["id1"], r["id2"], r["jaccard"]) for r in df.collect()}


def test_incremental_pairs_match_batch_operator_on_union(
    spark, corpus_and_batch, index_path
):
    """Index probe ≡ batch LSH on the union, restricted to pairs touching
    the batch: same signature family, same banding, same verification, so
    the pair sets (and jaccard values) must be identical."""
    docs, corpus, batch = corpus_and_batch
    got = incremental.incremental_near_dup_pairs(
        spark, batch, index_path
    )

    batch_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}
    union_pairs = minhash_lsh_pairs(docs)
    want = {
        (r["id1"], r["id2"], r["jaccard"])
        for r in union_pairs.collect()
        if r["id1"] in batch_ids or r["id2"] in batch_ids
    }
    assert _pair_set(got) == want

    # Non-vacuous on BOTH probe sides.
    by_vs = {r["vs"] for r in got.select("vs").distinct().collect()}
    assert by_vs == {"corpus", "batch"}

    # The 'vs' tag is truthful: corpus pairs touch exactly one batch id.
    for r in got.collect():
        n_batch = (r["id1"] in batch_ids) + (r["id2"] in batch_ids)
        assert n_batch == (1 if r["vs"] == "corpus" else 2)


def test_probe_plan_broadcasts_batch_and_prunes_sets(
    spark, corpus_and_batch, index_path
):
    """The scale invariants, asserted on the executed plan: (1) the
    corpus-bucket probe is a broadcast join with the BATCH side built —
    the corpus bucket store is scanned, never exchanged; (2) the set-store
    fetch carries a partition filter on set_bucket, so verification reads
    only candidate directories."""
    from aws_snowflake_kinesis_airflow_pipeline_spark.operators.dedup import (
        band_buckets,
        doc_shingles,
        minhash_signatures,
    )

    _, _, batch = corpus_and_batch

    # (1) Probe shape, on the un-checkpointed candidate join (the
    # operator checkpoints it, which hides the join from later plans).
    per_doc = doc_shingles(batch)
    sig = minhash_signatures(batch, per_doc=per_doc)
    new_buckets = band_buckets(sig)
    cand = incremental._cross_candidates(
        spark, new_buckets, index_path
    )
    cand.write.format("noop").mode("overwrite").save()
    cand_plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin [band_id" in cand_plan
    # The corpus store reaches the probe join without ever being hash
    # exchanged on the band keys (the post-join distinct exchange is
    # candidate-volume and allowed).
    assert "Exchange hashpartitioning(band_id" not in cand_plan

    # (2) Verification fetch pruning: the full operator's sets scan
    # carries a partition filter (isin over the collected candidate
    # buckets) — candidate directories are read, not the whole store.
    pairs = incremental.incremental_near_dup_pairs(
        spark, batch, index_path
    )
    pairs.write.format("noop").mode("overwrite").save()
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    part_filter_lines = [
        line
        for line in plan.splitlines()
        if "PartitionFilters" in line and "set_bucket" in line
    ]
    assert any(
        "INSET" in line or "IN (" in line for line in part_filter_lines
    )


# --------------------------------------------------------------------------
# Embedding-side incremental index
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def emb_corpus_and_batch(spark):
    """Corpus/batch split with PLANTED duplicates: the fixture's vectors
    are near-orthogonal (c5's docstring — zero unplanted pairs at 0.9),
    so cross pairs are exact copies of corpus vectors under fresh batch
    ids, and batch-internal pairs are twin copies of batch vectors."""
    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") % 3 != 0).localCheckpoint()
    originals = emb.filter(F.col("vec_id") % 3 == 0)
    cross_copies = (
        corpus.filter(F.col("vec_id") < 20)
        .withColumn("vec_id", F.col("vec_id") + 1_000_000)
    )
    twin_a = originals.filter(F.col("vec_id") < 15).withColumn(
        "vec_id", F.col("vec_id") + 2_000_000
    )
    twin_b = originals.filter(F.col("vec_id") < 15).withColumn(
        "vec_id", F.col("vec_id") + 3_000_000
    )
    batch = (
        originals.unionByName(cross_copies)
        .unionByName(twin_a)
        .unionByName(twin_b)
        .localCheckpoint()
    )
    return corpus.unionByName(batch), corpus, batch


@pytest.fixture(scope="module")
def emb_index_path(spark, emb_corpus_and_batch, tmp_path_factory):
    _, corpus, _ = emb_corpus_and_batch
    path = str(tmp_path_factory.mktemp("emb_index") / "idx")
    incremental.write_embedding_index(
        corpus, path, n_bits=8, n_tables=4
    )
    return path


def test_embedding_incremental_matches_batch_operator(
    spark, emb_corpus_and_batch, emb_index_path
):
    """Probe+verify against the store ≡ the batch LSH operator on the
    union corpus at the index's own parameters, restricted to pairs
    touching the batch — same hyperplanes, same candidates, same exact
    cosine rounded to 4."""
    from aws_snowflake_kinesis_airflow_pipeline_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )

    emb, _, batch = emb_corpus_and_batch
    got = incremental.incremental_embedding_near_dups(
        spark, batch, emb_index_path
    )
    batch_ids = {r["vec_id"] for r in batch.select("vec_id").collect()}
    union_pairs = embedding_near_dup_pairs(
        emb, threshold=0.9, n_bits=8
    )
    want = {
        (r["id1"], r["id2"], r["cosine"])
        for r in union_pairs.collect()
        if r["id1"] in batch_ids or r["id2"] in batch_ids
    }
    assert {
        (r["id1"], r["id2"], r["cosine"]) for r in got.collect()
    } == want
    assert want  # fixture plants duplicates across the modulus split
    # both probe sides fired
    assert {r["vs"] for r in got.select("vs").distinct().collect()} == {
        "corpus",
        "batch",
    }


@pytest.mark.parametrize("seed", [3, 8])
def test_probe_matches_batch_on_random_corpus(spark, tmp_path, seed):
    """Off-fixture replay of the probe ≡ batch contract (the
    test_oracle_parity_fuzz discipline applied here): a random corpus
    with perturbation-planted near-dups and a random modulus split.
    Catches anything the fixture's particular duplicate structure can't
    reach (singleton batches, duplicate-free buckets, batch-only
    clusters)."""
    import random

    rng = random.Random(seed)
    words = [
        "the", "cat", "sat", "on", "mat", "dog", "ran", "fast", "blue",
        "sky", "data", "spark", "query", "join", "shuffle", "hash",
    ]
    rows: list[tuple[int, str]] = []
    i = 0
    while i < 120:
        body = " ".join(rng.choice(words) for _ in range(rng.randint(5, 60)))
        rows.append((i, body))
        i += 1
        if rng.random() < 0.3 and i < 120:  # plant a near-dup
            toks = body.split()
            toks[rng.randrange(len(toks))] = rng.choice(words)
            rows.append((i, " ".join(toks)))
            i += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    m = rng.randint(2, 4)
    corpus = docs.filter(F.col("doc_id") % m != 0)
    batch = docs.filter(F.col("doc_id") % m == 0)
    path = str(tmp_path / "idx")
    incremental.write_minhash_index(corpus, path)

    got = _pair_set(
        incremental.incremental_near_dup_pairs(
            spark, batch, path
        )
    )
    batch_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}
    want = {
        p
        for p in _pair_set(minhash_lsh_pairs(docs))
        if p[0] in batch_ids or p[1] in batch_ids
    }
    assert got == want


def test_meta_file_written_driver_side_round_trips(spark, tmp_path):
    """write_embedding_index writes its meta as ONE driver-side JSON file
    (no Spark job — round-13 optimization); the reader must see the exact
    parameters through the same spark.read.json path as before."""
    df = spark.createDataFrame(
        [(1, [1.0] * 4), (2, [0.5] * 4)], "vec_id long, embedding array<double>"
    )
    path = str(tmp_path / "emb_idx")
    incremental.write_embedding_index(
        df, path, n_bits=9, n_tables=2, dim=4, seed=7
    )
    meta = incremental._read_embedding_meta(spark, path)
    assert meta == {"n_bits": 9, "n_tables": 2, "dim": 4, "seed": 7}
    import os

    files = os.listdir(f"{path}/meta")
    assert [f for f in files if f.endswith(".json")] == ["meta.json"]


def test_meta_overwrite_drops_stale_part_files(spark, tmp_path):
    """Overwriting a store whose meta dir still holds a part file from the
    older Spark-job writer leaves only the new meta.json: spark.read.json
    would otherwise read the stale parameters next to the new ones. The
    rename's temp file is gone too."""
    import os

    df = spark.createDataFrame(
        [(1, [1.0] * 4), (2, [0.5] * 4)], "vec_id long, embedding array<double>"
    )
    path = str(tmp_path / "emb_idx")
    spark.createDataFrame(
        [(3, 1, 4, 1)], "n_bits int, n_tables int, dim int, seed int"
    ).coalesce(1).write.json(f"{path}/meta")
    assert any(f.startswith("part-") for f in os.listdir(f"{path}/meta"))

    incremental.write_embedding_index(
        df, path, n_bits=9, n_tables=2, dim=4, seed=7
    )
    files = os.listdir(f"{path}/meta")
    assert [f for f in files if not f.endswith(".crc")] == ["meta.json"]
    assert spark.read.json(f"{path}/meta").count() == 1
    assert incremental._read_embedding_meta(spark, path) == {
        "n_bits": 9, "n_tables": 2, "dim": 4, "seed": 7,
    }


@pytest.mark.parametrize("crash_at", ["delete", "rename"])
def test_meta_write_crash_leaves_old_file_or_none(
    spark, tmp_path, monkeypatch, crash_at
):
    """Crash matrix of the meta file's temp-then-rename write. Interrupted
    after the temp write (the old file's delete never runs) the complete
    old ``meta.json`` stays; interrupted after the delete (the rename never
    runs) ``meta.json`` is absent. Either way the reader never returns the
    dot-prefixed temp file's payload."""
    import json
    import os

    from pyspark.errors import AnalysisException

    path = str(tmp_path / "emb_idx")
    meta_file = f"{path}/meta/meta.json"
    old = {"n_bits": 3, "n_tables": 1, "dim": 4, "seed": 1}
    incremental._write_json_file(spark, meta_file, old)

    class Crash(Exception):
        pass

    fs_for = incremental._fs_for

    def crashing_fs_for(spark, p):
        fs, hpath, jvm = fs_for(spark, p)

        class CrashingFS:
            def __getattr__(self, name):
                if name == crash_at:
                    raise Crash(name)
                return getattr(fs, name)

        return CrashingFS(), hpath, jvm

    monkeypatch.setattr(incremental, "_fs_for", crashing_fs_for)
    with pytest.raises(Crash):
        incremental._write_json_file(
            spark, meta_file, {"n_bits": 9, "n_tables": 2, "dim": 4, "seed": 7}
        )
    monkeypatch.undo()

    assert os.path.exists(f"{path}/meta/.meta.json.tmp")
    if crash_at == "delete":
        with open(meta_file) as f:
            assert json.load(f) == old
        assert incremental._read_embedding_meta(spark, path) == old
    else:
        assert not os.path.exists(meta_file)
        with pytest.raises(AnalysisException):
            incremental._read_embedding_meta(spark, path)


def test_concurrent_overwrite_writes_inherit_job_group(spark, tmp_path):
    """The overwrite build's two store writes run on worker threads; they
    must inherit the caller's job group (and with it cancellation), so
    none of their jobs lands outside it."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    df = spark.createDataFrame(
        [(1, [1.0] * 4), (2, [0.5] * 4)], "vec_id long, embedding array<double>"
    )
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("emb-index-build", "overwrite build")
    try:
        incremental.write_embedding_index(
            df, str(tmp_path / "emb_idx"), dim=4
        )
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped
    assert tracker.getJobIdsForGroup("emb-index-build")


def test_build_index_dir_is_fresh_per_invocation():
    """The c2/c5 in-query index build must never reuse a previous
    invocation's directory (round-12 verdict: a fixture-keyed cache is
    result precomputation, not optimization)."""
    from aws_snowflake_kinesis_airflow_pipeline_spark.plans.llm_suite import (
        _build_index_dir,
    )

    calls = []
    p1 = _build_index_dir("t", calls.append)
    p2 = _build_index_dir("t", calls.append)
    assert p1 != p2  # fresh mkdtemp every invocation
    assert calls == [p1, p2]  # build ran for each
