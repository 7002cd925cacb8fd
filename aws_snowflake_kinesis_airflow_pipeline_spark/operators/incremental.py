"""Incremental near-duplicate dedup against a persisted MinHash index.

The batch operators in :mod:`.dedup` answer "dedup this corpus"; a
production training-data pipeline instead receives a bounded new batch
each cycle and must answer "which of these new documents near-duplicate
anything already kept?" WITHOUT re-signaturing the corpus. The reference
pipeline has this exact shape at exact-id granularity — its hourly
INSERT...SELECT NOT IN dedup appends only unseen event_ids
(airflow/dags/snowflake_data_pipeline.py:128-146); this module is that
contract lifted to near-duplicate granularity.

Persist the corpus's band buckets and shingle sets once
(:func:`write_minhash_index`), then each increment runs:

1. batch signatures + band buckets        — row-local, batch-sized
2. probe: persisted buckets ⋈ batch buckets on (band_id, band_hash)
   — the batch side broadcasts, so the corpus bucket store is SCANNED
   (narrow: 24 B/row) but never shuffled or re-hashed
3. batch-vs-batch banding self-join       — batch-sized
4. exact-Jaccard verification of all candidates — candidate-volume; old
   docs' shingle sets are fetched from the set store with directory-level
   partition pruning (sets are hive-partitioned by a hash bucket of id,
   and only the candidate ids' buckets are read)

Cost per increment: O(|batch| + |candidates|) shuffle + one narrow corpus
scan. Nothing corpus-sized is shuffled, re-tokenized, or re-MinHashed —
the property that makes daily ingest against a 100 TB corpus feasible.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup import (
    MINHASH_K,
    _hyperplanes,
    _posting_pairs,
    band_buckets,
    cosine_pairs_udf,
    doc_shingles,
    hyperplane_buckets_udf,
    minhash_signatures,
    ngram_jaccard_pairs,
)

#: Hive-partition fanout of the shingle-set store. Candidate fetches read
#: only the candidate ids' directories, so a higher fanout prunes harder
#: but makes more (smaller) files; 64 keeps directories >= ~1.5 GB/100 TB.
N_SET_BUCKETS = 64


def _set_bucket(id_col: str):
    return F.pmod(F.xxhash64(F.col(id_col)), F.lit(N_SET_BUCKETS)).alias(
        "set_bucket"
    )


def write_minhash_index(df: DataFrame, path: str) -> None:
    """Persist the two per-``doc_id`` artifacts of ``text`` that
    incremental dedup needs:

    - ``{path}/buckets`` — (id, band_id, band_hash): the LSH probe
      surface, ``MINHASH_BANDS`` narrow rows per doc, written sorted by
      (band_id, band_hash) within partitions so row-group min/max stats
      line up with probe keys.
    - ``{path}/sets`` — (id, hs): hashed shingle sets for exact-Jaccard
      verification, hive-partitioned by ``set_bucket = xxhash64(id) %
      {N_SET_BUCKETS}`` so a candidate fetch reads only the candidate
      ids' directories instead of every set in the corpus (the heavy
      column lives here — pruning this scan is what matters).

    One pass over ``df``: shingle sets are computed once and reused for
    both signatures and the set store.

    The two writes run CONCURRENTLY (guide §2.6): they are independent
    jobs sharing the pinned shingle pass, and overlapping them lets the
    buckets job's tasks back-fill the sets job's straggler tail
    (same-sitting A/B at sf0.1: 6.1–6.9 s serial → 3.7–4.3 s overlapped).
    A crash leaves a store that needs a rebuild whichever order the
    writes ran in.
    """
    per_doc = doc_shingles(df, MINHASH_K).localCheckpoint(
        eager=False  # materializes inside the sets write, reused by buckets
    )
    sig = minhash_signatures(df, MINHASH_K, per_doc=per_doc)
    sets = per_doc.select("doc_id", "hs", _set_bucket("doc_id"))

    def _write_sets() -> None:
        (
            sets.repartition("set_bucket")  # one writer wave per directory
            .write.mode("overwrite")
            .partitionBy("set_bucket")
            .parquet(f"{path}/sets")
        )

    def _write_buckets() -> None:
        (
            band_buckets(sig)
            .sortWithinPartitions("band_id", "band_hash")
            .write.mode("overwrite")
            .parquet(f"{path}/buckets")
        )

    _run_concurrently(df.sparkSession, _write_sets, _write_buckets)


def _run_concurrently(spark: SparkSession, *writes) -> None:
    """Run independent store writes on their own threads and wait for all
    of them; the first failed write re-raises here. Each target is
    wrapped with ``pyspark.inheritable_thread_target`` in the caller's
    thread, so the caller's job group, description, tags and
    cancellation reach the writes' jobs (a py4j thread otherwise starts
    with no local properties). Each target gets its own wrapper: one
    wrapper hands every thread it wraps the SAME properties object, and
    concurrent SQL executions would then overwrite each other's
    execution id in it."""
    with ThreadPoolExecutor(max_workers=len(writes)) as pool:
        futures = [
            pool.submit(inheritable_thread_target(spark)(w)) for w in writes
        ]
    for exc in [fut.exception() for fut in futures]:
        if exc is not None:
            raise exc


def _verify_cross_pairs(
    candidates: DataFrame,
    new_sets: DataFrame,
    old_sets: DataFrame,
) -> DataFrame:
    """Exact Jaccard >= 0.8 over (new_id, old_id) candidates, each side's shingle
    sets from its own source — the same row-local array_intersect
    verification as ngram_jaccard_pairs' candidate path, which cannot be
    reused directly because its two sides come from one DataFrame."""
    s1 = new_sets.select(F.col("doc_id").alias("new_id"), F.col("hs").alias("hs1"))
    s2 = old_sets.select(F.col("doc_id").alias("old_id"), F.col("hs").alias("hs2"))
    # SHUFFLE_HASH for the same reason as ngram_jaccard_pairs' verify
    # joins: every side is batch/candidate volume, and a statically
    # mis-estimated broadcast of a checkpointed input cannot be demoted
    # by AQE (measured driver OOM on the batch path's equivalent join).
    return (
        candidates.join(s1.hint("shuffle_hash"), "new_id")
        .join(s2.hint("shuffle_hash"), "old_id")
        .select(
            "new_id",
            "old_id",
            F.size(F.array_intersect("hs1", "hs2")).alias("n_inter"),
            F.size("hs1").alias("n1"),
            F.size("hs2").alias("n2"),
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("n1") + F.col("n2") - F.col("n_inter")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= 0.8)
        .select("new_id", "old_id", "jaccard")
    )


def _cross_candidates(
    spark: SparkSession,
    new_buckets: DataFrame,
    index_path: str,
) -> DataFrame:
    """(new_id, old_id) distinct band collisions between the batch's
    bucket triple and the persisted store. The batch side broadcasts, so
    the plan is one BroadcastHashJoin directly over the store's parquet
    scan — the corpus is read, never exchanged (pinned in
    tests/test_incremental.py on this un-checkpointed plan)."""
    corpus_buckets = spark.read.parquet(f"{index_path}/buckets")
    probe_side = F.broadcast(
        new_buckets.select(F.col("doc_id").alias("new_id"), "band_id", "band_hash")
    )
    return (
        corpus_buckets.select(
            F.col("doc_id").alias("old_id"), "band_id", "band_hash"
        )
        .join(probe_side, ["band_id", "band_hash"])
        .select("new_id", "old_id")
        .distinct()
    )


def incremental_near_dup_pairs(
    spark: SparkSession, new_df: DataFrame, index_path: str
) -> DataFrame:
    """Near-dup ``doc_id`` pairs (``text`` Jaccard >= 0.8) between a new
    batch and (persisted corpus ∪ itself).

    Returns (id1, id2, jaccard, vs) with id1 < id2; ``vs`` is ``corpus``
    for batch-vs-index matches and ``batch`` for batch-internal matches.
    Batch docs re-submitted with an id already in the index match
    themselves at Jaccard 1.0 (``vs='corpus'``).
    """
    # Batch-sized artifacts, each read by 2+ downstream joins. All pins
    # here are LAZY local checkpoints (round-12): blocks still build
    # exactly once, but inside the first action that needs them — the
    # bounded hit-bucket collect below — instead of as four standalone
    # driver-waited jobs, so the batch passes overlap as stages of one
    # job. (Guide §2.6; measured ~4 s of per-job latency at sf0.1.)
    new_per_doc = doc_shingles(
        new_df, MINHASH_K
    ).localCheckpoint(eager=False)
    new_sig = minhash_signatures(new_df, MINHASH_K, per_doc=new_per_doc)
    new_buckets = band_buckets(new_sig).localCheckpoint(eager=False)

    # --- batch vs corpus: probe the persisted bucket store -------------
    cross_cand = _cross_candidates(
        spark, new_buckets, index_path
    ).localCheckpoint(eager=False)  # candidate-volume; read by bucket collect + verify

    # Fetch ONLY candidate corpus docs' sets: directory pruning via the
    # id-hash partition key (driver-bounded collect: <= N_SET_BUCKETS
    # ints), then an id semi-join inside the surviving directories.
    cand_old_ids = cross_cand.select(
        F.col("old_id").alias("doc_id")
    ).distinct()
    hit_buckets = [
        r["set_bucket"]
        for r in cand_old_ids.select(_set_bucket("doc_id")).distinct().collect()
    ]
    old_sets = (
        spark.read.parquet(f"{index_path}/sets")
        .filter(F.col("set_bucket").isin(hit_buckets or [-1]))
        .join(cand_old_ids, "doc_id", "left_semi")
    )
    cross_pairs = _verify_cross_pairs(
        cross_cand, new_per_doc, old_sets
    )

    # --- batch vs batch: grouped pair emission at batch size (same form
    # as minhash_lsh_pairs — one exchange, no candidate self-join) ------
    batch_postings = (
        new_buckets.groupBy("band_id", "band_hash")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    batch_cand = _posting_pairs(batch_postings).distinct().localCheckpoint(
        eager=False
    )
    batch_pairs = ngram_jaccard_pairs(
        new_df,
        k=MINHASH_K,
        threshold=0.8,
        candidates=batch_cand,
        per_doc_sets=new_per_doc,
    )

    return (
        cross_pairs.select(
            F.least("new_id", "old_id").alias("id1"),
            F.greatest("new_id", "old_id").alias("id2"),
            "jaccard",
            F.lit("corpus").alias("vs"),
        )
        .unionByName(batch_pairs.withColumn("vs", F.lit("batch")))
    )


# --------------------------------------------------------------------------
# Embedding (cosine) incremental dedup — the same store/probe/verify shape
# over hyperplane-LSH buckets instead of MinHash bands.
# --------------------------------------------------------------------------


def _embedding_buckets(
    df: DataFrame,
    vec_col: str,
    n_bits: int,
    n_tables: int,
    dim: int,
    seed: int,
) -> DataFrame:
    """(vec_id, table_id, bucket) under the index's fixed hyperplanes — the
    one bucketing definition both the store writer and every probe use
    (parameters travel in the index's meta file, so yesterday's store and
    today's batch can never disagree on resolution or seed)."""
    bucket_fn = hyperplane_buckets_udf(
        [_hyperplanes(dim, n_bits, seed + t * 1000) for t in range(n_tables)]
    )
    return df.select(
        "vec_id",
        F.posexplode(bucket_fn(F.col(vec_col).cast("array<double>"))).alias(
            "table_id", "bucket"
        ),
    )


def write_embedding_index(
    df: DataFrame,
    path: str,
    n_bits: int = 8,
    n_tables: int = 4,
    dim: int = 64,
    seed: int = 42,
) -> None:
    """Persist an embedding corpus (``vec_id``, ``embedding``) for
    incremental cosine near-dup checks:

    - ``{path}/buckets`` — (id, table_id, bucket): n_tables narrow rows
      per vector, the probe surface.
    - ``{path}/vectors`` — (id, vec): hive-partitioned by the same
      id-hash bucket as the text set store, so candidate verification
      reads only candidate directories (vectors are the heavy column).
    - ``{path}/meta`` — one JSON row pinning (n_bits, n_tables, dim,
      seed): probes MUST bucket with the index's own parameters, and a
      store can't answer for parameters it wasn't built with.

    ``n_bits`` is fixed at build time (the batch operator's auto-sizing
    is a per-call decision; a persistent store needs one resolution).
    Choose it for the CORPUS's target occupancy — rebuilding the store is
    the resize path, same as any LSH index.
    """
    spark = df.sparkSession

    def _write_buckets() -> None:
        (
            _embedding_buckets(df, "embedding", n_bits, n_tables, dim, seed)
            .sortWithinPartitions("table_id", "bucket")
            .write.mode("overwrite")
            .parquet(f"{path}/buckets")
        )

    def _write_vectors() -> None:
        (
            df.select(
                "vec_id",
                F.col("embedding").cast("array<double>").alias("vec"),
                _set_bucket("vec_id"),
            )
            .repartition("set_bucket")
            .write.mode("overwrite")
            .partitionBy("set_bucket")
            .parquet(f"{path}/vectors")
        )

    # The two store writes are independent jobs over the same input plan:
    # overlap them so the second job's tasks back-fill the first's
    # straggler tail (guide §2.6). A failed build leaves a partial store
    # whichever order the writes ran in, and the recovery path is a
    # rebuild.
    _run_concurrently(spark, _write_buckets, _write_vectors)
    # One 4-int JSON row: written driver-side through the Hadoop FS API
    # instead of a Spark job — a createDataFrame + coalesce(1)
    # .write.json of a single row measured ~5 s at sf0.1 (whole-job
    # scheduling + local-collection round trip for four integers; guide
    # §5: the driver should do almost no data work, and this IS driver
    # work). spark.read.json reads the bare file identically. The meta
    # dir goes first: a store written by older code holds its meta as
    # part-*.json, which spark.read.json would read next to the new file
    # and could return instead of it.
    fs, meta_dir, _ = _fs_for(spark, f"{path}/meta")
    fs.delete(meta_dir, True)
    _write_json_file(
        spark,
        f"{path}/meta/meta.json",
        {"n_bits": n_bits, "n_tables": n_tables, "dim": dim, "seed": seed},
    )


def _fs_for(spark: SparkSession, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath, jvm


def _write_json_file(spark: SparkSession, path: str, payload: dict) -> None:
    """Write one JSON object as a single file via the Hadoop FS API (no
    Spark job; works on any FS the session can reach). Overwrites.

    The bytes go to a hidden temp file that is renamed into place, so a
    crash leaves ``path`` absent or complete, never truncated; readers
    skip the dot-prefixed temp file."""
    import json as _json

    fs, hpath, jvm = _fs_for(spark, path)
    tmp = jvm.org.apache.hadoop.fs.Path(hpath.getParent(), f".{hpath.getName()}.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(_json.dumps(payload).encode("utf-8")))
    finally:
        out.close()
    fs.delete(hpath, False)
    if not fs.rename(tmp, hpath):
        raise OSError(f"could not rename {tmp} to {path}")


def _read_embedding_meta(spark: SparkSession, path: str) -> dict:
    row = spark.read.json(f"{path}/meta").first()
    return {
        "n_bits": int(row["n_bits"]),
        "n_tables": int(row["n_tables"]),
        "dim": int(row["dim"]),
        "seed": int(row["seed"]),
    }


def incremental_embedding_near_dups(
    spark: SparkSession, new_df: DataFrame, index_path: str
) -> DataFrame:
    """``vec_id`` pairs with ``embedding`` cosine >= 0.9 between a new
    vector batch and (persisted corpus ∪ itself) — (id1, id2, cosine, vs)
    with id1 < id2, ``vs`` as in
    :func:`incremental_near_dup_pairs`. Same shuffle discipline: the
    batch's buckets broadcast into the store probe (corpus scanned, never
    shuffled), verification is candidate-volume with the store's vector
    fetch partition-pruned by id-hash bucket, and exact cosine makes
    precision exact (LSH only bounds recall)."""
    meta = _read_embedding_meta(spark, index_path)
    # Lazy pins, same rationale as incremental_near_dup_pairs: the
    # hit-bucket collect below materializes the whole batch chain as one
    # job instead of three.
    new_vecs = new_df.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("vec")
    ).localCheckpoint(eager=False)
    new_buckets = _embedding_buckets(
        new_vecs,
        "vec",
        meta["n_bits"],
        meta["n_tables"],
        meta["dim"],
        meta["seed"],
    ).localCheckpoint(eager=False)

    # Batch vs corpus: probe the store, batch side broadcast.
    corpus_buckets = spark.read.parquet(f"{index_path}/buckets")
    probe_side = F.broadcast(
        new_buckets.select(F.col("vec_id").alias("new_id"), "table_id", "bucket")
    )
    cross_cand = (
        corpus_buckets.select(
            F.col("vec_id").alias("old_id"), "table_id", "bucket"
        )
        .join(probe_side, ["table_id", "bucket"])
        .select("new_id", "old_id")
        .distinct()
        .localCheckpoint(eager=False)
    )

    # Batch vs batch: grouped pair emission on the SAME buckets (one
    # exchange instead of a two-sided self-join; see minhash_lsh_pairs).
    batch_postings = (
        new_buckets.groupBy("table_id", "bucket")
        .agg(F.sort_array(F.collect_list("vec_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    batch_cand = _posting_pairs(batch_postings).distinct()

    # Verification: exact cosine at candidate volume. Old vectors come
    # from the store with directory pruning (same discipline as the text
    # set fetch); batch vectors are the checkpointed batch projection.
    cand_old_ids = cross_cand.select(F.col("old_id").alias("vec_id")).distinct()
    hit_buckets = [
        r["set_bucket"]
        for r in cand_old_ids.select(_set_bucket("vec_id")).distinct().collect()
    ]
    old_vecs = (
        spark.read.parquet(f"{index_path}/vectors")
        .filter(F.col("set_bucket").isin(hit_buckets or [-1]))
        .join(cand_old_ids, "vec_id", "left_semi")
        .select("vec_id", "vec")
    )
    cos = cosine_pairs_udf()

    def _verify(cand, ids, side_a, sets_a, side_b, sets_b):
        va = sets_a.select(
            F.col("vec_id").alias(side_a), F.col("vec").alias("v1")
        )
        vb = sets_b.select(
            F.col("vec_id").alias(side_b), F.col("vec").alias("v2")
        )
        # SHUFFLE_HASH: batch/candidate-volume sides; see
        # _verify_cross_pairs.
        return (
            cand.join(va.hint("shuffle_hash"), side_a)
            .join(vb.hint("shuffle_hash"), side_b)
            # Round AFTER the exact kernel. bround, not round: the batch
            # operator rounds with np.round (HALF_EVEN), and Spark's
            # F.round is HALF_UP — on an exactly-representable boundary
            # (e.g. normalized dot 0.78125) the two would disagree by one
            # ulp of the 4-dp grid and break batch-vs-incremental parity.
            .withColumn("cosine", F.bround(cos("v1", "v2"), 4))
            .filter(F.col("cosine") >= 0.9)
            .select(
                F.least(side_a, side_b).alias("id1"),
                F.greatest(side_a, side_b).alias("id2"),
                "cosine",
                F.lit(ids).alias("vs"),
            )
        )

    cross_pairs = _verify(
        cross_cand, "corpus", "new_id", new_vecs, "old_id", old_vecs
    )
    batch_pairs = _verify(
        batch_cand, "batch", "id1", new_vecs, "id2", new_vecs
    )
    return cross_pairs.unionByName(batch_pairs)

