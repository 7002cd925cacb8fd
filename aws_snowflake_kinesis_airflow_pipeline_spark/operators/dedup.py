"""Deduplication operator family for LLM-data pipelines.

Five strategies, all driver-light (no collect, no cross product):

- :func:`exact_dedup` — hash group-by, keep deterministic representative.
- :func:`minhash_signatures` / :func:`minhash_lsh_pairs` — MinHash + banded
  LSH: shingle -> 64 minhashes -> band buckets -> in-bucket candidate join ->
  exact-Jaccard verification. The 100 TB near-dup path: candidate generation
  is equality-join-shaped (shuffle on band hash), never O(n^2).
- :func:`simhash_signatures` / :func:`simhash_near_dup_pairs` — 64-bit
  SimHash, chunk-bucket candidate join, Hamming-distance verification.
- :func:`ngram_jaccard_pairs` — exact Jaccard via an inverted shingle index
  (explode -> equality self-join -> group), the verification primitive.
- :func:`embedding_near_dup_pairs` — cosine near-dup via random-hyperplane
  LSH buckets + in-bucket exact cosine.

Everything is built-in-function Spark; the only Python that touches data
volume is plan construction.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import adaptive_shingles, tokens
from .spread import pin
from .spread import scaled_repartition as _scaled_repartition
from .spread import spread as _spread

#: MinHash LSH parameters of :func:`minhash_lsh_pairs` and of the persisted
#: index (operators/incremental.py): a stored bucket collides with a batch
#: bucket only when both were banded at the same values. The hash count is
#: bands x rows, so every signature position lands in exactly one band.
MINHASH_BANDS = 16
MINHASH_ROWS = 4
MINHASH_HASHES = MINHASH_BANDS * MINHASH_ROWS
MINHASH_K = 3


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame,
    key_cols: list[str],
    id_col: str,
    unique_ids: bool = False,
) -> DataFrame:
    """One row per distinct ``key_cols`` value, keeping the minimum ``id_col``
    as the deterministic representative (dropDuplicates picks an arbitrary
    row — unacceptable for reproducible pipelines).

    Groups by a 128-bit content fingerprint (two independently-seeded
    xxhash64s over the key struct) instead of the raw key columns, so at
    100 TB the exchange hashes/compares a 16-byte key rather than full
    document bodies. xxhash64 hashes native column values directly —
    null-safe and full-precision for every type (a JSON-encode fingerprint
    would truncate timestamps to the render format's precision). In the
    default (replay-safe) form the key columns ride along as ``min_by``
    aggregates (every value in a group is identical modulo a 128-bit
    collision, which is below hardware-error probability), so the one
    exchange still carries row BODIES.

    ``unique_ids=True`` — the fast path when ``id_col`` is globally unique
    and non-null (the normal shape for a document corpus): only the narrow
    (fingerprint, id) pairs shuffle, the loser-id set (small for a
    mostly-unique corpus) comes from a window min per fingerprint, and a
    left-anti join removes losers from the ORIGINAL scan — document bodies
    never enter an exchange at all. Row-identical to the default path on
    unique-id input (property-pinned); NOT safe under at-least-once
    replay, where exact row duplicates share an id and both copies would
    survive — that case belongs to the default path, which collapses them
    by fingerprint.

    Caveat (both paths): the fingerprint distinguishes -0.0 from 0.0 in
    float keys (raw-bits hashing) where groupBy would merge them;
    normalize float keys first if that distinction matters.
    """
    others = [c for c in df.columns if c not in key_cols and c != id_col]
    # Each key contributes an explicit null-flag child alongside the value:
    # xxhash64 skips NULL children STRUCTURALLY (the hash state is simply
    # not advanced), so without the flags, multi-column keys differing
    # only in null placement — ('a', NULL) vs (NULL, 'a') — collide with
    # certainty and distinct rows silently merge.
    keys = []
    for c in key_cols:
        keys.append(F.isnull(c).cast("int"))
        keys.append(F.col(c))
    if unique_ids:
        from pyspark.sql.window import Window

        # Narrow pairs only: 2 longs of fingerprint + the id. The window's
        # exchange (auto-sized like every corpus-volume exchange, though
        # here a "partition" is 24 bytes/row) and its partition-key sort
        # never see a document body; the loser set is |rows| - |distinct
        # keys|, so for a mostly-unique corpus the anti-join's right side
        # is tiny and broadcasts (AQE decides from actual size).
        #
        # Precondition guard: a NULL id would make `id != min(id)`
        # evaluate to NULL below, so NULL-id duplicates would silently
        # survive; fail loudly instead. The when/otherwise wrapping (vs a
        # droppable assert column) rides the id everywhere it is used, so
        # column pruning cannot elide the check. Duplicate ids are NOT
        # runtime-detected (that needs a second corpus aggregation); that
        # precondition stays the caller's contract, documented above.
        checked_id = F.when(
            F.col(id_col).isNotNull(), F.col(id_col)
        ).otherwise(
            F.raise_error(
                F.lit(
                    "exact_dedup(unique_ids=True): NULL value in id column "
                    f"'{id_col}' — the fast path requires non-null, "
                    "globally unique ids; use the default path"
                )
            )
        )
        pairs = df.select(
            checked_id.alias(id_col),
            F.xxhash64(F.lit(0), *keys).alias("_key_fp0"),
            F.xxhash64(F.lit(1), *keys).alias("_key_fp1"),
        )
        w = Window.partitionBy("_key_fp0", "_key_fp1")
        losers = (
            _scaled_repartition(pairs, "_key_fp0", "_key_fp1", source=df)
            .withColumn("_win", F.min(id_col).over(w))
            .filter(F.col(id_col) != F.col("_win"))
            .select(id_col)
        )
        return df.join(losers, id_col, "left_anti").select(
            *key_cols, id_col, *others
        )
    fp = F.concat(
        F.xxhash64(F.lit(0), *keys).cast("string"),
        F.lit(":"),
        F.xxhash64(F.lit(1), *keys).cast("string"),
    )
    # Auto-size the fingerprint exchange to the input (spread.py): the
    # groups carry full row bodies (min_by over every column), so final-
    # aggregation state is corpus-bytes / n_partitions — at 1000x the
    # bench SF the session default OOMs. The lost map-side combine only
    # mattered for duplicate-heavy corpora, where the final agg is small
    # anyway.
    return (
        _scaled_repartition(df.withColumn("_key_fp", fp), "_key_fp")
        .groupBy("_key_fp")
        .agg(
            F.min(id_col).alias(id_col),
            *[F.min_by(c, id_col).alias(c) for c in key_cols],
            *[F.min_by(c, id_col).alias(c) for c in others],
        )
        .select(*key_cols, id_col, *others)
    )


# --------------------------------------------------------------------------
# Shingle inverted index + exact Jaccard
# --------------------------------------------------------------------------


def doc_shingles(
    df: DataFrame, k: int = 3
) -> DataFrame:
    """Per-document hashed shingle set of ``text``: (doc_id, ``hs:
    array<long>``) where
    ``hs`` holds the xxhash64 of each distinct shingle — word k-grams
    normally, character 5-grams for no-space-script (CJK)
    documents, where whitespace tokenization yields one giant token and
    the document would otherwise carry zero dedup signal.

    The row-local root of the whole text-dedup family: the inverted index
    is ``explode(hs)``, per-document set sizes are ``size(hs)``, and
    MinHash signatures are a vectorized reduction over ``hs`` — all three
    derive from this one projection with ZERO shuffles (distinctness is
    per-document, so ``array_distinct`` inside the row replaces what was
    a global distinct over the exploded corpus). Shingles travel as
    8-byte longs from here on; cross-shingle hash collisions perturb
    Jaccard with probability ~|shingles|^2 / 2^64 (never observed at
    fixture scale; deterministic when they do occur)."""
    return _spread(df.select("doc_id", "text"), "doc_id").select(
        "doc_id",
        F.transform(
            F.array_distinct(adaptive_shingles(k)),
            lambda s: F.xxhash64(s),
        ).alias("hs"),
    )


def shingle_index(df: DataFrame) -> DataFrame:
    """(doc_id, shingle) inverted index — one row per distinct word-3-gram
    per document (see :func:`doc_shingles`; this is its exploded form)."""
    return doc_shingles(df, 3).select(
        "doc_id", F.explode("hs").alias("shingle")
    )


def _posting_pairs(postings: DataFrame) -> DataFrame:
    """Row-local (id1, id2) emission from sorted, cap-bounded posting
    lists: every ordered pair within each ``ids`` array. Safe only
    because the caller bounds ``size(ids)`` — a group emits <= cap^2/2
    rows."""
    return postings.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ids",
                    lambda x, i: F.transform(
                        F.slice(
                            F.col("ids"), i + F.lit(2), F.size("ids")
                        ),
                        lambda y: F.struct(x.alias("id1"), y.alias("id2")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.id1", "p.id2")


def _threshold_t5(threshold: float) -> int:
    """The integer admission bound shared by every Jaccard prefilter: the
    shipped comparison is ``round(j, 4) >= t``, which admits j down to
    t - 5e-5, so prefilters must test against ``t*100000 - 5`` (integer —
    float ceil of 0.8*5 differs across engines)."""
    return round(threshold * 100000) - 5


def _sized_posting_pairs(postings: DataFrame, threshold: float) -> DataFrame:
    """:func:`_posting_pairs` with the row-local LENGTH FILTER: ``ids``
    holds struct(n_sh, id) sorted ascending, so for a pair (x, y) with
    x before y, ``x.n_sh <= y.n_sh`` — and Jaccard >= t is impossible
    unless ``n_min >= t * n_max`` (j = m/(n1+n2-m) >= t with m <= n_min
    forces n_min*(1+t) >= t*(n_min+n_max)). Pairs failing the ratio are
    dropped BEFORE the pair-count exchange, which is where the grouped
    path's cost lives: on a corpus with any size spread the surviving
    fraction is roughly the mass within ratio t of the size
    distribution. Lossless for the capped semantics too — the final
    filter counts capped intersections against FULL sizes, and
    m_capped <= m <= n_min keeps the implication intact.

    The shipped filter is round(j, 4) >= t, admitting j down to t - 5e-5,
    so the ratio test uses integer t*100000 - 5 (:func:`_threshold_t5`) —
    no engine can disagree through float rounding. Operands are cast to
    long first: n_sh is IntegerType and int32 * 100000 overflows (ANSI
    mode: job-killing exception) for documents beyond ~21k shingles."""
    t5 = _threshold_t5(threshold)
    return (
        postings.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "ids",
                        lambda x, i: F.filter(
                            F.transform(
                                F.slice(
                                    F.col("ids"), i + F.lit(2), F.size("ids")
                                ),
                                lambda y: F.struct(
                                    x["n_sh"].alias("n1"),
                                    y["n_sh"].alias("n2"),
                                    F.least(x["id"], y["id"]).alias("id1"),
                                    F.greatest(x["id"], y["id"]).alias("id2"),
                                ),
                            ),
                            lambda p: p["n1"].cast("bigint") * 100000
                            >= F.lit(t5) * p["n2"].cast("bigint"),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.id1", "p.id2")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    k: int = 3,
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
    index: DataFrame | None = None,
    max_doc_freq: int | None = None,
    sizes: DataFrame | None = None,
    per_doc_sets: DataFrame | None = None,
) -> DataFrame:
    """Exact word-k-gram Jaccard >= threshold ``doc_id`` pairs (id1 < id2)
    over ``text``.

    Inverted-index formulation: |A ∩ B| falls out of a shingle equality
    self-join + count, |A ∪ B| = |A| + |B| - |A ∩ B|. The self-join only
    pairs documents *sharing at least one shingle* — the blowup guard at
    scale is a hot-shingle cap (drop shingles appearing in > P docs; a
    shingle shared by thousands of docs carries no dedup signal anyway).

    ``candidates``, ``index`` and ``max_doc_freq`` each select a form;
    pass at most one.

    ``candidates``: (id1, id2) DataFrame to restrict verification to (the
    LSH path). Verification is a candidate-id semi-join that fetches only
    the candidate docs' shingle sets, then per-row
    ``size(array_intersect(...))`` — candidate-volume work, not
    corpus-volume (the same discipline as embedding_near_dup_pairs'
    vector fetch); at bench SFs AQE broadcasts the candidate-id side, so
    the corpus is never reshuffled at all. ``per_doc_sets``: optional
    prebuilt per-doc shingle-hash ARRAYS (id, hs) for those sets;
    without it they are derived from the candidate docs' text.
    ``index``: a prebuilt (id, shingle) index for the uncapped join form;
    ``sizes``: per-doc set sizes (id, n_sh) to go with it — without it
    sizes fall back to a groupBy over the index.
    ``max_doc_freq``: the 100 TB blowup guard — drop shingles appearing in
    more than this many documents from the *pairing* side (a shingle shared
    by thousands of docs generates O(df^2) candidate pairs and carries no
    dedup signal). Sizes still count every shingle, so capping only lowers
    estimated Jaccard for pairs whose sole overlap is boilerplate — by
    design. Default None preserves exact semantics (and oracle parity).

    With the cap engaged the intersection switches from the exploded-index
    equality self-join to grouped pair emission: groupBy(shingle) ->
    sorted posting list (bounded by the cap) -> pairs emitted row-locally
    -> count per pair. One index-sized exchange instead of three.

    Prefix-filter candidate generation (lexicographic and
    document-frequency ordered) was retired by measurement: grouped 29 s
    vs df-prefix 47 s at sf10 (500k docs), and grouped is c3's registered
    configuration.
    """
    if sum(x is not None for x in (candidates, index, max_doc_freq)) > 1:
        raise ValueError(
            "ngram_jaccard_pairs: pass at most one of candidates, index "
            "and max_doc_freq"
        )
    if candidates is not None:
        # Candidate-set verification: fetch only the candidate docs'
        # shingle sets (semi-join on the candidate ids — AQE broadcasts
        # the id side when it is small), intersect per pair row-locally.
        # No corpus-sized exchange anywhere: both joins below are sized by
        # |candidates|.
        ids1 = candidates.select(F.col("id1").alias("doc_id"))
        ids2 = candidates.select(F.col("id2").alias("doc_id"))
        ids = ids1.union(ids2).distinct()
        if per_doc_sets is None:
            # Derive sets for ONLY the candidate docs: the id semi-join
            # lands before tokenization, so shingle compute is
            # candidate-volume too. localCheckpoint because both pair
            # joins below read it.
            cand_sets = doc_shingles(
                df.join(ids, "doc_id", "left_semi"), k
            ).localCheckpoint(eager=False)
        else:
            cand_sets = per_doc_sets.join(ids, "doc_id", "left_semi")
        # _scaled_repartition on the set-bearing sides: the SHJ below
        # BUILDS these rows (one shingle array per candidate doc) fully
        # in memory per partition, and at 50 M docs the session/AQE
        # partition count left each build in the hundreds of MB — the
        # stacked builds plus the consumer stage's own state (connected
        # components' union+distinct+checkpoint runs in the SAME tasks)
        # was a measured 32 g OOM. Scaling the exchange to input bytes
        # splits the builds ~100x; explicit partition counts are exempt
        # from AQE coalescing, and the candidates side co-partitions to
        # match. No-op at bench SFs (plans byte-identical).
        s1 = _scaled_repartition(
            cand_sets.select(
                F.col("doc_id").alias("id1"), F.col("hs").alias("hs1")
            ),
            "id1",
            source=df,
        )
        s2 = _scaled_repartition(
            cand_sets.select(
                F.col("doc_id").alias("id2"), F.col("hs").alias("hs2")
            ),
            "id2",
            source=df,
        )
        # SHUFFLE_HASH, not broadcast: ``candidates`` usually arrives as
        # a checkpointed RDD whose origin stats reflect the PRE-
        # materialization estimate, and the static planner turned that
        # optimistic guess into a BroadcastExchange of the whole pair set
        # — AQE cannot demote a statically-planned broadcast over a
        # non-shuffle input, so a large candidate set kills the driver
        # (measured: broadcast OOM at sf10, candidate volume ~1e8). Both
        # sides of these joins are candidate-volume by construction, so a
        # shuffle join costs O(candidates) regardless of corpus size, and
        # at bench SFs the two extra small exchanges are noise.
        return (
            candidates.join(s1.hint("shuffle_hash"), "id1")
            .join(s2.hint("shuffle_hash"), "id2")
            .select(
                "id1",
                "id2",
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
            .filter(F.col("jaccard") >= threshold)
            .select("id1", "id2", "jaccard")
        )
    if index is not None:
        sh = index
        # Row-local sizes aren't recoverable from an exploded index
        # without re-aggregating.
        if sizes is None:
            sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    else:
        # localCheckpoint (not cache): materializes the per-doc shingle
        # sets once for the sizes + pairing + verification passes,
        # truncates lineage, and is released by the ContextCleaner when
        # the result is GC'd — repeated suite runs in one session don't
        # accumulate cache entries (cache() here re-registered an
        # identical plan every call and warned).
        per_doc = doc_shingles(df, k).localCheckpoint(
            eager=False
        )
        sh = per_doc.select("doc_id", F.explode("hs").alias("shingle"))
        if sizes is None:
            sizes = per_doc.select("doc_id", F.size("hs").alias("n_sh"))
    if max_doc_freq is not None:
        # Grouped pair emission: ONE shuffle of the index (groupBy
        # shingle -> sorted posting list), then pairs emitted
        # row-locally and re-aggregated. The join formulation below
        # would cost three corpus-index-sized exchanges for the capped
        # result (df-count for the hot cap, anti-join, equality
        # self-join); here the cap is a free filter on the posting
        # list's size, and it is also the safety bound that makes
        # collect_list safe — each group holds at most
        # ``max_doc_freq`` ids, so a posting row is <= ~8B x cap and
        # a group emits <= cap^2/2 pairs. (Without a cap a single
        # boilerplate shingle could blow a row, which is why the
        # uncapped exact path keeps the join form.)
        #
        # Size-carrying postings (n_sh rides the explode row-locally off
        # the checkpointed per_doc — no extra join, no shingle
        # recompute) let pair emission apply the LENGTH FILTER before
        # the pair-count exchange: see _sized_posting_pairs. The pruned
        # pairs are exactly those no Jaccard >= t can admit.
        sh_sized = per_doc.select(
            F.col("doc_id").alias("id"),
            F.size("hs").alias("n_sh"),
            F.explode("hs").alias("shingle"),
        )
        # Both corpus-volume exchanges here auto-size to the input
        # (spread.py, the 5 M-doc lesson): the shingle index is docs x
        # ~shingles rows, and the pair-count exchange below is
        # candidate-volume (linear but ~25x the corpus row count on the
        # bench fixture's dense vocabulary). source=df — sh_sized's
        # lineage is the truncated per_doc checkpoint.
        postings = (
            _scaled_repartition(sh_sized, "shingle", source=df)
            .groupBy("shingle")
            .agg(F.sort_array(F.collect_list(F.struct("n_sh", "id"))).alias("ids"))
            .filter((F.size("ids") >= 2) & (F.size("ids") <= max_doc_freq))
        )
        pairs = _sized_posting_pairs(postings, threshold)
        inter = (
            _scaled_repartition(pairs, "id1", "id2", source=df)
            .groupBy("id1", "id2")
            .agg(F.count("*").alias("n_inter"))
        )
        return _jaccard_from_inter(inter, sizes, threshold)
    a = sh.select(F.col("doc_id").alias("id1"), "shingle")
    b = sh.select(F.col("doc_id").alias("id2"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count("*").alias("n_inter"))
    )
    return _jaccard_from_inter(inter, sizes, threshold)


def _jaccard_from_inter(
    inter: DataFrame, sizes: DataFrame, threshold: float
) -> DataFrame:
    """Finalize (id1, id2, n_inter) + per-doc set sizes into thresholded
    Jaccard pairs: |A ∪ B| = |A| + |B| - |A ∩ B|."""
    s1 = sizes.select(F.col("doc_id").alias("id1"), F.col("n_sh").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("id2"), F.col("n_sh").alias("n2"))
    return (
        inter.join(s1, "id1")
        .join(s2, "id2")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("n1") + F.col("n2") - F.col("n_inter")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------


_SPLITMIX_GOLDEN = np.uint64(0x9E3779B97F4A7C15)


def _splitmix64(z: "np.ndarray") -> "np.ndarray":
    """SplitMix64 finalizer (public-domain mixing constants) — full-avalanche
    64-bit mix, vectorized over a uint64 array (numpy wraps unsigned
    overflow silently, which is exactly the mod-2^64 arithmetic wanted)."""
    z = z ^ (z >> np.uint64(30))
    z = z * np.uint64(0xBF58476D1CE4E5B9)
    z = z ^ (z >> np.uint64(27))
    z = z * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _splitmix64_inplace(z: "np.ndarray", tmp: "np.ndarray") -> "np.ndarray":
    """Bit-identical to :func:`_splitmix64` but writes through ``out=`` into
    the two caller-provided buffers. The MinHash kernel is memory-traffic
    bound: the expression form allocates five full-size temporaries per
    chunk, and dropping them measured 1.7x on the signature kernel."""
    np.right_shift(z, np.uint64(30), out=tmp)
    np.bitwise_xor(z, tmp, out=z)
    np.multiply(z, np.uint64(0xBF58476D1CE4E5B9), out=z)
    np.right_shift(z, np.uint64(27), out=tmp)
    np.bitwise_xor(z, tmp, out=z)
    np.multiply(z, np.uint64(0x94D049BB133111EB), out=z)
    np.right_shift(z, np.uint64(31), out=tmp)
    np.bitwise_xor(z, tmp, out=z)
    return z


def _minhash_mins_core(
    flat: "np.ndarray", starts: "np.ndarray", seeds: "np.ndarray"
) -> "np.ndarray":
    """num_hashes minima per contiguous segment of ``flat`` (uint64 base
    hashes); ``starts`` holds each non-empty segment's first index.
    Chunk the hash axis so the (n_shingles x chunk) mix matrix stays
    small regardless of batch size; two reused buffers, no per-chunk
    temporaries (see _splitmix64_inplace)."""
    num_hashes = len(seeds)
    mins = np.empty((len(starts), num_hashes), dtype=np.uint64)
    chunk = 16
    buf = np.empty((len(flat), chunk), dtype=np.uint64)
    tmp = np.empty_like(buf)
    for j0 in range(0, num_hashes, chunk):
        sd = seeds[j0 : j0 + chunk]
        b = buf[:, : len(sd)]
        np.bitwise_xor(flat[:, None], sd[None, :], out=b)
        _splitmix64_inplace(b, tmp[:, : len(sd)])
        mins[:, j0 : j0 + len(sd)] = np.minimum.reduceat(b, starts, axis=0)
    return mins


def minhash_signatures(
    df: DataFrame,
    k: int = 3,
    per_doc: DataFrame | None = None,
) -> DataFrame:
    """Per-``doc_id`` MinHash signature of ``text`` as ``mins:
    array<long>`` — shuffle-free: shingle sets are row-local
    (:func:`doc_shingles`) and the ``MINHASH_HASHES`` minima are one
    vectorized reduction per Arrow batch. Docs with no shingles (< k
    tokens) are dropped, as the previous groupBy formulation did
    implicitly.

    The kernel is ``mapInArrow``, not a pandas_udf: the list column's
    values/offsets buffers are consumed and produced as flat numpy views
    with ZERO per-row Python — the pandas form paid a 500k-iteration
    object-row build plus a pandas→Arrow list reconstruction per sf10
    pass (A/B in BASELINE.md round-6 notes). mapInArrow also removes the
    ArrowEvalPython filter-pushdown hazard the pandas form had to pin
    with asNondeterministic (a map node is a plan barrier; the
    isnotnull(mins) below cannot be duplicated under it)."""
    src = (
        per_doc
        if per_doc is not None
        else doc_shingles(df, k)
    )
    seeds = _splitmix64(
        (np.arange(1, MINHASH_HASHES + 1, dtype=np.uint64) + np.uint64(1))
        * _SPLITMIX_GOLDEN
    )
    id_type = src.schema["doc_id"].dataType.simpleString()

    def _map(batches):
        for b in batches:
            ids, la = b.column(0), b.column(1)
            n = len(la)
            if n == 0:
                continue
            off = la.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            vals = (
                la.values.to_numpy(zero_copy_only=False)
                .astype(np.int64, copy=False)
                .view(np.uint64)
            )
            valid = (
                ~np.asarray(la.is_null())
                if la.null_count
                else np.ones(n, dtype=bool)
            )
            lens = off[1:] - off[:-1]
            nonempty = valid & (lens > 0)
            if nonempty.any():
                starts = off[:-1][nonempty]
                seg_lens = lens[nonempty]
                # reduceat reduces [starts[i], starts[i+1]) — valid only
                # if the selected segments tile a contiguous window. A
                # sliced/gap-bearing layout (never produced by Spark, but
                # cheap to guard) falls back to an explicit gather.
                expect = np.empty_like(starts)
                expect[0] = starts[0]
                np.cumsum(seg_lens[:-1], out=expect[1:])
                expect[1:] += starts[0]
                if np.array_equal(starts, expect):
                    window = vals[starts[0] : starts[-1] + seg_lens[-1]]
                    rel = starts - starts[0]
                else:
                    window = np.concatenate(
                        [vals[s : s + l] for s, l in zip(starts, seg_lens)]
                    )
                    rel = np.zeros(len(seg_lens), dtype=np.int64)
                    np.cumsum(seg_lens[:-1], out=rel[1:])
                mins = _minhash_mins_core(window, rel, seeds)
                flat_out = mins.view(np.int64).reshape(-1)
            else:
                flat_out = np.empty(0, dtype=np.int64)
            counts = np.where(nonempty, MINHASH_HASHES, 0)
            offs = np.zeros(n + 1, dtype=np.int64)
            np.cumsum(counts, out=offs[1:])
            arr = pa.ListArray.from_arrays(
                pa.array(offs, type=pa.int32()),
                pa.array(flat_out, type=pa.int64()),
                mask=pa.array(~nonempty),
            )
            yield pa.RecordBatch.from_arrays([ids, arr], ["doc_id", "mins"])

    # Drop no-shingle docs AFTER the kernel, on its NULL output: a
    # pre-filter on size(hs) gets the whole computed shingle expression
    # inlined into the predicate by projection collapse, computing every
    # shingle array twice in the fused stage (measured ~2x the signature
    # pass on a streamed, non-checkpointed per_doc).
    return (
        src.select("doc_id", "hs")
        .mapInArrow(_map, f"doc_id {id_type}, mins array<bigint>")
        .filter(F.col("mins").isNotNull())
    )


def band_buckets(sig: DataFrame) -> DataFrame:
    """Banded LSH buckets (doc_id, band_id, band_hash) from MinHash
    signatures: ``MINHASH_BANDS`` buckets per document, each hashing
    ``MINHASH_ROWS`` consecutive signature positions. The bucketing
    function must be IDENTICAL everywhere buckets are compared — the batch
    self-join (:func:`minhash_lsh_pairs`) and the persisted-index probe
    (operators/incremental.py) both derive from this one definition, so an
    index written yesterday collides correctly with a batch bucketed
    today."""
    band_structs = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.xxhash64(
                *[
                    F.element_at("mins", b * MINHASH_ROWS + r + 1)
                    for r in range(MINHASH_ROWS)
                ]
            ).alias("band_hash"),
        )
        for b in range(MINHASH_BANDS)
    ]
    return sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("band")
    ).select("doc_id", "band.band_id", "band.band_hash")


def minhash_lsh_pairs(
    df: DataFrame,
    k: int = MINHASH_K,
    threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicate ``doc_id`` pairs over ``text`` by MinHash LSH with
    exact-Jaccard verification.

    bands=16 x rows=4 over 64 hashes: detection probability at Jaccard s is
    1-(1-s^4)^16 (≈ 0.9998 at s=0.8) — the classic S-curve. Candidates come
    from an equality join on (band_id, band_hash); each candidate pair is
    then verified with exact Jaccard so false positives never escape.

    Shuffle inventory (the 100 TB accounting): signatures and the per-doc
    shingle sets are row-local projections of one materialized
    :func:`doc_shingles` pass — the FIRST exchange in the whole operator
    is the band-bucket candidate join, and everything after it is sized
    by candidates, not corpus (verification fetches only candidate docs'
    sets via semi-join and intersects arrays row-locally; see
    ngram_jaccard_pairs' ``per_doc_sets``).
    """
    # NOT checkpointed: the shingle arrays stream straight into the
    # signature kernel and are consumed exactly once — materializing the
    # full corpus's sets (~8 B x shingles x docs) bought nothing once
    # verification went candidate-filtered (it re-derives sets for only
    # the candidate docs; see ngram_jaccard_pairs).
    per_doc = doc_shingles(df, k)
    sig = minhash_signatures(df, k, per_doc=per_doc)
    # localCheckpoint the narrow (id, band_id, band_hash) triple: with
    # grouped emission it has a single consumer, so this is a pin, not a
    # dedup of compute — it keeps the signature kernel (the operator's
    # dominant compute) from ever re-running under a plan change or AQE
    # re-plan, and A/B at sf10 measured the write+read of the 8M-row
    # triple as free (within host noise of streaming it). Same
    # discipline as embedding_near_dup_pairs' bucket triple.
    buckets = pin(
        band_buckets(sig),
        "band_id",
        "band_hash",
        source=df,
    )

    # Grouped pair emission (the c3 grouped-postings trick applied to
    # banding): ONE exchange of the bucket triple (groupBy band ->
    # sorted occupant list) with map-side partial aggregation, then
    # pairs emitted row-locally. The previous self-join form computed
    # the identical pair set but exchanged the triple THREE times (two
    # join sides + the distinct) — measured 5.2-6.8 s of c2's ~17 s at
    # sf10 (500 k docs x 16 bands = 8 M rows), vs ~2 s grouped. Pair
    # VOLUME per bucket is m^2/2 in either form; the grouped form emits
    # a bucket's pairs from one task, which is the right trade because
    # realistic band occupancy is tiny (the S-curve puts only true
    # near-dups together) and mega-buckets only arise from mass-exact
    # duplication — run exact_dedup first (as near_dup_dedup's docs
    # say) and they cannot exist.
    postings = (
        buckets.groupBy("band_id", "band_hash")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    # Checkpointed: candidate-sized (the S-curve keeps it linear in the
    # corpus), and the verification step reads it three times (two pair
    # joins + the id semi-join) — without materialization each read
    # re-runs the banding aggregation. Lazy: the three consumers are all
    # in the caller's final plan, so the blocks build inside the query's
    # own action (overlapping its other stages) rather than as a
    # build-time job the driver waits on.
    candidates = (
        _posting_pairs(postings).distinct().localCheckpoint(eager=False)
    )
    return ngram_jaccard_pairs(
        df,
        k=k,
        threshold=threshold,
        candidates=candidates,
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

_SIMHASH_BITS = 64


#: md5-hex source range for each 32-bit hash word, in logical bit order:
#: bits [32w, 32w+32) of the 128-bit token hash come from hex chars
#: [start, start+8) of md5(token). The low pair mirrors the historical
#: 64-bit layout (lo = chars 9-16, hi = chars 1-8) so 64-bit signatures
#: are unchanged; the high pair repeats the pattern on chars 17-32.
_SIMHASH_WORD_HEX_START = (9, 1, 25, 17)


def _simhash_word_col(word: int) -> Column:
    """Logical hash-word ``word`` (bits [32w, 32w+32)) of the md5 hex in
    ``_md5`` — hashed once per token in a prior projection, not once
    per word (guaranteed, rather than left to codegen subexpression
    elimination)."""
    start = _SIMHASH_WORD_HEX_START[word]
    return (
        F.conv(F.substring(F.col("_md5"), start, 8), 16, 10)
        .cast("long")
        .alias(f"w{word}")
    )


def _assemble_sig(sum_cols: list[str]) -> Column:
    """Signed-long signature from 64 per-bit sum columns: bit j set iff
    sum > 0; bit 63 is the sign bit of a signed long, so its contribution
    is the two's-complement value.

    Built as ONE parsed SQL expression, not a 64-deep Column chain: every
    Column operator is a py4j round trip, and the per-bit chains here plus
    the per-bit sums below added ~3 s of driver-side plan construction per
    query call (measured at sf0.01, where execution itself is <1 s)."""
    terms = " + ".join(
        f"CASE WHEN {s} > 0 THEN CAST({-(1 << 63) if j == 63 else (1 << j)}"
        f" AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for j, s in enumerate(sum_cols)
    )
    return F.expr(f"CAST({terms} AS BIGINT)")


def simhash_signatures(df: DataFrame, bits: int = 64) -> DataFrame:
    """SimHash of each ``doc_id``'s ``text``: sum +/-1 per bit over token
    hashes (weighted by term frequency via non-distinct explode), then take
    signs.

    One conditional-sum aggregate per bit, all in one groupBy — a single
    shuffle regardless of width. ``bits=64`` (default) returns one signed
    long ``simhash``; ``bits=128`` adds ``simhash_hi`` (logical bits
    64-127) — the scale knob: pigeonhole chunk width in
    :func:`simhash_near_dup_pairs` is ``bits/(max_hamming+1)``, and
    spurious candidate volume is ~``n^2 / 2^chunk_width``, so doubling the
    signature squares away the collision rate (18-bit chunks vs 9-bit at
    max_hamming=6 → ~512x fewer unrelated-chunk collisions).

    The per-token hash is md5 read as 32-bit words
    (``_SIMHASH_WORD_HEX_START``; the 64-bit layout is unchanged from
    earlier rounds). md5 is the engine-portable choice used across this
    repo's cross-engine recipes (see ``operators/sampling.py``): DuckDB
    computes the identical hex string, so the full signature — and
    therefore the near-dup pair set — is oracle-checkable bit-for-bit at
    either width. Still a pure JVM codegen expression; no Python in the
    row path.
    """
    if bits not in (64, 128):
        raise ValueError(f"bits must be 64 or 128, got {bits}")
    n_words = bits // 32
    tok = (
        _spread(df.select("doc_id", "text"), "doc_id")
        .select("doc_id", F.explode(tokens("text")).alias("token"))
        .select("doc_id", F.md5(F.col("token")).alias("_md5"))
        .select("doc_id", *[_simhash_word_col(w) for w in range(n_words)])
    )
    # One parsed SQL expression per bit (see _assemble_sig: Column-chain
    # construction cost is py4j round trips, not execution).
    bit_sums = [
        F.expr(
            f"sum(CASE WHEN (shiftright(w{j // 32}, {j % 32}) & 1) = 1 "
            f"THEN 1 ELSE -1 END) AS s{j}"
        )
        for j in range(bits)
    ]
    sums = tok.groupBy("doc_id").agg(*bit_sums)
    out = [
        "doc_id",
        _assemble_sig([f"s{j}" for j in range(64)]).alias("simhash"),
    ]
    if bits == 128:
        out.append(
            _assemble_sig([f"s{j}" for j in range(64, 128)]).alias(
                "simhash_hi"
            )
        )
    return sums.select(*out)


def _sig_chunk(words: list[Column], offset: int, width: int) -> Column:
    """Bits [offset, offset+width) of a multi-word signature, where
    ``words[i]`` holds logical bits [64i, 64i+64). Pure long shifts/masks
    (codegen'd); a chunk straddling a word boundary ORs the two parts."""
    mask = F.lit(-1 if width == 64 else (1 << width) - 1)
    lo_word, hi_word = offset // 64, (offset + width - 1) // 64
    low = F.shiftrightunsigned(words[lo_word], offset % 64)
    if lo_word == hi_word:
        return low.bitwiseAND(mask)
    lo_bits = 64 - offset % 64
    high = words[hi_word].bitwiseAND(F.lit((1 << (width - lo_bits)) - 1))
    return low.bitwiseOR(F.shiftleft(high, lo_bits)).bitwiseAND(mask)


def simhash_near_dup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    bits: int = 64,
) -> DataFrame:
    """``doc_id`` pairs whose ``text`` SimHash Hamming distance is <=
    max_hamming.

    Pigeonhole bucketing: ``max_hamming + 1`` chunks — a pair within the
    Hamming budget must agree exactly on >= 1 chunk (a fixed chunk count
    would silently miss pairs once max_hamming >= n_chunks). Verification
    = bit_count(xor) per word — exact, no false positives. ``bits`` is the
    scale knob: doubling the signature widens every chunk key. The
    multi-block "combo" candidate form was retired by measurement (5 M
    docs: chunk 103.2 s vs combo 185.1 s, round-12 A/B in VERDICT.md).
    """
    n_chunks = max_hamming + 1
    base, extra = divmod(bits, n_chunks)
    widths = [base + (1 if i < extra else 0) for i in range(n_chunks)]
    offsets = [sum(widths[:i]) for i in range(n_chunks)]

    sig_cols = ["simhash"] + (["simhash_hi"] if bits == 128 else [])
    sig = simhash_signatures(df, bits=bits)
    words = [F.col(c) for c in sig_cols]
    # Pinned below (checkpoint or scaled exchange): the full signature
    # aggregation (explode + one conditional sum per bit over every token
    # — the operator's dominant compute) must never be replayed by a
    # downstream re-plan.
    chunks = sig.select(
        "doc_id",
        *sig_cols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_id"),
                        _sig_chunk(words, offsets[c], widths[c]).alias(
                            "chunk_val"
                        ),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("ch"),
    ).select("doc_id", *sig_cols, "ch.chunk_id", "ch.chunk_val")
    # Pinned like minhash_lsh_pairs' bucket triple: docs x n_chunks rows,
    # each hauling the signature words, feed the chunk-keyed grouping.
    chunks = pin(chunks, "chunk_id", "chunk_val", source=df)

    # Grouped pair emission (same trick as the banding candidates and
    # c3's postings): ONE exchange of the chunk table into per-
    # (chunk_id, chunk_val) occupant lists — each entry carries the
    # signature words, so Hamming verification runs row-locally during
    # emission and the pair distinct sees only VERIFIED pairs instead of
    # every spurious chunk collision. The previous self-join form
    # exchanged the chunk table twice (each row hauling the signature
    # words) and ran the distinct over unverified candidates. sort_array
    # on the id-first struct gives id1 < id2 within each bucket; ids are
    # unique per bucket (one row per doc per chunk).
    entry = F.struct(F.col("doc_id").alias("id"), *[F.col(c) for c in sig_cols])
    postings = (
        chunks.groupBy("chunk_id", "chunk_val")
        .agg(F.sort_array(F.collect_list(entry)).alias("es"))
        .filter(F.size("es") >= 2)
    )
    pairs = postings.select(
        F.explode(
            F.flatten(
                F.transform(
                    "es",
                    lambda x, i: F.transform(
                        F.slice(F.col("es"), i + F.lit(2), F.size("es")),
                        lambda y: F.struct(
                            x.alias("e1"), y.alias("e2")
                        ),
                    ),
                )
            )
        ).alias("p")
    )
    hamming = F.bit_count(
        F.col("p.e1.simhash").bitwiseXOR(F.col("p.e2.simhash"))
    )
    if bits == 128:
        hamming = hamming + F.bit_count(
            F.col("p.e1.simhash_hi").bitwiseXOR(F.col("p.e2.simhash_hi"))
        )
    return (
        pairs.select(
            F.col("p.e1.id").alias("id1"),
            F.col("p.e2.id").alias("id2"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# --------------------------------------------------------------------------
# Near-dup clustering: pairs -> connected components -> canonical survivor
# --------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame, max_iterations: int = 50
) -> DataFrame:
    """(id, component) from an undirected edge list (id1, id2) by iterative
    label propagation: every node repeatedly adopts the minimum label in its
    neighborhood until a fixpoint. Converges in O(diameter) join rounds —
    near-dup clusters are tiny (pairs/triples), so 2-3 rounds in practice;
    each round is one shuffle join, no driver-side graph.

    Raises RuntimeError if the fixpoint isn't reached within
    ``max_iterations`` (a silent truncation would split components and let
    near-duplicates survive dedup unnoticed).
    """
    edges = (
        pairs.select("id1", "id2")
        .union(pairs.select(F.col("id2").alias("id1"), F.col("id1").alias("id2")))
        .distinct()
        # localCheckpoint truncates the (potentially deep) pair-generation
        # lineage so each propagation round plans over a materialized edge
        # list instead of replaying LSH candidate generation per iteration.
        # eager=False (round-12, guide §2.6): blocks still materialize
        # exactly once — inside the FIRST action that needs them (round
        # 1's convergence count) — instead of as standalone driver-waited
        # jobs; independent stages of that one job overlap where eager
        # checkpointing serialized them. Each round of the loop below ran
        # two actions (checkpoint job + count job); it now runs one.
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.select(F.col("id1").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint(eager=False)
    )
    # The per-round joins hint SHUFFLE_HASH on the checkpointed side for
    # the same reason as ngram_jaccard_pairs' verification joins: both
    # sides are node/edge volume (unbounded at corpus scale), and a
    # statically mis-estimated broadcast of a checkpointed RDD cannot be
    # demoted by AQE. neighbor_min is post-aggregation (real AQE stats),
    # so its join is left to the optimizer.
    #
    # Rounds are composed TWO per convergence action (round-12, guide
    # §1.2/2.6): a fixpoint is a fixpoint of every later round, so
    # checking only the LAST composed round's flag is exact — if it
    # changed nothing, the earlier round's changes were already absorbed
    # and propagation is complete. Near-dup clusters are tiny
    # (pairs/triples — the module-level observation), so the common case
    # converges in 2 rounds per convergence CHECK. Each round's lazy
    # per-round pin is still required: without it round k appears twice
    # in round k+1's plan and the lineage doubles per round. Two
    # accuracy caveats (round-12 review): (1) the limit(1) convergence
    # count can short-circuit partitions, after which Spark runs a
    # backfill job for the lazily-checkpointed RDD's unmaterialized
    # partitions — so "one action per 2 rounds" is the best case, not a
    # guarantee; (2) with the default
    # spark.checkpoint.checkpointAllMarkedAncestors=false, materializing
    # the outermost pin does not truncate the inner rounds' marked
    # ancestors — superseded rounds' blocks stay persisted until
    # ContextCleaner GCs the py4j-released RDDs. Both are bounded by the
    # tiny round count here; a long-diameter graph workload should
    # unpersist superseded rounds explicitly. Worst case runs one round
    # past convergence — one node-volume shuffle — against halving the
    # driver-blocking actions on every call at every scale.
    rounds_per_check = 2
    flagged = None
    for base in range(0, max_iterations, rounds_per_check):
        for _r in range(min(rounds_per_check, max_iterations - base)):
            neighbor_min = (
                edges.join(labels.hint("shuffle_hash"), edges.id2 == labels.id)
                .groupBy(F.col("id1").alias("id"))
                .agg(F.min("component").alias("neighbor_component"))
            )
            # The convergence flag rides the round's own projection: a
            # node changed iff a neighbor offered a strictly smaller
            # label.
            flagged = (
                labels.join(neighbor_min, "id", "left")
                .select(
                    "id",
                    F.least(
                        F.col("component"),
                        F.coalesce(
                            F.col("neighbor_component"), F.col("component")
                        ),
                    ).alias("component"),
                    F.coalesce(
                        F.col("neighbor_component") < F.col("component"),
                        F.lit(False),
                    ).alias("_changed"),
                )
                .localCheckpoint(eager=False)
            )
            labels = flagged.drop("_changed")
        if flagged.filter("_changed").limit(1).count() == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "rounds (component diameter exceeds the bound); raise "
            "max_iterations"
        )
    return labels


def near_dup_dedup(df: DataFrame, threshold: float = 0.8) -> DataFrame:
    """The end-to-end near-dup *removal* operator: MinHash-LSH pairs over
    ``text`` -> connected components -> keep the minimum ``doc_id`` of each
    cluster. Returns the surviving rows of ``df`` (every non-duplicate plus
    one canonical representative per near-dup cluster) — the operation an
    LLM-data pipeline actually ships."""
    pairs = minhash_lsh_pairs(df, threshold=threshold)
    comps = connected_components(pairs)
    keepers = comps.groupBy("component").agg(F.min("id").alias("doc_id"))
    drop = comps.join(
        keepers.select(F.col("doc_id").alias("id")), "id", "left_anti"
    ).select(F.col("id").alias("doc_id"))
    return df.join(drop, "doc_id", "left_anti")


# --------------------------------------------------------------------------
# Embedding cosine near-dup (random hyperplane LSH)
# --------------------------------------------------------------------------


def _hyperplanes(dim: int, n_bits: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_bits)
    ]


def cosine_col(a, b) -> F.Column:
    """Cosine similarity between two array<double> columns — zip_with dot
    product and aggregate norms, all JVM array expressions.

    Zero-magnitude vectors (padding rows, failed embeds) yield NULL, not
    NaN: Spark orders NaN *above* every number, so a NaN cosine would pass
    ``>= threshold`` filters and rank first in top-k. NULL fails filters
    and sorts last under ``desc()`` — the safe degradation.
    """
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    denom = na * nb
    return F.when(denom > 0, dot / denom)


def cosine_pairs_udf():
    """Arrow-batched exact cosine over two ``array<double>`` columns.

    The near-dup verification step scores every candidate pair that
    survives LSH bucketing — the one place where exact cosine runs at
    candidate-pair volume (at 100 TB: billions of pairs). The interpreted
    ``aggregate``/``zip_with`` formulation (:func:`cosine_col`) costs
    ~3 x dim interpreted ops per pair; here each Arrow batch is two numpy
    matrices and one einsum per vector length present in the batch.

    Matches :func:`cosine_col` exactly: any pair whose two vectors are
    non-NULL and of equal (nonzero) length is scored, whatever that length
    is; NULL inputs, length-mismatched pairs, and zero vectors all yield
    NULL (NaN in the returned float64 Series maps to SQL NULL across the
    Arrow boundary). Rows are grouped by vector length so one short or
    malformed vector never changes the result for any other row — results
    are independent of row order within a batch.
    """

    @F.pandas_udf("double")
    def _cos(v1: pd.Series, v2: pd.Series) -> pd.Series:
        n = len(v1)
        out = np.full(n, np.nan)
        lens = np.full(n, -1, dtype=np.int64)
        for i in range(n):
            x, y = v1.iloc[i], v2.iloc[i]
            if x is not None and y is not None and 0 < len(x) == len(y):
                lens[i] = len(x)
        for length in np.unique(lens[lens > 0]):
            idx = np.nonzero(lens == length)[0]
            a = np.stack(
                [np.asarray(v1.iloc[i], dtype=np.float64) for i in idx]
            )
            b = np.stack(
                [np.asarray(v2.iloc[i], dtype=np.float64) for i in idx]
            )
            dots = np.einsum("ij,ij->i", a, b)
            denom = np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)
            vals = np.full(len(idx), np.nan)
            np.divide(dots, denom, out=vals, where=denom > 0)
            out[idx] = vals
        return pd.Series(out)

    # asNondeterministic (guide §4.4): the caller's shape is
    # withColumn(cosine) -> filter(cosine >= thr) -> project(cosine), and
    # the optimizer pushes the filter below the projection by COPYING the
    # UDF — two ArrowEvalPython nodes per verify join, every candidate
    # pair scored twice (seen in the c5 plan dumps). The function is pure;
    # the marking only forbids the optimizer from duplicating/reordering
    # it, collapsing each verify to one evaluation. Trade-off per the
    # guide: other filters can no longer push past this node — the callers
    # filter only on the cosine itself, so nothing is lost.
    return _cos.asNondeterministic()


def hyperplane_buckets_udf(planes_by_table: list[list[list[float]]]):
    """Arrow-batched sign-bucket assignment for one or more hyperplane
    tables: returns a pandas_udf mapping an ``array<double>`` column to
    ``array<int>`` with one bucket id per table.

    Why a pandas UDF and not array expressions: the bucket id is
    ``n_tables * n_bits`` dot products of ``dim`` terms per row, and
    higher-order array functions (``aggregate``/``zip_with``) are
    interpreted, not codegen'd — at 4 tables x 8 bits x 64 dims that is
    ~2k interpreted multiply-adds per row. One numpy matmul per Arrow
    batch does the same work vectorized (measured ~10x on the sf0.1
    bucket projection). NULL vectors and vectors of the wrong length get
    bucket 0 in every table, matching what the expression formulation
    produced (NULL dot -> no bit set); exact-cosine verification
    downstream filters them out.
    """
    n_tables = len(planes_by_table)
    n_bits = len(planes_by_table[0])
    dim = len(planes_by_table[0][0])
    proj = np.concatenate(
        [np.asarray(p, dtype=np.float64).T for p in planes_by_table], axis=1
    )  # (dim, n_tables * n_bits)
    weights = 1 << np.arange(n_bits, dtype=np.int64)

    @F.pandas_udf("array<int>")
    def _buckets(vs: pd.Series) -> pd.Series:
        n = len(vs)
        mat = np.zeros((n, dim), dtype=np.float64)
        valid = np.zeros(n, dtype=bool)
        for i, v in enumerate(vs):
            if v is not None and len(v) == dim:
                mat[i] = v
                valid[i] = True
        bits = (mat @ proj) > 0
        bits &= valid[:, None]
        out = np.empty((n, n_tables), dtype=np.int32)
        for t in range(n_tables):
            out[:, t] = bits[:, t * n_bits : (t + 1) * n_bits] @ weights
        return pd.Series(list(out))

    return _buckets


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    n_bits: int | None = None,
    dim: int = 64,
) -> DataFrame:
    """``vec_id`` pairs whose ``embedding`` cosine is >= threshold, via
    multi-table hyperplane LSH.

    Four independent ``n_bits``-bit sign buckets; a pair collides in a
    table with prob (1 - theta/pi)^n_bits — multiple tables push recall up.
    In-bucket pairs are verified with exact cosine, so precision is exact.

    ``n_bits=None`` auto-sizes the bucket resolution to the corpus:
    ceil(log2(n / 32)), floored at 8. Verification cost is
    quadratic in bucket occupancy, so a FIXED resolution silently blows up
    at scale (measured: 10x the vectors at 8 bits -> ~100x the candidate
    pairs). Auto-sizing keeps expected occupancy near 32 vectors per
    bucket — candidate volume then grows linearly with the corpus. Costs one
    count() of the id column (columnar scan, no data movement), trivially
    amortized against the candidate join it prevents; callers who know
    their corpus size pass ``n_bits`` explicitly and skip it. Exact
    duplicates collide at any resolution (identical vectors -> identical
    signs); near-threshold recall decays as n_bits grows, which is the
    standard LSH trade — add tables to buy it back.
    """
    if n_bits is None:
        n = df.select("vec_id").count()
        # Cap at 30: bucket ids are int32 (hyperplane_buckets_udf packs
        # sign bits into np.int32), so >= 31 bits would wrap. 2^30 buckets
        # covers ~3e10 vectors at the default occupancy; beyond that, add
        # tables/probes rather than bits.
        n_bits = min(
            30, max(8, math.ceil(math.log2(max(n / 32, 2))))
        )
    v = F.col("embedding").cast("array<double>")
    # _spread: the bucket projection is one Arrow round-trip + numpy matmul
    # per batch; spread it when the scan arrives in fewer partitions than
    # cores so batches run on all of them.
    vecs = _spread(df.select(F.col("vec_id"), v.alias("v")), "vec_id")
    # All four bucket ids in ONE projection + posexplode — a single scan of
    # the corpus regardless of table count (a union of per-table branches
    # would re-scan the input once per table).
    bucket_fn = hyperplane_buckets_udf(
        [_hyperplanes(dim, n_bits, 42 + t * 1000) for t in range(4)]
    )
    exploded = vecs.select(
        "vec_id",
        "v",
        F.posexplode(bucket_fn(F.col("v"))).alias("table_id", "bucket"),
    )
    # In-bucket verification: group by (table, bucket) and score every
    # in-bucket pair with ONE normalized matmul per bucket. The corpus is
    # shuffled exactly four times (once per table, ~vector volume);
    # the earlier candidate-join formulation materialized the pair list
    # and fetched both vectors per pair — at 15M candidates (sf10) that
    # shuffled ~2 x 512 B x pairs ≈ 15 GB and took 42 s where this takes
    # the vector volume only. Quadratic in-bucket work is identical in
    # both shapes and bounded by the auto-sized occupancy; the matmul is
    # row-blocked so a pathological hot bucket degrades to more blocks,
    # not more memory.
    thr = float(threshold)

    def _bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        out_i, out_j, out_c = [], [], []
        ids_all = pdf["vec_id"].to_numpy()
        vs = pdf["v"]
        by_len: dict[int, list[int]] = {}
        for pos, vec in enumerate(vs):
            if vec is not None and len(vec) > 0:
                by_len.setdefault(len(vec), []).append(pos)
        for _, poss in by_len.items():
            if len(poss) < 2:
                continue
            mat = np.stack([np.asarray(vs.iloc[p], dtype=np.float64) for p in poss])
            norms = np.linalg.norm(mat, axis=1)
            ok = norms > 0  # zero vectors: NULL cosine semantics -> excluded
            if ok.sum() < 2:
                continue
            mat = mat[ok] / norms[ok, None]
            ids = ids_all[[p for p, keep in zip(poss, ok) if keep]]
            n = len(ids)
            block = 4096
            for b0 in range(0, n, block):
                cos_blk = np.round(mat[b0 : b0 + block] @ mat.T, 4)
                for bi in range(cos_blk.shape[0]):
                    i = b0 + bi
                    hits = np.flatnonzero(cos_blk[bi, i + 1 :] >= thr) + i + 1
                    if len(hits) == 0:
                        continue
                    a = np.full(len(hits), ids[i])
                    b = ids[hits]
                    out_i.append(np.minimum(a, b))
                    out_j.append(np.maximum(a, b))
                    out_c.append(cos_blk[bi, hits])
        if not out_i:
            return pd.DataFrame({"id1": [], "id2": [], "cosine": []}).astype(
                {"id1": "int64", "id2": "int64", "cosine": "float64"}
            )
        return pd.DataFrame(
            {
                "id1": np.concatenate(out_i),
                "id2": np.concatenate(out_j),
                "cosine": np.concatenate(out_c),
            }
        )

    # Auto-size the bucket exchange to the input (spread.py): the
    # exploded frame is vectors x 4 rows EACH HAULING THE VECTOR,
    # so at 1000x the bench SF the session-default partition count turns
    # every applyInPandas task into a multi-hundred-MB Arrow stream. The
    # explicit hash exchange satisfies the grouping's clustering
    # requirement (one exchange either way); no-op at bench SFs.
    exploded = _scaled_repartition(exploded, "table_id", "bucket", source=df)
    pairs = exploded.groupBy("table_id", "bucket").applyInPandas(
        _bucket_pairs, schema="id1 long, id2 long, cosine double"
    )
    # A pair can surface from up to four buckets — identical inputs
    # and arithmetic give an identical rounded cosine, so a plain distinct
    # (candidate-sized) dedupes across tables.
    return pairs.filter(F.col("id1") != F.col("id2")).distinct()
