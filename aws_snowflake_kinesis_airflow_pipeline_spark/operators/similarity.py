"""Similarity search over embedding columns (array<float>).

Two paths, same contract (top-k neighbors of a query vector):

- :func:`brute_force_topk` — exact: scan, cosine per row (JVM array exprs),
  TakeOrderedAndProject. The correctness baseline; at 100 TB still
  embarrassingly parallel (per-partition top-k, k-row merge) but reads
  everything.
- :func:`lsh_topk` — approximate scale path: rows are pre-bucketed by
  random-hyperplane signs; the query probes its own bucket plus all buckets
  within Hamming distance ``probe_hamming``, reading only matching buckets.
  On a bucketed/partitioned table this turns into partition pruning.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _hyperplanes, _spread, cosine_col, hyperplane_buckets_udf

#: Sign bits per LSH bucket and the hyperplane seed of the LSH index.
LSH_BITS = 8
LSH_SEED = 42


def _query_array(query_vec: list[float]) -> F.Column:
    return F.array(*[F.lit(float(x)) for x in query_vec])


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    exclude_ids: list[int] | None = None,
) -> DataFrame:
    """Exact ``embedding`` cosine top-k: (vec_id, cosine) ordered desc,
    vec_id tiebreak."""
    q = _query_array(query_vec)
    v = F.col("embedding").cast("array<double>")
    out = df.select(
        F.col("vec_id"),
        F.round(cosine_col(v, q), 4).alias("cosine"),
    )
    if exclude_ids:
        out = out.filter(~F.col("vec_id").isin(exclude_ids))
    return out.orderBy(F.col("cosine").desc(), F.col("vec_id")).limit(k)


def with_lsh_buckets(df: DataFrame, dim: int = 64) -> DataFrame:
    """Attach the hyperplane sign bucket of ``embedding`` — the indexing
    step. At scale this column becomes the table's bucketBy/partitionBy
    key so probes prune."""
    planes = _hyperplanes(dim, LSH_BITS, LSH_SEED)
    v = F.col("embedding").cast("array<double>")
    # Bucket assignment is a numpy matmul per Arrow batch (see
    # hyperplane_buckets_udf); spread it across cores when the scan
    # arrives under-partitioned.
    bucket_fn = hyperplane_buckets_udf([planes])
    return _spread(df).withColumn("lsh_bucket", bucket_fn(v).getItem(0))


def probe_buckets(
    query_vec: list[float], dim: int = 64, probe_hamming: int = 1
) -> list[int]:
    """The query's bucket plus all buckets within ``probe_hamming`` sign
    flips — the probe set :func:`lsh_topk` reads."""
    from itertools import combinations

    qb = _bucket_of(query_vec, dim)
    probes = [qb]
    for h in range(1, probe_hamming + 1):
        for bits in combinations(range(LSH_BITS), h):
            flip = 0
            for b in bits:
                flip |= 1 << b
            probes.append(qb ^ flip)
    return probes


def _bucket_of(query_vec: list[float], dim: int) -> int:
    """Query-side bucket, computed with the IDENTICAL numpy path (same
    matmul summation order, same bit packing) as hyperplane_buckets_udf —
    a sequential Python sum can land on the other side of 0 for dot
    products near zero, silently disagreeing with the stored bucket."""
    planes = _hyperplanes(dim, LSH_BITS, LSH_SEED)
    q = np.asarray(query_vec, dtype=np.float64)
    if q.shape != (dim,):
        return 0  # matches the UDF's wrong-length degradation
    proj = np.asarray(planes, dtype=np.float64).T  # (dim, LSH_BITS)
    bits = (q[None, :] @ proj)[0] > 0
    weights = 1 << np.arange(LSH_BITS, dtype=np.int64)
    return int(bits @ weights)


class IVFModel:
    """Centroid set fit driver-side on a bounded sample. Exposes the two
    methods the IVF query path uses, mirroring MLlib's ``KMeansModel``
    surface so callers are unchanged."""

    def __init__(self, centers: "np.ndarray"):
        self._centers = np.ascontiguousarray(centers, dtype=np.float64)

    def clusterCenters(self) -> list["np.ndarray"]:
        return list(self._centers)


#: Row-block budget for every (rows x centers) distance matrix this
#: module materializes — fit iterations AND the assignment UDF. The cell
#: count k grows with the corpus (SemDeDup's rows/500 rule: 40k cells at
#: 20 M vectors), so an unblocked matrix is k-linear per WORKER: at
#: 10k-row Arrow batches x 40k cells x 8 B = 3.2 GB x 32 workers — the
#: measured round-11 kernel OOM kill (dmesg: global oom, java killed
#: while pandas workers held ~3.6 GB each). Blocking is the dedup
#: `_bucket_pairs` discipline: more blocks, never more memory.
_DIST_BLOCK_BYTES = 64 * 2**20  # 64 MB per in-flight distance matrix


def _dist_block_rows(k: int) -> int:
    return max(1, _DIST_BLOCK_BYTES // (8 * max(k, 1)))


def _kmeans_fit(
    sample: "np.ndarray", k: int, seed: int
) -> "np.ndarray":
    """Plain Lloyd k-means with k-means++ seeding, all in numpy on the
    driver-side sample. Deterministic for a fixed (sample, seed). An
    empty cluster is reseeded to the point farthest from its assigned
    centroid (the standard repair; keeps exactly k centers)."""
    n = len(sample)
    if n == 0:
        raise ValueError("ivf_index: empty fit sample")
    rng = np.random.RandomState(seed)
    sq = (sample**2).sum(axis=1)

    def dist2_to(centers: "np.ndarray") -> "np.ndarray":
        # (n, k) squared distances via |x|^2 - 2 x.c + |c|^2
        return np.maximum(
            sq[:, None] - 2.0 * (sample @ centers.T) + (centers**2).sum(axis=1),
            0.0,
        )

    def assign_blocked(centers: "np.ndarray"):
        # (assign, own) without ever materializing the full (n, k)
        # distance matrix: at k = rows/500 cells the unblocked form is
        # ~n*k*8 bytes per Lloyd iteration (6.4 GB at a 20k sample and
        # 40k cells — measured driver bloat in the round-11 decade).
        c_sq = (centers**2).sum(axis=1)
        assign = np.empty(n, dtype=np.int64)
        own = np.empty(n, dtype=np.float64)
        step = _dist_block_rows(len(centers))
        for s in range(0, n, step):
            e = min(n, s + step)
            d2 = np.maximum(
                sq[s:e, None] - 2.0 * (sample[s:e] @ centers.T) + c_sq, 0.0
            )
            a = d2.argmin(axis=1)
            assign[s:e] = a
            own[s:e] = d2[np.arange(e - s), a]
        return assign, own

    # k-means++: each next center drawn proportional to D^2 (deterministic
    # under the seeded RNG). With n < k the sample IS the centroid set,
    # padded by repetition so len(clusterCenters()) == k.
    first = int(rng.randint(n))
    centers = [sample[first]]
    d2 = dist2_to(np.asarray(centers))[:, 0]
    for _ in range(1, min(k, n)):
        total = d2.sum()
        if total <= 0:
            centers.append(sample[int(rng.randint(n))])
        else:
            centers.append(sample[int(rng.choice(n, p=d2 / total))])
        d2 = np.minimum(d2, dist2_to(centers[-1][None, :])[:, 0])
    while len(centers) < k:
        centers.append(centers[len(centers) % max(1, min(k, n))])
    centers = np.asarray(centers, dtype=np.float64)

    d = sample.shape[1]
    for _ in range(25):
        assign, own = assign_blocked(centers)
        # Vectorized centroid update: per-dimension weighted bincount
        # replaces a per-cluster boolean-mask mean (k mask scans per
        # iteration — measured 5x slower across PQ's m independent fits).
        counts = np.bincount(assign, minlength=k).astype(np.float64)
        sums = np.empty_like(centers)
        for j in range(d):
            sums[:, j] = np.bincount(
                assign, weights=sample[:, j], minlength=k
            )
        new = sums / np.maximum(counts, 1.0)[:, None]
        for c in np.flatnonzero(counts == 0):
            far = int(own.argmax())
            new[c] = sample[far]
            own[far] = 0.0  # two empty cells must not adopt one point
        if np.allclose(new, centers):
            break
        centers = new
    return centers


def ivf_assign_udf(centers: "np.ndarray"):
    """Arrow-batched nearest-centroid assignment: blocked (rows x k)
    distance matmuls per Arrow batch — numpy matmul for the same reason
    as hyperplane_buckets_udf (per-row distance loops in interpreted
    expressions would be ~k*dim multiply-adds per row), ROW-BLOCKED
    because k grows with the corpus (SemDeDup's rows/500 granularity):
    an unblocked batch x k matrix is 3.2 GB per worker at 10k-row Arrow
    batches and 40k cells, and 32 workers of that was the round-11
    kernel OOM at the 20 M-vector decade. NULL / wrong-length vectors
    get NULL."""
    C = np.ascontiguousarray(centers, dtype=np.float64)
    k, dim = C.shape
    c_sq = (C**2).sum(axis=1)

    @F.pandas_udf("int")
    def _assign(vs: pd.Series) -> pd.Series:
        n = len(vs)
        mat = np.zeros((n, dim), dtype=np.float64)
        valid = np.zeros(n, dtype=bool)
        for i, v in enumerate(vs):
            if v is not None and len(v) == dim:
                mat[i] = v
                valid[i] = True
        best = np.empty(n, dtype=np.float64)
        step = _dist_block_rows(k)
        for s in range(0, n, step):
            e = min(n, s + step)
            best[s:e] = (-2.0 * (mat[s:e] @ C.T) + c_sq).argmin(axis=1)
        best[~valid] = np.nan
        return pd.Series(best).astype("Int32")

    return _assign


def ivf_index(
    df: DataFrame,
    n_clusters: int = 16,
    max_fit_rows: int = 100_000,
):
    """IVF (inverted-file) index over ``embedding``: k-means partitions the
    corpus into ``n_clusters`` cells; a query probes only the cells whose
    centroids are nearest. Returns (model, indexed_df) where indexed_df carries an
    ``ivf_cluster`` column — at scale that column becomes the table's
    partition key so probes become partition pruning.

    The centroids are fit on a bounded subset (centroids converge on a
    sample; fitting the full corpus would make every k-means iteration a
    full-data pass at 100 TB). The subset is the ``max_fit_rows`` smallest
    rows by ``xxhash64(vector)`` — a deterministic uniform pseudo-random
    draw, taken WITHOUT a counting pre-pass (a ``count()`` here would be
    one extra all-data job per index build) and WITHOUT storage-order bias
    (a bare ``limit`` short-circuits on the first scanned files, and
    on-disk order is typically correlated with cluster structure —
    per-source, per-date — which would skew every centroid toward the
    prefix sources). orderBy+limit compiles to per-partition top-k plus
    one k-row merge, not a full sort.

    The Lloyd iterations run driver-side in numpy on the collected sample
    (<= max_fit_rows * dim doubles — ~50 MB at the defaults), replacing a
    distributed MLlib fit whose ~20 iteration jobs were pure scheduling
    overhead at any scale where the sample already fits one machine.
    Assignment back over the full corpus is one Arrow-batched pass.
    """
    fit_df = (
        df.select(F.col("embedding").cast("array<double>").alias("_v"))
        .where(F.col("_v").isNotNull())
        .orderBy(F.xxhash64(F.col("_v"), F.lit(42)))
        .limit(max_fit_rows)
    )
    rows = fit_df.toPandas()["_v"].tolist()
    # Wrong-length vectors (data corruption) would make the sample ragged
    # and kill np.asarray; fit on the majority dimension — assignment
    # already maps off-dimension vectors to a NULL cluster downstream.
    if rows:
        lens = [len(v) for v in rows]
        dim = Counter(lens).most_common(1)[0][0]
        rows = [v for v in rows if len(v) == dim]
    sample = np.asarray(rows, dtype=np.float64)
    centers = _kmeans_fit(sample, n_clusters, 42)
    assign = ivf_assign_udf(centers)
    indexed = df.withColumn(
        "ivf_cluster", assign(F.col("embedding").cast("array<double>"))
    )
    return IVFModel(centers), indexed


def ivf_topk(
    model,
    indexed: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 2,
    exclude_ids: list[int] | None = None,
) -> DataFrame:
    """Probe the ``n_probe`` nearest IVF cells, exact cosine of
    ``embedding`` within them.
    Scanned fraction ≈ n_probe / n_clusters.

    Center ranking is one numpy pass (k grows with the corpus under the
    rows/500 granularity rule — a per-center Python loop is k·dim
    interpreted flops per query); stable argsort keeps the former
    (distance, index) tie order exactly."""
    q = list(map(float, query_vec))
    C = np.asarray(model.clusterCenters(), dtype=np.float64)
    d2 = ((C - np.asarray(q, dtype=np.float64)) ** 2).sum(axis=1)
    probes = [int(i) for i in np.argsort(d2, kind="stable")[:n_probe]]
    subset = indexed.filter(F.col("ivf_cluster").isin(probes))
    return brute_force_topk(subset, q, k, exclude_ids)


def lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    dim: int = 64,
    probe_hamming: int = 1,
    exclude_ids: list[int] | None = None,
) -> DataFrame:
    """Approximate top-10 ``vec_id``: probe the query's bucket and
    neighbors within ``probe_hamming`` sign flips, exact ``embedding``
    cosine within the probed subset.

    Probed fraction ≈ sum_{h<=H} C(LSH_BITS,h) / 2^LSH_BITS (9/256 at
    8 bits, H=1) — the scan-cost knob. Recall rises with more probes.
    """
    probes = probe_buckets(query_vec, dim, probe_hamming)
    bucketed = with_lsh_buckets(df, dim)
    subset = bucketed.filter(F.col("lsh_bucket").isin(probes))
    return brute_force_topk(subset, query_vec, 10, exclude_ids)
